package graft.gen

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for registered queries to files — the
  * optimization rounds' plan-evidence artifact (plans/rNN/<query>_<tag>.txt).
  * Usage:
  *   SPARK_GRAFT_ONLY=a,b SPARK_GRAFT_PLAN_DIR=plans/r20 \
  *     SPARK_GRAFT_PLAN_TAG=before sbt "runMain graft.gen.Plans"
  * Runs in the shared [[graft.Harness]] session (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions=cpus), as Bench does, so the captured plan is the
  * benched plan.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r20")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val spark = graft.Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val registry = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .map(keep => graft.SparkEntry.queries.filter { case (n, _) => keep(n) })
      .getOrElse(graft.SparkEntry.queries)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    registry.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), txt)
        println(s"[plans] wrote $outDir/${name}_$tag.txt")
      } catch {
        case t: Throwable if NonFatal(t) || t.isInstanceOf[StackOverflowError] =>
          println(s"[plans] $name FAILED: ${t.getMessage}")
      }
    }
    spark.stop()
  }
}
