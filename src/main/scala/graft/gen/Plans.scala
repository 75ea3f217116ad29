package graft.gen

/** Dump `.explain("formatted")` for registered queries to files — the
  * optimization rounds' plan-evidence artifact (<dir>/<query>_<tag>.txt;
  * the default dir, target/plans, is a build directory git ignores).
  * Usage:
  *   SPARK_GRAFT_ONLY=a,b SPARK_GRAFT_PLAN_DIR=target/plans \
  *     SPARK_GRAFT_PLAN_TAG=before sbt "runMain graft.gen.Plans"
  * Runs in the shared [[graft.Harness]] session (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions=cpus), as Bench does, so the captured plan is the
  * benched plan.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Harness.sfDir
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "target/plans")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val spark = graft.Harness.session(graft.Harness.cpus)
    val queries = graft.Harness.selected()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    queries.foreach { q =>
      try {
        val txt = q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${q.name}_$tag.txt"), txt)
        println(s"[plans] wrote $outDir/${q.name}_$tag.txt")
      } catch {
        case t: Throwable if graft.Harness.recoverable(t) =>
          println(s"[plans] ${q.name} FAILED: ${t.getMessage}")
      }
    }
    spark.stop()
  }
}
