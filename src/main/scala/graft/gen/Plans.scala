package graft.gen

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
