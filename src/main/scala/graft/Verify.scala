package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected registry query's result →
  * parquet, plus the whole registry's oracle_sql.json, for the driver's
  * DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val queries = Harness.selected()
    new java.io.File(outDir).mkdirs()
    queries.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.registry.map(q => q.name -> q.oracleSql)))
    spark.stop()
  }

  /** One JSON object of name → SQL. Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  def oracleJson(sqlByName: Seq[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    sqlByName.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
