package graft.gen

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf scale-up generator (round-16 directive: one full-registry
  * validation run at sf1.0): replicate the driver's sf0.1 tables N×
  * (default 10×) with key-shifted copies, preserving referential
  * integrity and per-key densities — every foreign key shifts by the
  * same round offset as its primary, so join fan-outs, group sizes and
  * skew shapes scale the way a real 10× corpus does. Content columns
  * are salted per round (`text` gets a round suffix, embeddings a
  * round-scaled first-dimension nudge) so cross-round rows are NOT
  * byte-identical — otherwise every dedup/ANN operator would see a 10×
  * duplicate-only corpus and report artificially flat exponents.
  * Dimension tables (region, nation) copy verbatim — scale factors
  * don't grow them in TPC-H either.
  *
  * Usage: `runMain graft.gen.ScaleUp <inDir> <outDir> [factor]`.
  * Output goes under the repo (e.g. /root/repo/tmp-sf1, gitignored):
  * this is derived evidence-run input, not committed data.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))

    def read(name: String): DataFrame =
      spark.read.parquet(s"$inDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name written")
    }
    // shift unit per key domain: a round-r copy adds r·unit to every
    // occurrence of the key, primary and foreign alike (power of 10 above
    // the max key keeps shifted ids readable when debugging)
    def unit(name: String, key: String): Long = {
      val mx = read(name).agg(max(col(key))).head().getLong(0)
      var u = 1L
      while (u <= mx) u *= 10
      u
    }
    val uCust = unit("customer", "c_custkey")
    val uOrd = unit("orders", "o_orderkey")
    val uPart = unit("part", "p_partkey")
    val uSupp = unit("supplier", "s_suppkey")
    val uDoc = unit("documents", "doc_id")
    val uVec = unit("embeddings", "vec_id")
    val uEvt = unit("events", "event_id")
    val uUser = unit("events", "user_id")

    // replicate: one row per (original row, round r in 0..factor-1);
    // round 0 is the original byte-for-byte
    def rounds(df: DataFrame): DataFrame =
      df.crossJoin(
        spark.range(factor.toLong).select(col("id").as("_r")))
    def shifted(df: DataFrame, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(rounds(df)) { case (acc, (c, u)) =>
        acc.withColumn(c, col(c) + col("_r") * u)
      }.drop("_r")

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(shifted(read("customer"), "c_custkey" -> uCust), "customer")
    write(shifted(read("supplier"), "s_suppkey" -> uSupp), "supplier")
    write(shifted(read("part"), "p_partkey" -> uPart), "part")
    write(shifted(read("orders"),
      "o_orderkey" -> uOrd, "o_custkey" -> uCust), "orders")
    write(shifted(read("lineitem"),
      "l_orderkey" -> uOrd, "l_partkey" -> uPart,
      "l_suppkey" -> uSupp), "lineitem")
    write(shifted(read("events"),
      "event_id" -> uEvt, "user_id" -> uUser), "events")

    // documents: shift doc_id, salt text per round (r>0) so cross-round
    // copies are near-dup-shaped, not exact dups; n_chars tracks the salt
    val docs = shifted(read("documents"), "doc_id" -> uDoc)
      .withColumn("_r", expr(s"(doc_id div $uDoc) % $factor"))
    write(docs
      .withColumn("text",
        when(col("_r") > 0 && col("text").isNotNull,
          concat(col("text"), lit(" r"), col("_r"))).otherwise(col("text")))
      .withColumn("n_chars",
        when(col("_r") > 0 && col("text").isNotNull,
          col("n_chars") + length(concat(lit(" r"), col("_r"))))
          .otherwise(col("n_chars")))
      .drop("_r"), "documents")

    // embeddings: shift vec_id, nudge dim 0 by r·1e-3 (norms stay > 0,
    // neighborhoods stay realistic, exact-duplicate vectors don't 10×)
    val emb = shifted(read("embeddings"), "vec_id" -> uVec)
      .withColumn("_r", expr(s"(vec_id div $uVec) % $factor"))
    write(emb
      .withColumn("embedding", transform(col("embedding"), (x, i) =>
        when(i === 0, (x + col("_r") * lit(0.001)).cast("float"))
          .otherwise(x)))
      .drop("_r"), "embeddings")

    println(s"[scaleup] done: $inDir -> $outDir x$factor")
    spark.stop()
  }
}
