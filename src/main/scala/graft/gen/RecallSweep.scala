package graft.gen

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** IVF-PQ parameter sweep: recall@5 vs query cost across (m, k, nprobe) —
  * the measured curve behind the production defaults (DESIGN.md carries
  * the table). Ground truth is brute cosine; cost is wall-clock of the
  * ADC chain alone (ground truth excluded), median of 3.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.gen.RecallSweep"
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val emb = RawGen.table(spark, sfDir, "embeddings").cache()
    emb.count()
    val queries = emb.filter(col("vec_id") < 8)
    val brute = Similarity.cosineTopK(emb, queries, 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // round-13 extension: the round-12 sweep showed subspace count is the
    // recall lever — push m to 64 (subLen 1: per-dimension codebooks) and
    // test probe width at the new m values
    // config tuples are (m, k, nprobe, shortlist): shortlist = 0 sweeps
    // the raw ADC chain; shortlist > 0 sweeps the RERANK path (exact
    // re-score of the ADC top-`shortlist`), whose recall@5 is the
    // shortlist's coverage of the true top 5 — the round-13 lever
    // round-14 extension: 5/6-field tuples sweep the TRAINED-quantizer
    // chain (m,k,nprobe,shortlist,numCentroids[,assignTop]) — the
    // recall-vs-list-coverage curve behind the knn_ivf_pq_recall
    // re-point; 3/4-field tuples keep sweeping the md5 ±1 quantizer.
    val configs = sys.env.get("SPARK_GRAFT_SWEEP_ONLY")
      .map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { t =>
        t.split(",").map(_.trim.toInt) match {
          case Array(m, k, np) => (m, k, np, 0, 0, 0)
          case Array(m, k, np, sl) => (m, k, np, sl, 0, 0)
          case Array(m, k, np, sl, nc) => (m, k, np, sl, nc, 2)
          case Array(m, k, np, sl, nc, at) => (m, k, np, sl, nc, at)
          case other => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SWEEP_ONLY tuple '$t' has ${other.length} fields; " +
              "expected m,k,nprobe[,shortlist[,numCentroids[,assignTop]]]")
        }
      })
      .getOrElse(Seq(
        (4, 16, 8, 0, 0, 0), (4, 32, 8, 0, 0, 0), (8, 16, 8, 0, 0, 0),
        (8, 32, 8, 0, 0, 0), (8, 16, 16, 0, 0, 0), (8, 32, 16, 0, 0, 0),
        (16, 16, 8, 0, 0, 0), (16, 32, 8, 0, 0, 0), (16, 32, 16, 0, 0, 0),
        (32, 16, 8, 0, 0, 0), (32, 32, 8, 0, 0, 0), (32, 32, 16, 0, 0, 0),
        (64, 16, 8, 0, 0, 0), (64, 32, 8, 0, 0, 0), (64, 32, 16, 0, 0, 0),
        // trained coverage curve: nprobe/64 = 12.5%..50%, top-1 vs top-2
        (32, 32, 8, 40, 64, 1), (32, 32, 8, 40, 64, 2),
        (32, 32, 16, 40, 64, 1), (32, 32, 16, 40, 64, 2),
        (32, 32, 24, 40, 64, 2), (32, 32, 32, 40, 64, 2)))
    println("m,k,nprobe,shortlist,numCentroids,assignTop,recall_at_5,sec_median3")
    configs.foreach { case (m, k, np, sl, nc, at) =>
      def run(): (Double, Double) = {
        val t0 = System.nanoTime()
        val frame =
          if (nc > 0) Similarity.ivfPqRerankTopKTrained(emb, queries, m = m,
            k = k, topK = 5, dim = 64, numCentroids = nc, nprobe = np,
            shortlist = sl, assignTop = at)
          else if (sl > 0) Similarity.ivfPqRerankTopK(emb, queries, m = m, k = k,
            topK = 5, dim = 64, numCentroids = 16, nprobe = np, shortlist = sl)
          else Similarity.ivfPqTopK(emb, queries, m = m, k = k,
            topK = 5, dim = 64, numCentroids = 16, nprobe = np)
        val got = frame
          .select(col("query_id"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = if (brute.isEmpty) 0.0
          else got.intersect(brute).size.toDouble / brute.size
        (recall, sec)
      }
      val rs = (1 to 3).map(_ => run())
      val rec = rs.head._1
      val sec = rs.map(_._2).sorted.apply(1)
      println(f"$m,$k,$np,$sl,$nc,$at,$rec%.4f,$sec%.2f")
    }
    spark.stop()
  }
}
