package graft

import org.apache.spark.sql.SparkSession

/** The one session the measurement mains (Bench, Verify, Profile, Plans)
  * share, so a dumped plan, a profiled query and a correctness dump all run
  * under the configuration that gets benched. */
object Harness {

  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the driver's events.parquet stores ts as TIMESTAMP(NANOS), which
      // Spark 4 rejects unless read as LongType nanos (RawGen.events then
      // normalizes to µs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Round 20 (guide §1.2 step 3, measured first): the Janino
      // generated-class cache defaults to 100 entries — a 185-query
      // registry (and single queries with 200+ codegen units) thrash it
      // completely, so every timed sample re-compiles and re-JITs code
      // the warm pass already built (measured: 1822 → 754 compiles for
      // 15 query runs at 20k entries; scale-independent — any driver
      // running many queries benefits identically, nothing here depends
      // on local core count). Parameterized with a production-sane
      // default; entries are weak-ref'd class handles, not data.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "20000"))
      // Codegen class names embed a per-query stage id by default, which
      // keys otherwise-identical generated sources to their query —
      // disabling the debug aid lets structurally-identical stages from
      // different queries share one compiled class (same knob production
      // multi-query drivers use; execution semantics unchanged).
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Round 21 (guide §2.2): let AQE apply its byte-derived partition
      // coalescing to CACHED plans too. By default a persist()'d
      // intermediate pins its output at spark.sql.shuffle.partitions, so
      // every downstream stage over a KB-sized cached frame pays a
      // full task wave per scan (the 32-core bench ran SLOWER than the
      // 8-core one at sf0.1 because of exactly these fixed-width waves);
      // with the flag on, the same bytes/advisory-size rule AQE already
      // uses for live exchanges sizes cached outputs as well.
      // Scale-independent: at 100 TB the coalescing keeps partitions at
      // the advisory byte size regardless of core count.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
