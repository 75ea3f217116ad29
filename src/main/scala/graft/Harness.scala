package graft

import graft.gen.RawGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** What every measurement main shares: one session, so a dumped plan, a
  * profiled query and a correctness dump all run under the configuration
  * that gets benched; one query selector; one corpus warm-up; one
  * persisted-RDD leak fence. */
object Harness {

  /** Local cores for a measurement main's session (SPARK_GRAFT_CPUS). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The corpus directory Bench, Plans and Profile run against
    * (SPARK_GRAFT_SF_DIR). */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

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
      // on local core count). Entries are weak-ref'd class handles, not
      // data.
      .config("spark.sql.codegen.cache.maxEntries", "20000")
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

  /** The registered queries to run: all of them, or the comma-separated
    * names in SPARK_GRAFT_ONLY, in registry order (local iteration; the
    * driver never sets it). */
  def selected(): Seq[Query] = select(sys.env.get("SPARK_GRAFT_ONLY"))

  /** A typo'd name, or a list that names nothing, fails loudly: either
    * would otherwise shrink (or empty) the run and print a plausible-looking
    * result that a local iteration loop would chase. */
  private[graft] def select(only: Option[String]): Seq[Query] = only match {
    case None => SparkEntry.registry
    case Some(list) =>
      val keep = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(keep.nonEmpty, s"SPARK_GRAFT_ONLY names no query: '$list'")
      val unknown = keep -- SparkEntry.byName.keySet
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names not in the registry: " +
        unknown.toSeq.sorted.mkString(", "))
      SparkEntry.registry.filter(q => keep(q.name))
  }

  /** NonFatal plus StackOverflowError: an SOE from one deep Catalyst plan
    * must not kill a whole run (the query is reported as failed instead),
    * while a genuine OOM still aborts. */
  def recoverable(t: Throwable): Boolean =
    NonFatal(t) || t.isInstanceOf[StackOverflowError]

  /** Untimed warm-up before measuring: the first Spark query in a JVM pays
    * ~10 s of Janino / JIT / parquet-reader init that has nothing to do
    * with the query being measured, so exercise codegen+shuffle+agg once;
    * then materialize the sf dir's RawGen corpus caches (MEMORY_AND_DISK)
    * so per-query numbers measure steady state, not cache build. The
    * derived wire corpora and archives are input data too. Call it after
    * selecting queries: SparkEntry's init registers the derived kinds
    * (WARC fixtures) walked last. Materialized before any fenced query,
    * these blocks survive every leak fence. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(200000).selectExpr("md5(cast(id as string)) h")
      .groupBy("h").count().count()
    def load(df: => DataFrame): Unit =
      try df.count() catch { case NonFatal(_) => () }
    load(RawGen.events(spark, sfDir))
    Seq("documents", "embeddings", "lineitem", "orders", "customer",
      "nation", "region", "part", "supplier")
      .foreach(t => load(RawGen.table(spark, sfDir, t)))
    RawGen.wireKinds.foreach(k => load(RawGen.wire(spark, sfDir, k)))
    RawGen.derivedKinds.foreach(k => load(RawGen.derived(spark, sfDir, k)))
  }

  /** Leak fence: runs `body`, then unpersists every RDD it left persisted
    * (managed operators release their own; this catches everything else),
    * so stacked MEMORY_AND_DISK blocks from one query can't evict cache or
    * inflate GC for the next ones. Blocks persisted before the call, such
    * as the warmed corpora, survive. */
  def fenced[A](spark: SparkSession)(body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = false)
    }
  }
}
