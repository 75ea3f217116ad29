package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

/** Runs one workload of the pipeline benchmark and prints its result as
  * one JSON line. See README.md for the workloads, metrics and sizes.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  */
object Main {

  // Input sizes. Every timed drain pass stages the same backlog; see
  // README.md for how they were chosen.
  val VehiclePerSource = 10000
  val VehicleFilesPerSource = 10
  val LegacyPerKind = 6000
  val LegacyFilesPerKind = 10
  val LiveMessagesPerFile = 1000
  /** A 1,000-message file took 0.4-1.9 s to route and publish, with the
    * host's load; at one file a second a slow trigger took two files. */
  val LiveIntervalMs = 1500
  val LiveWarmFiles = 5
  /** Timed live files per run, at least. */
  val LiveMinFiles = 16
  /** Timed drain passes per run, whatever `--seconds` says, so the metric
    * covers the same passes on every commit. */
  val DrainPasses = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("out")).toAbsolutePath)
  }

  private def session(o: Opts): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
      // keep every trigger's progress for the latency and trace figures
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  private def result(correct: Boolean, attempted: Long, failed: Long,
                     metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val c0 = Cpu.ms
    val spans = new Spans(o.trace)
    val work = o.out.resolve("work")
    SpoolFiles.deleteTree(work)
    Files.createDirectories(work)
    val spark = spans("session")(session(o))
    try run(o, spark, spans, work, c0)
    finally spark.stop()
  }

  private def run(o: Opts, spark: SparkSession, spans: Spans, work: Path, c0: Double): Unit = {
    val totals = new TaskTotals
    val codegen = if (o.trace) {
      spark.sparkContext.addSparkListener(totals)
      Some(CodegenCounter.install())
    } else None
    val prom = if (o.trace) Some(graft.obs.Metrics.install(spark)) else None
    val liveFiles = math.max(LiveMinFiles, o.seconds * 1000 / LiveIntervalMs)

    def vehicle() = new VehicleDrain(spark, work.resolve("vehicle"), spans, o.seed,
      VehiclePerSource, VehicleFilesPerSource)
    def live() = new TenantLive(spark, work.resolve("live"), spans, o.seed,
      LiveMessagesPerFile, LiveIntervalMs, LiveWarmFiles, liveFiles)
    val w: Workload = o.workload match {
      case "vehicle_drain" => vehicle()
      case "tenant_live" => live()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spans("setup")(w.prepare())

    if (!o.trace) {
      // set-up is reported in CPU seconds, like the per-record cost: wall
      // time follows the CPU other tenants of the host take (README.md)
      val setupS = (Cpu.ms - c0) / 1000
      val passes = w match {
        case _: VehicleDrain => Seq.fill(DrainPasses)(w.run())
        case _ => Seq(w.run())
      }
      val failed = passes.map(_.failed).sum
      val attempted = passes.map(_.records.toLong).sum
      val rates = passes.map(p => p.records / p.seconds).toSeq
      val lat = passes.flatMap(_.latenciesMs).toSeq
      val cpu = passes.map(p => p.cpuMs / p.records).toSeq
      // over all timed passes: the JIT work for each pass's freshly
      // generated classes lands in one pass or the next at random
      val cpuPerRecord = passes.map(_.cpuMs).sum / attempted
      // wall-clock figures are printed, not reported: on a shared host they
      // follow the CPU other tenants take (see README.md)
      val wall = f"rows/s ${rates.map(r => f"$r%.1f").mkString(" ")}; latency p50 " +
        f"${Stats.percentile(lat, 50)}%.1f ms; cpu ms/record ${cpu.map(c => f"$c%.4f").mkString(" ")}"
      w match {
        case _: VehicleDrain =>
          println(s"info: ${passes.size} passes of ${passes.head.records} records; $wall; " +
            "micro-batches per pass " + passes.map(_.progress.size).mkString(" "))
        case l: TenantLive =>
          // p90 is not a metric: the messages of one file share its
          // latency, so the samples are the files, too few for a tail
          println(s"info: $wall; p90 " + f"${Stats.percentile(lat, 90)}%.1f ms; " +
            s"${lat.size} latency samples from $liveFiles files in " +
            s"${passes.map(_.progress.size).sum} micro-batches taking " +
            passes.flatMap(_.progress).map(_.durationMs.get("triggerExecution")).mkString(" ") +
            " ms; generator late by median " +
            f"${Stats.median(l.lateness)}%.1f ms, max ${l.lateness.max}%.1f ms")
      }
      println(result(failed == 0, attempted, failed,
        Seq(("cpu_ms_per_record", cpuPerRecord, "ms"), ("setup_s", setupS, "s"))))
    } else {
      val layers = spans("layers")(new Layers(spark, work.resolve("layers"), spans, totals,
        w match { case v: VehicleDrain => v; case _ => vehicle() },
        new LegacyInputs(spans, o.seed, LegacyPerKind, LegacyFilesPerKind),
        w match { case l: TenantLive => l; case _ => live() }).measure())
      val cg0 = codegen.get.snapshot
      val tt0 = totals.snapshot
      val pass = spans("traced_pass")(w.run())
      totals.awaitJobsEnded(totals.jobs.get)
      val cg = codegen.get.snapshot.zip(cg0).map { case (a, b) => a - b }
      val tt = totals.snapshot.zip(tt0).map { case (a, b) => (a - b).toDouble }
      val traced = pass.progress
      def dur(k: String): Double =
        traced.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / traced.size
      println(f"info: traced pass cpu ms/record ${pass.cpuMs / pass.records}%.4f, " +
        f"rows/s ${pass.records / pass.seconds}%.1f, latency p50 " +
        f"${Stats.percentile(pass.latenciesMs, 50)}%.1f ms, p90 " +
        f"${Stats.percentile(pass.latenciesMs, 90)}%.1f ms; ${traced.size} micro-batches")
      val perLayer = layers.toSeq.map { case (k, v) => (k, v, unit(k)) } ++ Seq(
        ("codegen.compiles", cg(0), "count"),
        ("codegen.compile_ms", cg(1), "ms"),
        ("codegen.fallbacks", cg(2), "count"),
        ("stream.batches", traced.size.toDouble, "count"),
        ("stream.input_rows", traced.map(_.numInputRows.toDouble).sum, "rows"),
        ("stream.trigger_ms", dur("triggerExecution"), "ms"),
        ("stream.latest_offset_ms", dur("latestOffset"), "ms"),
        ("stream.query_planning_ms", dur("queryPlanning"), "ms"),
        ("stream.add_batch_ms", dur("addBatch"), "ms"),
        ("stream.wal_commit_ms", dur("walCommit"), "ms"),
        ("stream.commit_offsets_ms", dur("commitOffsets"), "ms"),
        ("pipeline.reads_per_record",
          traced.map(_.numInputRows.toDouble).sum / pass.records, "ratio"),
        ("spark.jobs", tt(0), "count"),
        ("spark.tasks", tt(1), "count"),
        ("spark.task_cpu_ms", tt(2) / 1e6, "ms"),
        ("spark.gc_ms", tt(3), "ms"))
      Files.write(o.out.resolve(s"${o.workload}.spans.json"), spans.json.getBytes(UTF_8))
      prom.foreach { case (q, s) =>
        graft.obs.Metrics.writeTextfile(o.out.resolve(s"${o.workload}.prom").toString, q, s) }
      println(result(pass.failed == 0, pass.records, pass.failed, perLayer))
    }
  }

  private def unit(name: String): String =
    if (name.contains("_ms")) "ms"
    else if (name.endsWith("bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_rows") || name.endsWith("rows_per_file")) "rows"
    else "count"
}
