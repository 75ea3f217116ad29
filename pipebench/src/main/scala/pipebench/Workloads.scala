package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** What one timed operation (a drain pass or a live stream) did. `seconds`
  * is the time the engine spent on `records`: a drain's wall time from
  * query start until every query has processed the backlog, or a live
  * stream's summed trigger time. `latenciesMs` holds equally weighted
  * record latencies: one per drain pass (every record of the pass becomes
  * visible when its one micro-batch commits), one per routable live
  * message. */
final case class Pass(records: Int, failed: Int, seconds: Double,
                      latenciesMs: Seq[Double],
                      progress: Seq[StreamingQueryProgress], cpuMs: Double)

object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process, all threads, in ms. */
  def ms: Double = os.getProcessCpuTime / 1e6
}

/** A workload: `prepare` generates and stages its inputs and runs the
  * untimed warm operation; `run` performs one timed operation and checks
  * its outputs. */
trait Workload {
  def prepare(): Unit
  def run(): Pass
}

/** File helpers for staging spools and reading a bus back. */
object SpoolFiles {
  def write(path: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Every message on a graft-spool bus, read straight from its files:
    * (topic, line). Topic directories are percent-encoded topic names. */
  def busMessages(root: Path): Seq[(String, String)] =
    if (!Files.isDirectory(root)) Nil
    else Files.list(root).iterator().asScala.toSeq
      .filter(d => Files.isDirectory(d) && !hidden(d))
      .flatMap { d =>
        val topic = decodeTopic(d.getFileName.toString)
        Files.list(d).iterator().asScala.toSeq.filter(f => Files.isRegularFile(f) && !hidden(f))
          .flatMap(f => Files.readAllLines(f, UTF_8).asScala.map(topic -> _))
      }

  private def hidden(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }

  private def decodeTopic(dir: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < dir.length) {
      if (dir.charAt(i) == '%') { out.write(Integer.parseInt(dir.substring(i + 1, i + 3), 16)); i += 3 }
      else { out.write(dir.charAt(i)); i += 1 }
    }
    new String(out.toByteArray, UTF_8)
  }
}

/** Counts failed records: an expected record fails unless it was seen
  * exactly once, in the right place, unaltered; an output that matches no
  * input at all counts as one more failure. */
final class Tally[K] {
  private val seen = mutable.HashMap.empty[K, Int]
  private val bad = mutable.HashSet.empty[K]
  var unknown = 0
  def ok(k: K): Unit = seen(k) = seen.getOrElse(k, 0) + 1
  def wrong(k: K): Unit = bad += k
  def failed(expected: Iterable[K], forbidden: Iterable[K]): Int =
    expected.count(k => seen.getOrElse(k, 0) != 1 || bad(k)) +
      forbidden.count(k => seen.contains(k) || bad(k)) + unknown
}

/** E1/E2 as deployed: `Pipeline.runVehicleTopology` over a staged backlog
  * of Geotab, CalAmp and Ford raw spools. A pass stages the whole backlog,
  * starts the queries, times until every query has processed all available
  * input, stops, checks and deletes. Each pass uses fresh spool, bus and
  * checkpoint directories, so each is one micro-batch per query. The warm
  * pass runs the same topology over the first file of every spool. */
final class VehicleDrain(spark: SparkSession, base: Path, spans: Spans, seed: Long,
                         perSource: Int, filesPerSource: Int) extends Workload {
  val recs: Seq[Seq[VehicleRec]] = spans("generate")(Inputs.vehicle(seed, perSource))
  private var passes = 0

  /** Writes the first `files` files of every spool; returns their records. */
  def stage(dir: Path, files: Int): Seq[VehicleRec] =
    Inputs.vehicleSources.zip(recs).flatMap { case (s, rs) =>
      Inputs.chunk(rs, filesPerSource).take(files).zipWithIndex.flatMap { case (chunk, f) =>
        SpoolFiles.write(dir.resolve("spool").resolve(s.topicDir).resolve(f"part-$f%05d.txt"),
          chunk.map(_.line))
        chunk
      }
    }

  private def pass(files: Int): Pass = {
    val dir = base.resolve(f"pass-$passes%03d")
    passes += 1
    val staged = spans("stage")(stage(dir, files))
    System.gc()
    val c0 = Cpu.ms
    val t0 = System.nanoTime()
    val qs = spans("start_queries") {
      val (publish, deadLetter) = Pipeline.runVehicleTopology(spark, s"$dir/spool",
        s"$dir/bus", s"$dir/dead-letter", s"$dir/checkpoint")
      Seq(publish, deadLetter)
    }
    val (secs, cpu) = try {
      spans("drain")(qs.foreach(_.processAllAvailable()))
      ((System.nanoTime() - t0) / 1e9, Cpu.ms - c0)
    } finally spans("stop_queries")(qs.foreach(_.stop()))
    val progress = qs.flatMap(_.recentProgress.filter(_.numInputRows > 0))
    val failed = spans("check")(check(dir, staged))
    SpoolFiles.deleteTree(dir)
    Pass(staged.size, failed, secs, Seq(secs * 1000), progress, cpu)
  }

  def run(): Pass = pass(Int.MaxValue)

  def prepare(): Unit = {
    val warm = spans("warm_pass")(pass(1))
    require(warm.failed == 0, s"warm pass: ${warm.failed} records failed their output check")
  }

  /** Failed records among `staged`, judged from the pass's outputs. */
  private def check(dir: Path, staged: Seq[VehicleRec]): Int = {
    val poison = staged.filter(_.poison).map(r => r.line -> r.tag).toMap
    val valid = staged.filterNot(_.poison).map(r => r.deviceId -> r).toMap
    val t = new Tally[String]
    val rows = spark.read.parquet(s"$dir/dead-letter").select(
      col("source"), when(col("source") =!= "filterer", col("value")),
      get_json_object(col("value"), "$.deviceId"),
      get_json_object(col("value"), "$.vehicleId"),
      get_json_object(col("value"), "$.epochSource"),
      get_json_object(col("value"), "$.sourceType")).collect()
    rows.foreach { r =>
      val source = r.getString(0)
      if (source == "filterer") valid.get(r.getString(2)) match {
        case Some(v) if v.vehicleId == r.getString(3) && v.epochSource.toString == r.getString(4) &&
                        v.sourceType == r.getString(5) => t.ok(v.deviceId)
        case Some(v) => t.wrong(v.deviceId)
        case None => t.unknown += 1
      } else poison.get(r.getString(1)) match {
        case Some(tag) if tag == source => t.ok(r.getString(1))
        case Some(_) => t.wrong(r.getString(1))
        case None => t.unknown += 1
      }
    }
    // nothing is routable, so the bus must stay empty
    t.unknown += SpoolFiles.busMessages(dir.resolve("bus")).size
    t.failed(valid.keys ++ poison.keys, Nil)
  }
}

/** E3 inputs for the traced run's layer timings: five legacy source
  * spools, each tagged with its kind, and the check of what
  * `Pipeline.legacyEvents` routes from them. */
final class LegacyInputs(spans: Spans, seed: Long, perKind: Int, filesPerKind: Int) {
  val recs: Seq[Seq[LegacyRec]] = spans("generate")(Inputs.legacy(seed, perKind))
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def stage(dir: Path): Unit = recs.zipWithIndex.foreach { case (rs, k) =>
    Inputs.chunk(rs, filesPerKind).zipWithIndex.foreach { case (chunk, f) =>
      SpoolFiles.write(dir.resolve("spool").resolve(s"legacy-$k").resolve(f"part-$f%05d.txt"),
        chunk.map(_.payload))
    }
  }

  /** Failed records among all payloads, judged from the splitter's routed
    * (topic, value) rows. */
  def check(routed: Seq[(String, String)]): Int = {
    val all = recs.flatten
    val byId = all.map(r => r.eventId -> r).toMap
    val t = new Tally[String]
    routed.foreach { case (topic, line) =>
      val env = scala.util.Try(mapper.readTree(line)).toOption
      env.flatMap(e => Option(e.get("eventId"))).flatMap(id => byId.get(id.asText)) match {
        case Some(r) =>
          val (source, eventType, _) = Inputs.legacyKinds(r.kind)
          val e = env.get
          if (topic == r.topic && e.get("source").asText == source &&
              e.get("eventType").asText == eventType &&
              line.endsWith(",\"data\":" + r.payload + "}")) t.ok(r.eventId)
          else t.wrong(r.eventId)
        case None => t.unknown += 1
      }
    }
    t.failed(all.filterNot(_.poison).map(_.eventId), all.filter(_.poison).map(_.eventId))
  }
}

/** Open loop into the publish tail: one CMF-topic file is due every
  * `intervalMs`; `Pipeline.routeCmf` fans each out to the per-tenant
  * graft-spool bus. A message's latency runs from its file's due time to
  * the end of the micro-batch whose sink commit made it visible. */
final class TenantLive(spark: SparkSession, base: Path, spans: Spans, seed: Long,
                       perFile: Int, intervalMs: Int, warmFiles: Int, timedCount: Int)
    extends Workload {
  private val files = spans("generate")(Inputs.cmf(seed, warmFiles + timedCount, perFile))
  val timedFiles: Seq[Seq[CmfMsg]] = files.drop(warmFiles)
  def timedMessages: Seq[CmfMsg] = timedFiles.flatten
  private var streams = 0
  /** Generator lateness of the last stream, ms per file. */
  var lateness: Seq[Double] = Nil

  private def stream(batch: Seq[Seq[CmfMsg]]): Pass = {
    val dir = base.resolve(f"stream-$streams%03d")
    streams += 1
    val cmfDir = dir.resolve("cmf")
    Files.createDirectories(cmfDir)
    val q = spans("start_queries")(Pipeline.routeCmf(
      spark.readStream.format("graft-spool").load(cmfDir.toString)).routed
      .select("topic", "value").writeStream.format("graft-spool")
      .option("topics", "true").option("path", s"$dir/bus")
      .option("checkpointLocation", s"$dir/checkpoint").start())
    var cpu = 0.0
    val due = new Array[Long](batch.size)
    val written = new Array[Long](batch.size)
    try {
      q.processAllAvailable()
      System.gc()
      val t0 = System.currentTimeMillis() + 200
      // a single generator thread on a fixed schedule: a slow trigger
      // delays later files' visibility, never their due time
      val gen = new Thread(() => batch.zipWithIndex.foreach { case (msgs, i) =>
        due(i) = t0 + i.toLong * intervalMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val tmp = cmfDir.resolve(f".tmp-$i%06d")
        Files.write(tmp, msgs.map(_.line).mkString("", "\n", "\n").getBytes(UTF_8))
        Files.move(tmp, cmfDir.resolve(f"part-$i%06d"), StandardCopyOption.ATOMIC_MOVE)
        written(i) = System.currentTimeMillis()
      }, "pipebench-generator")
      val c0 = Cpu.ms
      spans("stream")({ gen.start(); gen.join(); q.processAllAvailable() })
      cpu = Cpu.ms - c0
    } finally spans("stop_queries")(q.stop())
    lateness = due.indices.map(i => (written(i) - due(i)).toDouble)
    val progress = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    // file i became visible at the end of the first batch whose end
    // offset (the spool's filename watermark) reaches its name
    val ends = progress.map(p => (p.sources.head.endOffset,
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")))
    val latencies = batch.indices.flatMap { i =>
      val name = f"part-$i%06d"
      val visible = ends.find(_._1 >= name).map(_._2).getOrElse(Long.MaxValue)
      Seq.fill(batch(i).count(_.topic != null))((visible - due(i)).toDouble)
    }
    val failed = spans("check")(check(dir, batch.flatten))
    SpoolFiles.deleteTree(dir)
    val busy = progress.map(_.durationMs.get("triggerExecution").toDouble).sum / 1000
    Pass(batch.map(_.size).sum, failed, busy, latencies, progress, cpu)
  }

  private def check(dir: Path, msgs: Seq[CmfMsg]): Int = {
    val byLine = msgs.map(m => m.line -> m).toMap
    val t = new Tally[String]
    SpoolFiles.busMessages(dir.resolve("bus")).foreach { case (topic, line) =>
      byLine.get(line) match {
        case Some(m) if m.topic == topic => t.ok(line)
        case Some(_) => t.wrong(line)
        case None => t.unknown += 1
      }
    }
    t.failed(msgs.filter(_.topic != null).map(_.line), msgs.filter(_.topic == null).map(_.line))
  }

  def prepare(): Unit = {
    val warm = spans("warm_stream")(stream(files.take(warmFiles)))
    require(warm.failed == 0, s"warm stream: ${warm.failed} messages failed their output check")
  }

  def run(): Pass = stream(timedFiles)
}
