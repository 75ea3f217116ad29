package pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.pipeline.Pipeline
import graft.route.{DeadLetter, EventTypeSplitter, Filterer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer self times for the traced run. Each layer is called through
  * its public functions over input that is already cached, so a figure
  * holds that layer's work and not the layers before it. Every timing is
  * the median of three runs after one warm run. The legacy splitter's
  * output is checked against the generator's expectations. */
final class Layers(spark: SparkSession, dir: Path, spans: Spans, totals: TaskTotals,
                   vehicle: VehicleDrain, legacy: LegacyInputs, live: TenantLive) {
  import spark.implicits._

  private val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
  private def timed(name: String)(f: => Unit): Double = spans(name) {
    f
    Stats.median((1 to 3).map(_ => ms(f)))
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def cached(df: DataFrame): DataFrame = { val c = df.persist(); c.count(); c }
  private def lines(xs: Seq[String]): DataFrame = cached(xs.toDF("value"))

  private def tree(p: Path): Seq[Path] =
    Files.walk(p).iterator().asScala.toSeq.filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_") &&
      !f.toString.contains("/_"))

  def measure(): Map[String, Double] = {
    val spool = dir.resolve("spool")
    vehicle.stage(dir, Int.MaxValue)
    legacy.stage(dir)

    // graft.sources: the raw spools both drains read
    val scans = Pipeline.vehicleBindings.map(_.source.batch(spark, spool.toString)) ++
      legacy.recs.indices.map(k => spark.read.format("graft-spool").load(s"$spool/legacy-$k"))
    out("sources.scan_ms") = timed("sources.scan")(scans.foreach(noop))
    val staged = tree(spool)
    out("sources.files") = staged.size
    out("sources.bytes") = staged.map(Files.size(_)).sum.toDouble

    // graft.translate and CmfJson
    var validRows = 0L
    var quarantined = 0L
    val quarantines = Pipeline.vehicleBindings.zip(vehicle.recs).map { case (b, rs) =>
      val k = b.functionName.stripSuffix("-translator")
      val t = b.translate(lines(rs.map(_.line)), "acme")
      val valid = cached(t.valid.select("cmf_json"))
      translate(k, t.valid, "cmf", "cmf_json")
      validRows += valid.count()
      val q = cached(t.quarantine)
      quarantined += q.count()
      (b.functionName, q, valid)
    }
    val legacyRaw = cached(legacy.recs.flatten.map(r => (r.payload, r.kind)).toDF("value", "kind"))
    val (lt, legacyRouted) = Pipeline.legacyEvents(legacyRaw)
    val legacyFailed = legacy.check(legacyRouted.routed.select("topic", "value").as[(String, String)].collect())
    require(legacyFailed == 0, s"legacy events: $legacyFailed records failed their output check")
    translate("legacy", lt.valid.withColumn("envelope",
      struct("source", "eventType", "timestamp", "eventId")), "envelope", "event_json")
    val events = cached(lt.valid.select(col("event_json").as("value")))
    validRows += events.count()
    quarantined += lt.quarantine.count()
    out("translate.valid_rows") = validRows.toDouble
    out("translate.quarantined_rows") = quarantined.toDouble

    // graft.route
    val cmfTopic = cached(quarantines.map(_._3.select(col("cmf_json").as("value"))).reduce(_ union _))
    val tenantTopic = lines(live.timedMessages.map(_.line))
    def route(r: graft.route.Routed): Unit = { noop(r.routed.select("topic", "value")); noop(r.dropped) }
    out("route.filterer_ms.cmf") = timed("route.filterer.cmf")(route(Pipeline.routeCmf(cmfTopic)))
    out("route.filterer_ms.tenant") = timed("route.filterer.tenant")(route(Pipeline.routeCmf(tenantTopic)))
    out("route.splitter_ms") = timed("route.splitter")(route(EventTypeSplitter.route(events)))
    val routedSets = Seq(Pipeline.routeCmf(cmfTopic), Pipeline.routeCmf(tenantTopic),
      EventTypeSplitter.route(events))
    out("route.routed_rows") = routedSets.map(_.routed.count()).sum.toDouble
    out("route.dropped_rows") = routedSets.map(_.dropped.count()).sum.toDouble

    // the graft-spool sink, one tenant_live file per write (one task, one
    // epoch), into a bus that grows as the live stream's does
    val perFile = live.timedFiles.take(10).map(f =>
      cached(Filterer.route(f.map(_.line).toDF("value").coalesce(1)).routed))
    Filterer.fanOutTopics(perFile.head, dir.resolve("bus-warm").toString)
    val bus = dir.resolve("bus")
    val writes = spans("sink.spool")(perFile.map { df =>
      val ended = totals.jobsEnded.get
      val t0 = System.currentTimeMillis()
      Filterer.fanOutTopics(df, bus.toString)
      val t1 = System.currentTimeMillis()
      totals.awaitJobsEnded(ended + 1)
      ((t1 - t0).toDouble, (totals.lastJobEnd - totals.lastJobStart).toDouble,
        (t1 - totals.lastJobEnd).toDouble)
    })
    out("sink.spool_write_ms") = Stats.median(writes.map(_._1))
    out("sink.spool_job_ms") = Stats.median(writes.map(_._2))
    out("sink.spool_commit_ms") = Stats.median(writes.map(_._3))
    val busFiles = tree(bus)
    out("sink.files_written") = busFiles.size
    out("sink.rows_per_file") = perFile.map(_.count()).sum.toDouble / busFiles.size
    out("sink.bytes_written") = busFiles.map(Files.size(_)).sum.toDouble

    // DeadLetter: every translator's quarantine plus the Filterer's drops
    val drops = cached(Pipeline.routeCmf(cmfTopic).dropped)
    var rep = 0
    out("sink.deadletter_write_ms") = timed("sink.deadletter") {
      val dl = dir.resolve(s"dead-letter-$rep").toString
      rep += 1
      quarantines.foreach { case (tag, q, _) => DeadLetter.write(q, tag, dl) }
      DeadLetter.write(drops, "filterer", dl)
    }
    out("sink.deadletter_files") = tree(dir.resolve("dead-letter-0")).count(_.toString.endsWith(".parquet"))
    spark.catalog.clearCache()
    out.toMap
  }

  /** Each figure produces its column from the cached raw input: validate
    * the valid-row filter with no column projected, build the `cmf` struct
    * (or the legacy envelope fields), serialize the wire string. Build and
    * serialize include the filter; their difference from validate is not
    * reported, because the three plans differ and it can read negative.
    * The three are timed in turn, five rounds after a warm one, so none
    * gains from running later. */
  private def translate(k: String, valid: DataFrame, built: String, wire: String): Unit =
    spans(s"translate.$k") {
      val runs = Seq(valid.select(), valid.select(built), valid.select(wire))
      runs.foreach(noop)
      val rounds = (1 to 5).map(_ => runs.map(df => ms(noop(df))))
      Seq("validate", "build", "serialize").zipWithIndex.foreach { case (m, i) =>
        out(s"translate.${m}_ms.$k") = Stats.median(rounds.map(_(i)))
      }
    }
}
