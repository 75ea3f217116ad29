package graft.pipeline

import graft.route.{EventTypeSplitter, Filterer, Routed}
import graft.sources.{SourceDef, Sources}
import graft.translate.{LegacyTranslators, Translated, VehicleTranslators}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The deployment/pipeline.yaml:41–68 dataflow as code: each translator
  * function is bound to the source topic it consumes, all translators feed
  * the shared CMF topic, and the Filterer fans the CMF topic out by tenant.
  *
  *  - E1 (SURVEY.md §3): Kinesis → GeotabTranslator → CMF → Filterer
  *  - E2: HTTP → FordTranslator → CMF → Filterer (Kafka → CalAmp same shape)
  *  - E3: Kafka → legacy translators → common-events → EventTypeSplitter
  *
  * Bindings are data, so rewiring an input (pipeline.yaml "Example input"
  * comments) is a config change. Batch and streaming entry points share the
  * bindings — the transforms are identical; only the source resolution
  * (spark.read vs readStream) differs.
  */
object Pipeline {

  /** One pipeline.yaml `functions:` entry: source topic → translator. */
  final case class TranslatorBinding(
      functionName: String,
      source: SourceDef,
      translate: (DataFrame, String) => Translated)

  /** pipeline.yaml:42–61 — the three vehicle translator functions. */
  val vehicleBindings: Seq[TranslatorBinding] = Seq(
    TranslatorBinding("geotab-translator", Sources.kinesisInput,
      VehicleTranslators.geotab),
    TranslatorBinding("calamp-translator", Sources.kafkaInput,
      VehicleTranslators.calAmp),
    TranslatorBinding("ford-translator", Sources.httpInput,
      VehicleTranslators.ford))

  /** The shared CMF topic (pipeline.yaml:47,54,61): every translator's
    * output, unioned — the one genuine set operation in the reference
    * (SURVEY.md §2.3 R3). `valid` is the topic itself: `value` holds each
    * message's CMF wire form, beside its `cmf` struct. `quarantine` holds
    * the poisoned raw `value`s. Both carry `source`, the translator
    * function that produced the row, tagged BEFORE the union so a caller
    * holding only the combined frame can still tell a poisoned Geotab
    * record from a poisoned Ford one (per-source dead-letter replay needs
    * provenance; one post-union tag can't recover it). */
  def vehicleCmfBatch(spark: SparkSession, baseDir: String,
                      tenant: String = "acme"): Translated =
    vehicleCmf(b => b.source.batch(spark, baseDir), tenant)

  /** Streaming form of [[vehicleCmfBatch]] over the same spool layout. */
  def vehicleCmfStream(spark: SparkSession, baseDir: String,
                       tenant: String = "acme"): Translated =
    vehicleCmf(b => b.source.stream(spark, baseDir), tenant)

  /** The shared translate→union shape; only source resolution differs
    * between batch and streaming, so it is the only injected piece. Each
    * row's `value` becomes the message it carries on: its CMF wire form
    * where valid, the raw input where poisoned. */
  private def vehicleCmf(resolve: TranslatorBinding => DataFrame,
                         tenant: String): Translated =
    Translated(
      vehicleBindings.map { b =>
        b.translate(resolve(b), tenant).tagged.select(
          when(Translated.ok, col("cmf_json")).otherwise(col("value")).as("value"),
          lit(b.functionName).as("source"), Translated.ok, col("cmf"))
      }.reduce(_ unionByName _),
      derived = Seq("cmf"))

  /** E1/E2 tail (pipeline.yaml:63–68): CMF topic → Filterer → dynamic
    * per-tenant destinations. Works on batch or streaming frames. */
  def routeCmf(cmfTopic: DataFrame): Routed = Filterer.route(cmfTopic)

  /** E3: legacy business events (bootstrap.sh:107–171) — raw payloads with a
    * `kind` column → one multiplexed translate pass → EventTypeSplitter on
    * the wire envelopes. */
  def legacyEvents(raw: DataFrame): (Translated, Routed) = {
    val t = LegacyTranslators.translateMux(raw, col("kind"))
    (t, EventTypeSplitter.route(t.valid.select(col("event_json").as("value"))))
  }

  /** The topology's two outputs, cut from one tagged CMF frame
    * ([[vehicleCmfBatch]] / [[vehicleCmfStream]]): publish takes the
    * valid, routable rows as (topic, CMF wire); dead-letter is one
    * projection of everything else — a quarantined row keeps its raw value
    * and its translator's name, an unroutable one its CMF wire and
    * "filterer". Routing reads the `cmf` struct the translator built
    * ([[Filterer.tenantIdOf]], same drop rule and topic naming as
    * [[Filterer.route]]) instead of parsing its wire form back. */
  def publishAndDeadLetter(cmfTopic: DataFrame): (DataFrame, DataFrame) = {
    val tenantId = Filterer.tenantIdOf(col("cmf"))
    val published = Translated.ok && Routed.notBlank(tenantId)
    (cmfTopic.filter(published)
       .select(Filterer.topic(tenantId).as("topic"), col("value")),
     cmfTopic.filter(!published)
       .select(col("value"),
         when(Translated.ok, lit("filterer")).otherwise(col("source")).as("source")))
  }

  /** The COMPLETE E1/E2 dataflow as continuously-running streaming jobs —
    * the reference's deployed shape (pipeline.yaml:41–68 end to end):
    * spool sources → three translators → CMF union → Filterer → dynamic
    * per-tenant topic publish (graft-spool streaming sink; swap the format
    * for "kafka" on a live bus), plus a dead-letter sink capturing every
    * translator's quarantine AND the Filterer's unroutable drops, tagged
    * by origin for per-source replay (SURVEY.md §2.3 R4).
    *
    * Each query translates every record once: both are cut from the same
    * tagged CMF frame ([[vehicleCmfStream]]) by [[publishAndDeadLetter]].
    *
    * Two streaming queries, each with its own checkpoint: streaming
    * DataFrames cannot fork into two sinks inside one query, and an
    * always-on pipeline wants the failure domains separate anyway (a
    * dead-letter sink outage must not stop tenant delivery). So each
    * query scans the cheap spool source itself. Returns (publish,
    * deadLetter) handles; the caller owns their lifecycle.
    *
    * Both queries start with `spark.sql.artifact.isolation.enabled=false`
    * (the stream's session clone, taken at `start()`, keeps it); the
    * caller's own setting, or its absence, is restored before returning.
    * Under artifact isolation every query start runs in a fresh session
    * whose tasks get their own classloader, and Spark's generated-code
    * cache is keyed by classloader and source, so each restart of the
    * topology compiled all of its generated classes again, byte for byte
    * the same as the last start's. Without isolation a restart reuses
    * them. Isolation only separates the artifacts (jars, classes) a
    * session adds; the topology adds none and runs no UDF class. */
  def runVehicleTopology(spark: SparkSession, spoolBase: String,
                         busRoot: String, deadLetterDir: String,
                         checkpointRoot: String, tenant: String = "acme")
      : (org.apache.spark.sql.streaming.StreamingQuery,
         org.apache.spark.sql.streaming.StreamingQuery) = {
    def outputs = publishAndDeadLetter(vehicleCmfStream(spark, spoolBase, tenant).tagged)
    val callers = spark.conf.getAll.get(ArtifactIsolation)
    spark.conf.set(ArtifactIsolation, "false")
    try {
      val publish = outputs._1
        .writeStream.format("graft-spool")
        .option("topics", "true").option("path", busRoot)
        .option("checkpointLocation", s"$checkpointRoot/publish")
        .outputMode("append").start()
      val deadLetter = outputs._2
        .writeStream.format("parquet").partitionBy("source")
        .option("path", deadLetterDir)
        .option("checkpointLocation", s"$checkpointRoot/dead-letter")
        .outputMode("append").start()
      (publish, deadLetter)
    } finally callers match {
      case Some(v) => spark.conf.set(ArtifactIsolation, v)
      case None => spark.conf.unset(ArtifactIsolation)
    }
  }

  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"
}
