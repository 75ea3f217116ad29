package graft.route

import graft.model.Cmf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** A router's output: messages annotated with their destination, plus the
  * dropped stream (reference logs-and-skips; we keep them auditable). */
final case class Routed(routed: DataFrame, dropped: DataFrame)

object Routed {
  /** Kotlin isNullOrBlank negated, the routers' drop rule. Kotlin
    * Char.isWhitespace is Character.isWhitespace(c) ||
    * Character.isSpaceChar(c), so the non-blank witness must exclude BOTH
    * classes — javaWhitespace alone misses the SPACE_SEPARATOR chars
    * isWhitespace rejects (U+00A0 NBSP, U+2007, U+202F), and ASCII \S missed
    * all Unicode whitespace; either gap routes a blank key to a
    * whitespace-named topic + partition directory. */
  def notBlank(key: Column): Column =
    key.isNotNull && key.rlike("[^\\p{javaWhitespace}\\p{javaSpaceChar}]")

  /** The one router shape: `messages` gain the route key `keyName`, read
    * off `value` by `key`; rows whose key passes [[notBlank]] are routed
    * to `topic(key)`, and the rest are dropped, projected to `value`. */
  private[route] def by(messages: DataFrame, keyName: String,
                        key: Column => Column,
                        topic: Column => Column): Routed = {
    val keyed = messages.withColumn(keyName, key(col("value")))
    val ok = notBlank(col(keyName))
    Routed(
      routed = keyed.filter(ok).withColumn("topic", topic(col(keyName))),
      dropped = keyed.filter(!ok).select("value"))
  }
}

/** Content-based router from the CMF topic to dynamic per-tenant topics
  * (Filterer.kt:22–50).
  *
  * Load-bearing semantics reproduced:
  *  - route key is `meta.tenantId` in the JSON wire form (Filterer.kt:29;
  *    the top-level `tenantId` is IGNORED — SURVEY.md §0.2)
  *  - null / blank / missing tenantId, missing meta, malformed JSON →
  *    message dropped (FiltererTest.kt:117–163). `get_json_object` returns
  *    NULL on malformed input, which folds the try/catch path (Filterer.kt:47–49)
  *    into the same predicate.
  *  - the ORIGINAL string is forwarded byte-for-byte (FiltererTest.kt:113):
  *    we route on the extracted key but never re-serialize `value`.
  *
  * A producer that still holds the CMF struct routes on [[tenantIdOf]] with
  * the same drop rule ([[Routed.notBlank]]) and [[topic]] naming, without
  * parsing its own wire form back.
  *
  * Scale shape: extraction is a scan-fused projection; the fan-out is one
  * row-level `topic` column on write ([[fanOutTopics]]) — one shuffle-free
  * pass, no driver-side loop over tenants.
  */
object Filterer {

  def tenantId(value: Column): Column = get_json_object(value, "$.meta.tenantId")

  /** The same `meta.tenantId` key read off a CMF struct column rather than
    * its wire form. `meta` is CommonMeta, whose only member is
    * `additionalProperties` (SURVEY.md §0.2), so a translator's output
    * carries no key and drops, as its wire form does; and no text spliced
    * into `sourceSpecificData` can supply one. */
  def tenantIdOf(cmf: Column): Column =
    if (Cmf.metaType.fieldNames.contains("tenantId")) cmf("meta")("tenantId")
    else lit(null).cast(StringType)

  def topic(tenantId: Column): Column =
    concat(lit("persistent://"), tenantId, lit("/integration/telemetry"))

  def route(messages: DataFrame): Routed =
    Routed.by(messages, "tenantId", tenantId, topic)

  /** Dynamic per-tenant TOPIC publish — the reference Filterer's actual
    * sink shape (Filterer.kt:36–41: `persistent://{tenantId}/integration/
    * telemetry`, a topic per tenant chosen per message). Spark's Kafka sink
    * established the contract for this — a row-level `topic` column routes
    * each row — and the graft-spool sink implements the same contract
    * offline, so swapping `format("graft-spool")` for `format("kafka")`
    * (plus broker options) is the ONLY change a live deployment makes.
    * One shuffle-free distributed pass; the original `value` bytes are
    * forwarded untouched (FiltererTest.kt:113). */
  def fanOutTopics(routed: DataFrame, spoolRoot: String): Unit =
    routed.select("topic", "value")
      .write.format("graft-spool").mode("append")
      .option("topics", "true").option("path", spoolRoot).save()
}

/** Dead-letter sink (SURVEY.md §2.3 R4): the reference logs-and-drops poison
  * messages (GeotabTranslator.kt:154–157, Filterer.kt:47–49); quarantine
  * frames here are written to an auditable parquet sink instead, tagged by
  * source, partitioned for per-source replay. Same observable happy path,
  * recoverable error path. */
object DeadLetter {
  def write(quarantine: DataFrame, source: String, baseDir: String): Unit =
    quarantine.withColumn("source", lit(source))
      .write.mode("append").partitionBy("source").parquet(baseDir)
}

/** Legacy router: `CommonEvent` envelopes from `common-events`, keyed on
  * `eventType` (bootstrap.sh:163–171). The splitter class itself is absent
  * from the reference tree; topic naming follows the documented pattern
  * `persistent://<tenant>/<ns>/<eventType>-events` with the example mapping
  * `SHIPMENT_EVENT` → `shipment-events`
  * (load-test-verification-playbook.md:119–125): lowercase, strip the
  * `_EVENT` suffix, `_` → `-`.
  */
object EventTypeSplitter {

  def eventType(value: Column): Column = get_json_object(value, "$.eventType")

  private def topicFor(eventTypeCol: Column, tenant: String, namespace: String): Column =
    concat(lit(s"persistent://$tenant/$namespace/"),
      regexp_replace(lower(regexp_replace(eventTypeCol, "_EVENT$", "")), "_", "-"),
      lit("-events"))

  def route(messages: DataFrame, tenant: String = "acme",
            namespace: String = "integration"): Routed =
    Routed.by(messages, "eventType", eventType,
      topicFor(_, tenant, namespace))
}
