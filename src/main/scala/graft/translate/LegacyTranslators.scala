package graft.translate

import graft.time.IsoTime
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One legacy business-event translator's behavior. The five translator
  * sources are absent from the reference tree; this spec is fully recovered
  * from their integration tests (TranslatorsIntegrationTest.kt:259–370) and
  * deployment wiring (bootstrap.sh:107–161).
  *
  * @param tsIsEpochSeconds when true the timestamp input field is epoch
  *        seconds and is canonicalized to ISO-8601; when false it is already
  *        an ISO-8601 string and passes through unchanged.
  */
final case class LegacySpec(
    name: String,
    source: String,
    eventType: String,
    tsField: String,
    tsIsEpochSeconds: Boolean,
    requiredFields: Seq[String])

/** The legacy `CommonEvent` pipeline generation: 5 per-source translators
  * emitting `{eventId, source, eventType, timestamp, data}` envelopes
  * (TranslatorsIntegrationTest.kt:223–231), all expressed as ONE
  * parameterized Catalyst projection — the per-source differences are pure
  * data (`LegacySpec`), so adding a source is a config change, not code.
  */
object LegacyTranslators {

  /** The five sources, in `kind` order: a row's `kind` is its source's
    * index here. */
  val all: Seq[LegacySpec] = Seq(
    LegacySpec("user-profile", "user-service", "USER_PROFILE_EVENT",
      "created", tsIsEpochSeconds = true, Seq("uid", "name", "created")),
    LegacySpec("order-record", "order-service", "ORDER_EVENT",
      "placedAt", tsIsEpochSeconds = false, Seq("orderId", "items", "placedAt")),
    LegacySpec("inventory-update", "inventory-service", "INVENTORY_EVENT",
      "updateTime", tsIsEpochSeconds = true, Seq("sku", "qty", "updateTime")),
    LegacySpec("payment-notice", "payment-gateway", "PAYMENT_EVENT",
      "time", tsIsEpochSeconds = false, Seq("txnId", "amount", "currency", "time")),
    LegacySpec("shipment-status", "shipping-service", "SHIPMENT_EVENT",
      "deliveredAt", tsIsEpochSeconds = true, Seq("shipId", "status", "deliveredAt")))

  /** JSON-escape a string that is spliced between double quotes in a
    * hand-assembled envelope: json_tuple/get_json_object UNESCAPE on
    * extraction, so a pass-through value containing `"` or `\` would
    * otherwise emit a malformed envelope that the splitter's
    * get_json_object silently nulls (the reference's Jackson re-escapes on
    * serialization). Control characters are not re-escaped — the upstream
    * validity checks never admit them into the pass-through fields. */
  private def jsonEscape(c: Column): Column =
    regexp_replace(c, "([\\\\\"])", "\\\\$1")

  /** The `CommonEvent` wire envelope over the `eventId`/`source`/`eventType`/
    * `timestamp` columns, with the ORIGINAL payload object spliced in
    * verbatim as `data` rather than re-serialized. */
  private val envelope: Column = concat(
    lit("{\"eventId\":\""), col("eventId"),
    lit("\",\"source\":\""), col("source"),
    lit("\",\"eventType\":\""), col("eventType"),
    lit("\",\"timestamp\":\""), jsonEscape(col("timestamp")),
    lit("\",\"data\":"), col("value"), lit("}"))

  /** Union of every source's payload field names: the mux parses each
    * message ONCE via the `json_tuple` generator. (A `from_json` struct is
    * the obvious alternative, but Catalyst's filter-pushdown substitutes the
    * struct alias into EVERY field reference, cloning the non-codegen parse
    * ~20× per row; a Generate node is not an alias and cannot be inlined.) */
  private val muxFields = Seq(
    "uid", "name", "created",
    "orderId", "items", "placedAt",
    "sku", "qty", "updateTime",
    "txnId", "amount", "currency", "time",
    "shipId", "status", "deliveredAt")

  private def tsFromFields(j: String => Column, spec: LegacySpec): Column =
    if (spec.tsIsEpochSeconds)
      // try_cast, not cast: ANSI mode throws on non-numeric poison input
      IsoTime.isoFromEpochSeconds(expr(s"try_cast(_j_${spec.tsField} AS BIGINT)"))
    else j(spec.tsField)

  /** All five translators multiplexed into ONE projection, selected per row
    * by `kindCol` (0..4 indexing [[all]]): the corpus is scanned once, not
    * once per source, and each message is JSON-parsed once.
    *
    * `eventId` is a random UUID in the reference (asserted only non-blank,
    * TranslatorsIntegrationTest.kt:226). Here it is
    * sha256(source|eventType|payload), so results are oracle-checkable; the
    * wire shape is identical. */
  def translateMux(raw: DataFrame, kindCol: Column): Translated = {
    val value = col("value")
    val jcols = muxFields.map(f => s"_j_$f")
    val parsed = raw.select(col("*"),
      json_tuple(value, muxFields: _*).as(jcols))
    def j(f: String): Column = col(s"_j_$f")
    def perKind(f: LegacySpec => Column): Column =
      all.zipWithIndex.tail.foldLeft(when(kindCol === 0, f(all.head))) {
        case (acc, (spec, i)) => acc.when(kindCol === i, f(spec))
      }
    val ok = perKind { spec =>
      val required = spec.requiredFields.map(f => j(f).isNotNull).reduce(_ && _)
      required && tsFromFields(j, spec).isNotNull
    }
    Translated.tag(parsed, ok,
      "source" -> perKind(spec => lit(spec.source)),
      "eventType" -> perKind(spec => lit(spec.eventType)),
      "timestamp" -> perKind(spec => tsFromFields(j, spec)),
      "eventId" -> sha2(concat_ws("|", col("source"), col("eventType"), value), 256),
      "event_json" -> envelope)
  }
}
