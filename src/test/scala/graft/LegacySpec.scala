package graft

import graft.pipeline.Pipeline
import graft.translate.{LegacyTranslators, Translated}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Behavioral spec for the five legacy CommonEvent translators, recovered
  * from TranslatorsIntegrationTest.kt:259–370 (input shapes,
  * (source, eventType) constants, per-source timestamp normalization) and
  * :223–231 (envelope shape), run through [[LegacyTranslators.translateMux]],
  * the one translator the E3 path runs. */
class LegacySpec extends SparkSpec {

  /** `vals` as raw legacy messages of source `kind` (its index in
    * [[LegacyTranslators.all]]). */
  private def raw(kind: Int, vals: String*) =
    strings(vals: _*).withColumn("kind", lit(kind))

  private def mux(kind: Int, vals: String*): Translated =
    LegacyTranslators.translateMux(raw(kind, vals: _*), col("kind"))

  test("user-profile: epoch-seconds `created` canonicalized to ISO (ref :259-283)") {
    val in = """{"uid":42,"name":"user-42","created":1698314400}"""
    val t = mux(0, in)
    val r = t.valid.select("source", "eventType", "timestamp").head()
    assert(r === Row("user-service", "USER_PROFILE_EVENT", "2023-10-26T10:00:00Z"))
  }

  test("order-record: ISO `placedAt` passes through unchanged (ref :285-301)") {
    val in = """{"orderId":"ORD-7","items":["item-1"],"placedAt":"2023-10-26T10:00:00Z"}"""
    val t = mux(1, in)
    val r = t.valid.select("source", "eventType", "timestamp").head()
    assert(r === Row("order-service", "ORDER_EVENT", "2023-10-26T10:00:00Z"))
  }

  test("envelope: data carries the ORIGINAL payload verbatim; eventId non-blank (ref :223-231)") {
    val in = """{"txnId":"TXN-1","amount":995,"currency":"EUR","time":"2023-10-26T10:00:00Z"}"""
    val t = mux(3, in)
    val r = t.valid.select(
      get_json_object(col("event_json"), "$.eventId"),
      get_json_object(col("event_json"), "$.source"),
      get_json_object(col("event_json"), "$.eventType"),
      get_json_object(col("event_json"), "$.data.txnId"),
      get_json_object(col("event_json"), "$.data.amount")).head()
    assert(r.getString(0).nonEmpty)
    assert(r.getString(1) === "payment-gateway")
    assert(r.getString(2) === "PAYMENT_EVENT")
    assert(r.getString(3) === "TXN-1")
    assert(r.getString(4) === "995")
    // splice, not re-serialization: the raw payload object appears byte-for-byte
    assert(t.valid.select("event_json").head().getString(0).contains(s""""data":$in}"""))
  }

  test("all five sources: fixed (source, eventType) constants (ref :259-370)") {
    val expected = Seq(
      ("user-profile", "user-service", "USER_PROFILE_EVENT"),
      ("order-record", "order-service", "ORDER_EVENT"),
      ("inventory-update", "inventory-service", "INVENTORY_EVENT"),
      ("payment-notice", "payment-gateway", "PAYMENT_EVENT"),
      ("shipment-status", "shipping-service", "SHIPMENT_EVENT"))
    assert(LegacyTranslators.all.map(s => (s.name, s.source, s.eventType)) === expected)
  }

  test("poison payload (missing required fields) quarantined") {
    val t = mux(4, """{"poison":true}""", null)
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 2)
  }

  test("non-numeric epoch timestamp quarantines the record under ANSI mode (both paths)") {
    // the translator's own split, and the E3 path that routes its output
    val bad = """{"uid":1,"name":"x","created":"oops"}"""
    val t = mux(0, bad)
    assert(t.valid.count() === 0 && t.quarantine.count() === 1)
    val (_, routed) = Pipeline.legacyEvents(raw(0, bad))
    assert(routed.routed.count() === 0)
  }

  test("envelope: quote/backslash in a pass-through timestamp stays valid JSON") {
    // json extraction UNESCAPES, so the splice must re-escape or the
    // envelope is malformed and the splitter silently nulls it
    val in = """{"txnId":"T","amount":1,"currency":"EUR","time":"12:00\"x\\y"}"""
    val t = mux(3, in)
    val r = t.valid.select(
      get_json_object(col("event_json"), "$.timestamp").as("ts"),
      get_json_object(col("event_json"), "$.eventType").as("et")).head()
    // round-trips through a second json parse to the original unescaped text
    assert(r.getString(0) === """12:00"x\y""")
    assert(r.getString(1) === "PAYMENT_EVENT") // envelope still parseable
  }
}
