package graft

import graft.translate.LegacyTranslators
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Behavioral spec for the five legacy CommonEvent translators, recovered
  * from TranslatorsIntegrationTest.kt:259–370 (input shapes,
  * (source, eventType) constants, per-source timestamp normalization) and
  * :223–231 (envelope shape). */
class LegacySpec extends SparkSpec {

  test("user-profile: epoch-seconds `created` canonicalized to ISO (ref :259-283)") {
    val in = """{"uid":42,"name":"user-42","created":1698314400}"""
    val t = LegacyTranslators.translate(strings(in), LegacyTranslators.userProfile)
    val r = t.valid.select("source", "eventType", "timestamp").head()
    assert(r === Row("user-service", "USER_PROFILE_EVENT", "2023-10-26T10:00:00Z"))
  }

  test("order-record: ISO `placedAt` passes through unchanged (ref :285-301)") {
    val in = """{"orderId":"ORD-7","items":["item-1"],"placedAt":"2023-10-26T10:00:00Z"}"""
    val t = LegacyTranslators.translate(strings(in), LegacyTranslators.orderRecord)
    val r = t.valid.select("source", "eventType", "timestamp").head()
    assert(r === Row("order-service", "ORDER_EVENT", "2023-10-26T10:00:00Z"))
  }

  test("envelope: data carries the ORIGINAL payload verbatim; eventId non-blank (ref :223-231)") {
    val in = """{"txnId":"TXN-1","amount":995,"currency":"EUR","time":"2023-10-26T10:00:00Z"}"""
    val t = LegacyTranslators.translate(strings(in), LegacyTranslators.paymentNotice)
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
    val t = LegacyTranslators.translate(strings("""{"poison":true}""", null),
      LegacyTranslators.shipmentStatus)
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 2)
  }

  test("non-numeric epoch timestamp quarantines the record under ANSI mode (both paths)") {
    import org.apache.spark.sql.functions.col
    val bad = """{"uid":1,"name":"x","created":"oops"}"""
    val t = LegacyTranslators.translate(strings(bad),
      LegacyTranslators.userProfile)
    assert(t.valid.count() === 0 && t.quarantine.count() === 1)
    import spark.implicits._
    val mux = LegacyTranslators.translateMux(Seq((bad, 0)).toDF("value", "kind"), col("kind"))
    assert(mux.valid.count() === 0 && mux.quarantine.count() === 1)
  }

  test("translateMux == per-source translate + union (scan-once parity)") {
    import spark.implicits._
    val rows = Seq(
      ("""{"uid":1,"name":"user-1","created":1698314400}""", 0),
      ("""{"orderId":"ORD-2","items":["item-2"],"placedAt":"2023-10-26T10:00:00Z"}""", 1),
      ("""{"sku":"SKU-3","qty":5,"updateTime":1698314401}""", 2),
      ("""{"txnId":"TXN-4","amount":100,"currency":"EUR","time":"2023-10-26T10:00:02Z"}""", 3),
      ("""{"shipId":"SHIP-5","status":"SHIPPED","deliveredAt":1698314403}""", 4),
      ("""{"poison":true}""", 3))
    val raw = rows.toDF("value", "kind")
    val mux = LegacyTranslators.translateMux(raw, col("kind"))
    val perSource = LegacyTranslators.all.zipWithIndex.map { case (spec, k) =>
      LegacyTranslators.translate(raw.filter(col("kind") === k), spec).valid
    }.reduce(_ unionByName _)
    val muxRows = mux.valid.select("event_json").collect().map(_.getString(0)).sorted
    val refRows = perSource.select("event_json").collect().map(_.getString(0)).sorted
    assert(muxRows === refRows)
    assert(mux.quarantine.count() === 1)
  }

  test("envelope: quote/backslash in a pass-through timestamp stays valid JSON") {
    // json extraction UNESCAPES, so the splice must re-escape or the
    // envelope is malformed and the splitter silently nulls it
    val in = """{"txnId":"T","amount":1,"currency":"EUR","time":"12:00\"x\\y"}"""
    val t = LegacyTranslators.translate(strings(in), LegacyTranslators.paymentNotice)
    val r = t.valid.select(
      get_json_object(col("event_json"), "$.timestamp").as("ts"),
      get_json_object(col("event_json"), "$.eventType").as("et")).head()
    // round-trips through a second json parse to the original unescaped text
    assert(r.getString(0) === """12:00"x\y""")
    assert(r.getString(1) === "PAYMENT_EVENT") // envelope still parseable
  }
}
