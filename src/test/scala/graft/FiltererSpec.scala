package graft

import graft.route.{EventTypeSplitter, Filterer}

/** The 8 router cases from FiltererTest.kt:100–193, plus EventTypeSplitter
  * topic naming (load-test-verification-playbook.md:119–125). */
class FiltererSpec extends SparkSpec {

  private def cmf(meta: String): String =
    s"""{"dateTime":"2023-01-01T12:00:00Z","epochSource":1672574400,""" +
    s""""vehicleId":"testVehicle","deviceId":"testDevice",""" +
    s""""sourceType":"Geotab","partitionKey":"testVehicle",""" +
    s""""telemetry":null,"events":null,"sourceSpecificData":{}$meta}"""

  test("filterer: routes to persistent://{tenantId}/integration/telemetry (FiltererTest.kt:100-114)") {
    val in = cmf(""","meta":{"tenantId":"acme-corp"}""")
    val r = Filterer.route(strings(in))
    val row = r.routed.select("topic", "value").head()
    assert(row.getString(0) === "persistent://acme-corp/integration/telemetry")
    // byte-preserving: the ORIGINAL string is forwarded (FiltererTest.kt:113)
    assert(row.getString(1) === in)
    assert(r.dropped.count() === 0)
  }

  test("filterer: drops null tenantId (ref :116-123)") {
    val r = Filterer.route(strings(cmf(""","meta":{"tenantId":null}""")))
    assert(r.routed.count() === 0 && r.dropped.count() === 1)
  }

  test("filterer: drops blank tenantId (ref :125-132)") {
    val r = Filterer.route(strings(cmf(""","meta":{"tenantId":"  "}""")))
    assert(r.routed.count() === 0 && r.dropped.count() === 1)
  }

  test("filterer: drops tab/newline-only tenantId (Kotlin isNullOrBlank parity)") {
    // trim() strips only ASCII spaces — a tab-only tenant used to route to
    // a whitespace-named topic and partition directory
    val r = Filterer.route(strings(cmf(""","meta":{"tenantId":"\t\n"}""")))
    assert(r.routed.count() === 0 && r.dropped.count() === 1)
  }

  test("filterer: drops Unicode-whitespace-only tenantId (Character.isWhitespace parity)") {
    // Kotlin isNullOrBlank is Unicode-aware (Char.isWhitespace); Java regex
    // \S is ASCII-only — U+2028 LINE SEPARATOR / U+1680 OGHAM SPACE MARK
    // tenants must drop, not route to a whitespace-named topic
    val lineSep = "\u2028"
    val ogham   = "\u1680"
    // NBSP is the adversarial case: isWhitespace=false but isSpaceChar=true
    // - Kotlin isBlank still treats it as blank
    val nbsp    = "\u00a0"
    val r = Filterer.route(strings(
      cmf(s""","meta":{"tenantId":"$lineSep"}"""),
      cmf(s""","meta":{"tenantId":"$ogham$lineSep"}"""),
      cmf(s""","meta":{"tenantId":"$nbsp$nbsp"}""")))
    assert(r.routed.count() === 0 && r.dropped.count() === 3)
  }

  test("filterer: drops when tenantId field missing from meta (ref :134-142)") {
    val r = Filterer.route(strings(cmf(""","meta":{}""")))
    assert(r.routed.count() === 0 && r.dropped.count() === 1)
  }

  test("filterer: drops when meta field missing entirely (ref :145-153)") {
    val r = Filterer.route(strings(cmf("")))
    assert(r.routed.count() === 0 && r.dropped.count() === 1)
  }

  test("filterer: malformed JSON dropped without failing the job (ref :155-163)") {
    val r = Filterer.route(strings(
      """{ "dateTime": "2023-01-01T12:00:00Z", "epochSource": 1672574400, MetaUnclosed: {}"""))
    assert(r.routed.count() === 0 && r.dropped.count() === 1)
  }

  test("filterer: null input dropped gracefully (ref :183-193)") {
    val r = Filterer.route(strings(null))
    assert(r.routed.count() === 0 && r.dropped.count() === 1)
  }

  test("filterer: fans out mixed tenants; each message keeps its own topic") {
    val a = cmf(""","meta":{"tenantId":"tenant-a"}""")
    val b = cmf(""","meta":{"tenantId":"tenant-b"}""")
    val bad = cmf(""","meta":{}""")
    val r = Filterer.route(strings(a, b, bad))
    val topics = r.routed.select("tenantId", "topic").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(topics === Set(
      ("tenant-a", "persistent://tenant-a/integration/telemetry"),
      ("tenant-b", "persistent://tenant-b/integration/telemetry")))
    assert(r.dropped.count() === 1)
  }

  test("splitter: eventType topic naming SHIPMENT_EVENT -> shipment-events (playbook:119-125)") {
    val in = """{"eventId":"e1","source":"shipping-service",""" +
      """"eventType":"SHIPMENT_EVENT","timestamp":"2023-01-01T00:00:00Z","data":{}}"""
    val r = EventTypeSplitter.route(strings(in))
    val row = r.routed.select("eventType", "topic").head()
    assert(row.getString(0) === "SHIPMENT_EVENT")
    assert(row.getString(1) === "persistent://acme/integration/shipment-events")
  }

  test("splitter: USER_PROFILE_EVENT -> user-profile-events; missing eventType dropped") {
    val good = """{"eventType":"USER_PROFILE_EVENT","data":{}}"""
    val bad = """{"source":"x","data":{}}"""
    val r = EventTypeSplitter.route(strings(good, bad))
    assert(r.routed.select("topic").head().getString(0)
      === "persistent://acme/integration/user-profile-events")
    assert(r.dropped.count() === 1)
  }
}
