package graft

import graft.translate.VehicleTranslators
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Golden scenarios for the three vehicle translators, ported from the
  * reference unit tests (GeotabTranslatorTest.kt:31–149,
  * CalAmpTranslatorTest.kt:31–115, FordTranslatorTest.kt:31–130): valid
  * input, missing optionals, malformed input, unknown enum, plus the
  * Jackson-strictness unknown-key rejection (SURVEY.md §0.2). */
class TranslatorSpec extends SparkSpec {

  // --- Geotab (GeotabTranslatorTest.kt) ---

  private val geotabValid =
    """{"Device_ID":"geo-device-123","Vehicle_ID":"vehicle-abc",""" +
    """"Record_DateTime":"2023-10-26T10:00:00.000Z","Latitude":34.0522,""" +
    """"Longitude":-118.2437,"Odometer_mi":12345.6,"EngineSpeed_rpm":2500.0,""" +
    """"Fuel_Level_pct":75.5,"Ignition_Status":"ON",""" +
    """"customGeotabField1":"customValue1","customGeotabField2":100}"""

  test("geotab: valid input produces correct CMF (golden: GeotabTranslatorTest.kt:31-84)") {
    val t = VehicleTranslators.geotab(strings(geotabValid), "test-tenant")
    assert(t.quarantine.count() === 0)
    val r = t.valid.select(
      col("cmf.vehicleId"), col("cmf.deviceId"), col("cmf.sourceType"),
      col("cmf.epochSource"), col("cmf.dateTime"), col("cmf.tenantId"),
      col("cmf.partitionKey"),
      col("cmf.telemetry.location.lat"), col("cmf.telemetry.location.lon"),
      col("cmf.telemetry.location.timestamp"),
      col("cmf.telemetry.odometerCanMi"), col("cmf.telemetry.engineRpm"),
      col("cmf.telemetry.fuelLevelPct"), col("cmf.telemetry.ignitionStatus"),
      col("cmf.sourceSpecificData"),
      col("cmf.meta.additionalProperties").getItem("translator")).head()
    assert(r === Row("vehicle-abc", "geo-device-123", "Geotab",
      1698314400000L, "2023-10-26T10:00:00Z", "test-tenant", "vehicle-abc",
      34.0522, -118.2437, "2023-10-26T10:00:00Z",
      12345.6, 2500.0, 75.5, "ON",
      """{"customGeotabField1":"customValue1","customGeotabField2":100}""",
      "GeotabTranslator_v1.0"))
  }

  test("geotab: missing optionals succeed with nulls and UNKNOWN ignition (ref :87-114)") {
    val in = """{"Device_ID":"geo-device-789","Vehicle_ID":"vehicle-xyz",""" +
      """"Record_DateTime":"2023-10-27T12:00:00.000Z","Latitude":35.0,"Longitude":-119.0}"""
    val t = VehicleTranslators.geotab(strings(in), "test-tenant")
    val r = t.valid.select(
      col("cmf.vehicleId"), col("cmf.telemetry.odometerCanMi"),
      col("cmf.telemetry.engineRpm"), col("cmf.telemetry.fuelLevelPct"),
      col("cmf.telemetry.ignitionStatus"), col("cmf.sourceSpecificData")).head()
    assert(r === Row("vehicle-xyz", null, null, null, "UNKNOWN", "{}"))
  }

  test("geotab: missing required fields quarantines the record (ref :116-123)") {
    val t = VehicleTranslators.geotab(strings("""{"Device_ID": "test"}"""), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 1)
  }

  test("geotab: unknown ignition status maps to UNKNOWN (ref :125-142)") {
    val in = """{"Device_ID":"d","Vehicle_ID":"v",""" +
      """"Record_DateTime":"2023-10-26T10:00:00.000Z","Latitude":1.0,""" +
      """"Longitude":2.0,"Ignition_Status":"AJAR"}"""
    val t = VehicleTranslators.geotab(strings(in), "t")
    assert(t.valid.select(col("cmf.telemetry.ignitionStatus")).head().getString(0)
      === "UNKNOWN")
  }

  test("geotab: null and malformed input quarantined, job survives (ref :144-149)") {
    val t = VehicleTranslators.geotab(
      strings(null, """{"Device_ID": "geo", truncated"""), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 2)
  }

  test("geotab: unknown top-level key rejects the record (Jackson FAIL_ON_UNKNOWN_PROPERTIES)") {
    val in = """{"Device_ID":"d","Vehicle_ID":"v",""" +
      """"Record_DateTime":"2023-10-26T10:00:00.000Z","Latitude":1.0,""" +
      """"Longitude":2.0,"Ignition":"true"}"""
    val t = VehicleTranslators.geotab(strings(in), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 1)
  }

  test("geotab: cmf_json wire form splices raw ssd and keeps null fields") {
    val t = VehicleTranslators.geotab(strings(geotabValid), "test-tenant")
    val r = t.valid.select(
      get_json_object(col("cmf_json"), "$.sourceSpecificData.customGeotabField2"),
      get_json_object(col("cmf_json"), "$.meta.additionalProperties.translator"),
      get_json_object(col("cmf_json"), "$.telemetry.ignitionStatus")).head()
    assert(r === Row("100", "GeotabTranslator_v1.0", "ON"))
    // Jackson serializes nulls explicitly: "events":null must be present
    assert(t.valid.select(col("cmf_json")).head().getString(0)
      .contains("\"events\":null"))
  }

  test("geotab: non-Z ISO offset input normalizes to canonical Z output (ISO_OFFSET_DATE_TIME parity)") {
    val in = """{"Device_ID":"d","Vehicle_ID":"v",""" +
      """"Record_DateTime":"2023-10-26T12:00:00+02:00","Latitude":1.0,"Longitude":2.0}"""
    val t = VehicleTranslators.geotab(strings(in), "t")
    val r = t.valid.select(col("cmf.epochSource"), col("cmf.dateTime")).head()
    // +02:00 noon == 10:00Z; output is always canonical UTC/Z
    assert(r === Row(1698314400000L, "2023-10-26T10:00:00Z"))
  }

  // --- CalAmp (CalAmpTranslatorTest.kt) ---

  test("calamp: valid input, epoch-seconds x1000 (golden: CalAmpTranslatorTest.kt:31-78)") {
    val secs = 1698827400L // 2023-11-01T08:30:00Z
    val in = s"""{"unit_id":"calamp-unit-001","vid":"calamp-vehicle-777",""" +
      s""""msg_ts":$secs,"gps_lat":36.1699,"gps_lon":-115.1398,""" +
      s""""speed_mph":65.5,"fuel_percent":45.0,"voltage":12.5,""" +
      s""""calAmpSpecificValue":"payload-data"}"""
    val t = VehicleTranslators.calAmp(strings(in), "calamp-tenant")
    val r = t.valid.select(
      col("cmf.vehicleId"), col("cmf.deviceId"), col("cmf.sourceType"),
      col("cmf.epochSource"), col("cmf.dateTime"), col("cmf.tenantId"),
      col("cmf.partitionKey"),
      col("cmf.telemetry.location.lat"), col("cmf.telemetry.location.lon"),
      col("cmf.telemetry.speedGpsMph"), col("cmf.telemetry.fuelLevelPct"),
      col("cmf.telemetry.batteryVoltage"), col("cmf.sourceSpecificData")).head()
    assert(r === Row("calamp-vehicle-777", "calamp-unit-001", "CalAmp",
      secs * 1000, "2023-11-01T08:30:00Z", "calamp-tenant", "calamp-vehicle-777",
      36.1699, -115.1398, 65.5, 45.0, 12.5,
      """{"calAmpSpecificValue":"payload-data"}"""))
  }

  test("calamp: missing optionals succeed; empty ssd (ref :80-107)") {
    val in = """{"unit_id":"u2","vid":"v8","msg_ts":1698919200,""" +
      """"gps_lat":37.0,"gps_lon":-116.0}"""
    val t = VehicleTranslators.calAmp(strings(in), "t")
    val r = t.valid.select(col("cmf.telemetry.speedGpsMph"),
      col("cmf.telemetry.fuelLevelPct"), col("cmf.telemetry.batteryVoltage"),
      col("cmf.sourceSpecificData")).head()
    assert(r === Row(null, null, null, "{}"))
  }

  test("calamp: missing required quarantines (ref :109-115)") {
    val t = VehicleTranslators.calAmp(strings("""{"unit_id": "test"}"""), "t")
    assert(t.valid.count() === 0 && t.quarantine.count() === 1)
  }

  test("calamp: null and malformed input quarantined, job survives (5-scenario parity)") {
    val t = VehicleTranslators.calAmp(strings(null, """{"unit_id": 12"""), "t")
    assert(t.valid.count() === 0 && t.quarantine.count() === 2)
  }

  test("calamp: unknown top-level key rejects the record (Jackson strictness)") {
    val in = """{"unit_id":"u","vid":"v","msg_ts":1698919200,""" +
      """"gps_lat":37.0,"gps_lon":-116.0,"surprise_field":1}"""
    val t = VehicleTranslators.calAmp(strings(in), "t")
    assert(t.valid.count() === 0 && t.quarantine.count() === 1)
  }

  // --- Ford (FordTranslatorTest.kt) ---

  test("ford: valid input, dual timestamps, rpm widened (golden: FordTranslatorTest.kt:31-85)") {
    val cap = 1701432000000L // 2023-12-01T12:00:00Z
    val loc = 1701431998000L // 2023-12-01T11:59:58Z
    val in = s"""{"vin":"ford-vin-111","esn":"ford-esn-222","captureTime":$cap,""" +
      s""""coords":{"latValue":40.7128,"lonValue":-74.0060,"ts":$loc},""" +
      s""""vehicleSpeed":70.2,"fuelRemainingGallons":10.5,"rpm":3000,""" +
      s""""fordExtraData":{"doorStatus":"all_closed","tirePressureStatus":"normal"}}"""
    val t = VehicleTranslators.ford(strings(in), "ford-tenant")
    val r = t.valid.select(
      col("cmf.vehicleId"), col("cmf.deviceId"), col("cmf.sourceType"),
      col("cmf.epochSource"), col("cmf.dateTime"), col("cmf.tenantId"),
      col("cmf.partitionKey"),
      col("cmf.telemetry.location.lat"), col("cmf.telemetry.location.lon"),
      col("cmf.telemetry.location.timestamp"),
      col("cmf.telemetry.speedGpsMph"), col("cmf.telemetry.fuelLevelGallon"),
      col("cmf.telemetry.engineRpm"),
      get_json_object(col("cmf.sourceSpecificData"), "$.doorStatus"),
      get_json_object(col("cmf.sourceSpecificData"), "$.tirePressureStatus")).head()
    assert(r === Row("ford-vin-111", "ford-esn-222", "Ford",
      cap, "2023-12-01T12:00:00Z", "ford-tenant", "ford-vin-111",
      40.7128, -74.0060, "2023-12-01T11:59:58Z",
      70.2, 10.5, 3000.0, "all_closed", "normal"))
  }

  test("ford: missing optionals succeed; ssd defaults to {} (ref :87-120)") {
    val in = """{"vin":"ford-vin-333","esn":"ford-esn-444",""" +
      """"captureTime":1701527400000,""" +
      """"coords":{"latValue":41.0,"lonValue":-75.0,"ts":1701527395000}}"""
    val t = VehicleTranslators.ford(strings(in), "t")
    val r = t.valid.select(col("cmf.telemetry.speedGpsMph"),
      col("cmf.telemetry.fuelLevelGallon"), col("cmf.telemetry.engineRpm"),
      col("cmf.sourceSpecificData")).head()
    assert(r === Row(null, null, null, "{}"))
  }

  test("ford: missing required (coords) quarantines (ref :122-129)") {
    val t = VehicleTranslators.ford(strings("""{"vin": "test"}"""), "t")
    assert(t.valid.count() === 0 && t.quarantine.count() === 1)
  }

  test("ford: null and malformed input quarantined, job survives (5-scenario parity)") {
    val t = VehicleTranslators.ford(strings(null, """{"vin": "trunc"""), "t")
    assert(t.valid.count() === 0 && t.quarantine.count() === 2)
  }

  test("ford: unknown top-level key rejects the record (Jackson strictness)") {
    val in = """{"vin":"v","esn":"e","captureTime":1701432000000,""" +
      """"coords":{"latValue":1.0,"lonValue":2.0,"ts":1701431999000},"mystery":true}"""
    val t = VehicleTranslators.ford(strings(in), "t")
    assert(t.valid.count() === 0 && t.quarantine.count() === 1)
  }

  test("ford: fractional-second epoch renders millisecond ISO text") {
    val in = """{"vin":"v","esn":"e","captureTime":1701432000123,""" +
      """"coords":{"latValue":1.0,"lonValue":2.0,"ts":1701432000120}}"""
    val t = VehicleTranslators.ford(strings(in), "t")
    val r = t.valid.select(col("cmf.dateTime"),
      col("cmf.telemetry.location.timestamp")).head()
    assert(r === Row("2023-12-01T12:00:00.123Z", "2023-12-01T12:00:00.120Z"))
  }

  // --- ANSI-mode poison hardening (records quarantine, job never dies) ---

  test("geotab: non-numeric OPTIONAL field poisons the record (Jackson InvalidFormatException parity)") {
    val broken = geotabValid.replace("12345.6", "\"broken\"")
    val t = VehicleTranslators.geotab(strings(broken), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 1)
  }

  test("geotab: bare date / space-separated datetime rejected like Instant.parse") {
    val dateOnly = geotabValid.replace("2023-10-26T10:00:00.000Z", "2023-10-26")
    val spaced = geotabValid.replace("2023-10-26T10:00:00.000Z", "2023-10-26 10:00:00")
    val t = VehicleTranslators.geotab(strings(dateOnly, spaced), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 2)
  }

  test("calamp: msg_ts that overflows x1000 is quarantined, not a job crash (ANSI)") {
    val huge =
      """{"unit_id":"c","vid":"v","msg_ts":9223372036854775807,""" +
      """"gps_lat":1.0,"gps_lon":2.0}"""
    val t = VehicleTranslators.calAmp(strings(huge), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 1)
  }

  test("calamp: epoch whose x1000 fits a long but overflows timestamp_millis quarantines, no job crash") {
    // msg_ts = 1e13 s: x1000 = 1e16 ms passes try_multiply (< Long.Max)
    // but timestamp_millis's millis->micros conversion would overflow —
    // previously an ArithmeticException that killed the whole job
    val absurd =
      """{"unit_id":"c","vid":"v","msg_ts":10000000000000,""" +
      """"gps_lat":1.0,"gps_lon":2.0}"""
    val t = VehicleTranslators.calAmp(strings(absurd), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 1)
  }

  test("geotab: seconds-bearing UTC offset parses like Instant.parse") {
    val offs =
      """{"Device_ID":"d","Vehicle_ID":"v",""" +
      """"Record_DateTime":"2023-01-01T00:00:00+05:30:15","Latitude":1.0,""" +
      """"Longitude":2.0}"""
    val t = VehicleTranslators.geotab(strings(offs), "t")
    assert(t.valid.count() === 1, "Instant.parse accepts +HH:MM:SS offsets")
    // epoch matches java.time.Instant.parse
    val es = t.valid.select(col("cmf.epochSource")).head().getLong(0)
    assert(es === java.time.Instant.parse("2023-01-01T00:00:00+05:30:15").toEpochMilli)
  }

  test("ford: unknown key nested in coords quarantines (nested Jackson strictness)") {
    val nested =
      """{"vin":"v","esn":"e","captureTime":1698314400000,""" +
      """"coords":{"latValue":1.0,"lonValue":2.0,"ts":1698314395000,"altitude":5}}"""
    val t = VehicleTranslators.ford(strings(nested), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 1)
  }

  test("ford: scalar fordExtraData (not an object) poisons the record") {
    val scalar =
      """{"vin":"v","esn":"e","captureTime":1698314400000,""" +
      """"coords":{"latValue":1.0,"lonValue":2.0,"ts":1698314395000},""" +
      """"fordExtraData":5}"""
    val t = VehicleTranslators.ford(strings(scalar), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === 1)
  }

  test("ford: fordExtraData text with anything after its object poisons the record") {
    // the extracted text is spliced into the wire verbatim: a trailing
    // member would give the wire a second top-level `meta`, which a
    // wire-reading router meets first and routes on
    def ford(extra: String): String =
      """{"vin":"v","esn":"e","captureTime":1698314400000,""" +
      """"coords":{"latValue":1.0,"lonValue":2.0,"ts":1698314395000},""" +
      s""""fordExtraData":$extra}"""
    val hostile = Seq(
      """"{\"a\":1}, \"meta\": {\"tenantId\":\"evil\"}"""",
      """"{\"a\":1}}"""",
      """"{\"a\":1} {\"b\":2}"""",
      """"{\"a\":1}], \"meta\": {\"tenantId\":\"evil\"}, \"x\": [1"""")
    val t = VehicleTranslators.ford(strings(hostile.map(ford): _*), "t")
    assert(t.valid.count() === 0)
    assert(t.quarantine.count() === hostile.size)
    // exactly one object, empty or nested, still passes verbatim
    val ok = VehicleTranslators.ford(strings(
      ford("{}"), ford("""{"a":{"b":[1,{"c":2}]}}""")), "t")
    assert(ok.valid.select("cmf.sourceSpecificData").collect().map(_.getString(0)).sorted ===
      Array("""{"a":{"b":[1,{"c":2}]}}""", "{}"))
  }

  // --- Parse edge cases: the behaviour each translator's record parse keeps ---

  private def fordWith(coords: String, extra: String = ""): String =
    """{"vin":"v","esn":"e","captureTime":1698314400000,""" +
    s""""coords":$coords$extra}"""
  private val coordsOk = """{"latValue":1.0,"lonValue":2.0,"ts":1698314395000}"""

  /** One `value` row per byte string, read as UTF-8 without validation, as
    * the spool reader hands records over. */
  private def rawBytes(rows: Array[Byte]*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("b").select(col("b").cast("string").as("value"))
  }

  test("parse: duplicate keys keep the last non-null value; a later object replaces coords whole") {
    val dup = geotabValid.replace("\"Device_ID\":\"geo-device-123\",",
      "\"Device_ID\":\"first\",\"Device_ID\":\"second\",\"Device_ID\":null,")
    val g = VehicleTranslators.geotab(strings(dup), "t")
    assert(g.valid.select("cmf.deviceId").collect().map(_.getString(0)) === Array("second"))
    val twice = fordWith(coordsOk,
      ""","coords":{"latValue":3.0,"lonValue":4.0,"ts":1698314396000}""")
    val unknownFirst = fordWith("""{"latValue":1.0,"lonValue":2.0,"ts":1698314395000,"alt":5}""",
      s""","coords":$coordsOk""")
    val partialLast = fordWith(coordsOk, ""","coords":{"latValue":3.0}""")
    val f = VehicleTranslators.ford(strings(twice, unknownFirst, partialLast), "t")
    assert(f.valid.select("cmf.telemetry.location.lat").collect().map(_.getDouble(0)).sorted ===
      Array(1.0, 3.0))
    assert(f.quarantine.select("value").collect().map(_.getString(0)) === Array(partialLast))
  }

  test("parse: deep nesting passes to depth 50 and quarantines past the parser's depth limit") {
    def nest(d: Int): String = "{\"a\":" * d + "1" + "}" * d
    val f = VehicleTranslators.ford(strings(
      fordWith(coordsOk, s""","fordExtraData":${nest(50)}"""),
      fordWith(coordsOk, s""","fordExtraData":${nest(1200)}"""),
      fordWith(coordsOk, s""","deep":${nest(50)}""")), "t")
    assert(f.valid.select("cmf.sourceSpecificData").collect().map(_.getString(0)) ===
      Array(nest(50)))
    assert(f.quarantine.count() === 2)
    // an object in a string-typed field passes as its text
    val g = VehicleTranslators.geotab(strings(geotabValid.replace(
      "\"geo-device-123\"", """{"x":{"y":[1,2]}}""")), "t")
    assert(g.valid.select("cmf.deviceId").collect().map(_.getString(0)) ===
      Array("""{"x":{"y":[1,2]}}"""))
  }

  test("parse: numeric edge cases (1e400, -0, leading +, a float in an Int field)") {
    def lat(v: String) = geotabValid.replace("34.0522", v)
    val g = VehicleTranslators.geotab(strings(lat("1e400"), lat("-0"), lat("-0.0"),
      lat("+1.0"), geotabValid.replace("\"customGeotabField2\":100", "\"customGeotabField2\":100.5")),
      "t")
    // 1e400 renders as the quoted text "Infinity", which no cast reads
    assert(g.valid.select(col("cmf.telemetry.location.lat").cast("string")).collect()
      .map(_.getString(0)).sorted === Array("-0.0", "0.0"))
    assert(g.quarantine.count() === 3)
    val f = VehicleTranslators.ford(strings(
      fordWith(coordsOk, ""","rpm":3000.5"""),
      fordWith(coordsOk, ""","rpm":-0""")), "t")
    assert(f.valid.select("cmf.telemetry.engineRpm").collect().map(_.getDouble(0)) === Array(0.0))
    assert(f.quarantine.count() === 1)
    // nested fields render like top-level ones: 1e400 in coords quarantines
    // too (it passed as Infinity while coords was re-parsed from its text)
    val nested = VehicleTranslators.ford(strings(fordWith(coordsOk.replace("1.0", "1e400"))), "t")
    assert(nested.quarantine.count() === 1)
  }

  test("parse: invalid UTF-8 bytes read as U+FFFD and the record passes") {
    val valid = geotabValid.getBytes("UTF-8")
    def spliced(bad: Array[Byte]): Array[Byte] = {
      val at = geotabValid.indexOf("geo-device-123") + 3
      valid.take(at) ++ bad ++ valid.drop(at)
    }
    val g = VehicleTranslators.geotab(rawBytes(
      spliced(Array(0xff.toByte)), spliced(Array(0xc3.toByte))), "t")
    assert(g.quarantine.count() === 0)
    assert(g.valid.select("cmf.deviceId").collect().map(_.getString(0)).toSet ===
      Set("geo�-device-123"))
  }

  test("parse: fordExtraData with whitespace and escapes forwards its parser-rendered text") {
    val extra = """{ "a" : "xA\/y\n\"q\"" ,	"b" : [ 1 , 2.50 , -0 , true , null ] , "c":{ } }"""
    val f = VehicleTranslators.ford(strings(fordWith(coordsOk, s""","fordExtraData":$extra""")), "t")
    val wire = f.valid.select("cmf.sourceSpecificData", "cmf_json").head()
    assert(wire.getString(0) === """{"a":"xA/y\n\"q\"","b":[1,2.5,0,true,null],"c":{}}""")
    assert(wire.getString(1).contains(
      """"sourceSpecificData":{"a":"xA/y\n\"q\"","b":[1,2.5,0,true,null],"c":{}},"meta":"""))
  }

  test("parse: text after the top-level object is ignored; single quotes and scalar strings pass") {
    val g = VehicleTranslators.geotab(strings(
      geotabValid + " trailing",
      geotabValid.replace("\"geo-device-123\"", "'single'"),
      geotabValid.replace("\"geo-device-123\"", "123")), "t")
    assert(g.valid.select("cmf.deviceId").collect().map(_.getString(0)).sorted ===
      Array("123", "geo-device-123", "single"))
  }

  test("parse: an object-typed field holding a string quarantines (fordExtraData, coords)") {
    def quoted(o: String) = "\"" + o.replace("\"", "\\\"") + "\""
    def extra(values: String*) = fordWith(coordsOk, values.map(v => s""","fordExtraData":$v""").mkString)
    val aText = quoted("""{"a":1}""")
    val f = VehicleTranslators.ford(strings(
      fordWith(quoted(coordsOk)), extra(aText), extra("{}", quoted("{}"))), "t")
    assert(f.valid.count() === 0)
    assert(f.quarantine.count() === 3)
    // the last non-null value decides, as it does for every field
    val last = VehicleTranslators.ford(strings(extra(aText, """{"b":2}""", "null")), "t")
    assert(last.valid.select("cmf.sourceSpecificData").collect().map(_.getString(0)) ===
      Array("""{"b":2}"""))
  }
}
