package graft.translate

import graft.functions.{CmfWire, JsonFields, JsonShape}
import graft.model.Cmf
import graft.time.IsoTime
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A translator's output: ONE frame tagged row by row — the input's
  * columns, `_ok`, and the `derived` columns, which mean something only
  * where `_ok` holds — from which the happy and poison paths are cut here
  * and nowhere else.
  *
  * The reference drops poison records with a log line
  * (GeotabTranslator.kt:154–157 returns null on any parse/validation error);
  * we keep them as a first-class quarantine instead — same observable happy
  * path, auditable error path (SURVEY.md §2.3 R4).
  */
final case class Translated(tagged: DataFrame, derived: Seq[String]) {
  /** Rows that passed validation: every column but `_ok`. */
  def valid: DataFrame = tagged.filter(Translated.ok).drop("_ok")
  /** Rows that failed, as they came in: the input's columns only. */
  def quarantine: DataFrame = tagged.filter(!Translated.ok).drop("_ok" +: derived: _*)
}

object Translated {
  /** The per-row verdict column of every tagged frame. */
  val ok: Column = col("_ok")

  /** Tags each row of `parsed` with `ok` (NULL counts as poison), adds the
    * `derived` columns in order (later ones may read earlier ones), and
    * drops the translator's `_j_*` parse columns. */
  def tag(parsed: DataFrame, ok: Column, derived: (String, Column)*): Translated = {
    val tagged = derived.foldLeft(parsed.withColumn("_ok", coalesce(ok, lit(false)))) {
      case (df, (name, c)) => df.withColumn(name, c)
    }
    Translated(tagged.drop(parsed.columns.filter(_.startsWith("_j_")): _*),
      derived.map(_._1))
  }
}

/** The three per-source → CMF translators, re-expressed as Catalyst
  * expression pipelines (one native field parse, then `select`) instead of
  * per-record functions. No UDFs, no mapPartitions: each translator is one
  * Generate node and one narrow projection, so at 100 TB it runs scan-speed
  * with zero shuffles.
  *
  * Semantics cloned from the reference (file:line cited per rule below):
  *  - GeotabTranslator.kt:91–158  (ISO input, enum decode, custom fields)
  *  - CalAmpTranslator.kt:83–141  (epoch-seconds×1000)
  *  - FordTranslator.kt:99–156    (epoch-ms, nested coords, rpm Int→Double)
  *
  * Error contract (all three): Jackson with Kotlin data classes fails the
  * whole record on (a) malformed JSON, (b) missing required constructor args,
  * (c) unknown fields (`FAIL_ON_UNKNOWN_PROPERTIES` default) or an
  * object-typed field holding something else — the record is dropped, never
  * the job. We reproduce (a) via the parse's all-NULL row, (b) via
  * required-field predicates, (c) via the parse's per-level reject flags
  * ([[JsonFields]]).
  */
object VehicleTranslators {

  /** The input data classes' keys: GeotabInputMessage
    * (GeotabTranslator.kt:34–47), CalAmpInputMessage (CalAmpTranslator.kt:31–42)
    * and FordInputMessage with its nested FordCoordinates; Ford's
    * `fordExtraData` is a `Map<String, Any>`, so it must be an object. */
  private val geotabShape = JsonShape(Seq("Device_ID", "Vehicle_ID", "Record_DateTime",
    "Latitude", "Longitude", "Odometer_mi", "EngineSpeed_rpm", "Fuel_Level_pct",
    "Ignition_Status", "customGeotabField1", "customGeotabField2"))
  private val calAmpShape = JsonShape(Seq("unit_id", "vid", "msg_ts", "gps_lat", "gps_lon",
    "speed_mph", "fuel_percent", "voltage", "calAmpSpecificValue"))
  private val fordShape = JsonShape(
    Seq("vin", "esn", "captureTime", "coords", "vehicleSpeed",
      "fuelRemainingGallons", "rpm", "fordExtraData"),
    objects = Set("fordExtraData"),
    nested = Map("coords" -> JsonShape(Seq("latValue", "lonValue", "ts"))))

  /** Parses each message ONCE into `_j_*` columns: one string per field
    * (`_j_coords_<f>` for Ford's nested coords) and a `_j_reject` flag per
    * object level. */
  private def parse(raw: DataFrame, shape: JsonShape): DataFrame =
    raw.select(col("*"), JsonFields(col("value"), shape, "_j_"))

  private def j(f: String): Column = col(s"_j_$f")
  /** ANSI-safe numeric widening: a non-numeric string in a numeric field
    * must poison the record (Jackson parity), not fail the job. */
  private def jd(f: String): Column = expr(s"try_cast(_j_$f AS DOUBLE)")
  private def jl(f: String): Column = expr(s"try_cast(_j_$f AS BIGINT)")
  /** Jackson parity for OPTIONAL numeric fields: absent/null is fine, but a
    * present non-numeric value fails the whole record (InvalidFormatException
    * in the reference's data-class binding). */
  private def optNumOk(fields: (String => Column), names: Seq[String]): Column =
    names.map(f => j(f).isNull || fields(f).isNotNull).reduce(_ && _)

  /** The CMF struct and its wire form, the columns every vehicle translator
    * derives. */
  private def finish(parsed: DataFrame, ok: Column, cmf: Column): Translated =
    Translated.tag(parsed, ok, "cmf" -> cmf, "cmf_json" -> CmfJson.wire(col("cmf")))

  /** Geotab raw JSON → CMF. Input DataFrame needs a `value` StringType column
    * (one message per row). `tenant` plays the role of `context.tenant`
    * (GeotabTranslator.kt:141). */
  def geotab(raw: DataFrame, tenant: String): Translated = {
    val parsed = parse(raw, geotabShape)
    val epochSource = IsoTime.epochMillisFromIso(j("Record_DateTime"))
    val ok = j("Device_ID").isNotNull && j("Vehicle_ID").isNotNull &&
      epochSource.isNotNull &&
      jd("Latitude").isNotNull && jd("Longitude").isNotNull &&
      optNumOk(jd, Seq("Odometer_mi", "EngineSpeed_rpm", "Fuel_Level_pct")) &&
      (j("customGeotabField2").isNull ||
        expr("try_cast(_j_customGeotabField2 AS INT)").isNotNull) &&
      !j("reject")

    val dateTime = IsoTime.isoFromEpochMillis(epochSource)
    val telemetry = Cmf.telemetryStruct(Map(
      "location" -> struct(dateTime.as("timestamp"), jd("Longitude").as("lon"),
        jd("Latitude").as("lat")),
      "odometerCanMi" -> jd("Odometer_mi"),
      "engineRpm" -> jd("EngineSpeed_rpm"),
      "fuelLevelPct" -> jd("Fuel_Level_pct"),
      "ignitionStatus" -> Cmf.enumNormalize(j("Ignition_Status"), Seq("ON", "OFF"))
    ))
    // filterValues { it != null } (GeotabTranslator.kt:130–133) ≡ to_json's
    // default null-field dropping.
    val ssd = to_json(struct(
      j("customGeotabField1").as("customGeotabField1"),
      expr("try_cast(_j_customGeotabField2 AS INT)").as("customGeotabField2")))
    val cmf = Cmf.envelope(dateTime, epochSource, j("Vehicle_ID"), j("Device_ID"),
      lit(tenant), lit("Geotab"), j("Vehicle_ID"), telemetry, ssd,
      Map("translator" -> lit("GeotabTranslator_v1.0")))
    finish(parsed, ok, cmf)
  }

  /** CalAmp raw JSON → CMF. `msg_ts` is epoch SECONDS; epochSource is
    * seconds×1000 (CalAmpTranslator.kt:100). */
  def calAmp(raw: DataFrame, tenant: String): Translated = {
    val parsed = parse(raw, calAmpShape)
    // try_multiply: ANSI mode would throw on a schema-valid message whose
    // msg_ts overflows ×1000; overflow → NULL → quarantined (the reference's
    // Kotlin wraps silently — quarantine is the documented divergence)
    val epochSource = try_multiply(jl("msg_ts"), lit(1000L))
    val ok = j("unit_id").isNotNull && j("vid").isNotNull &&
      epochSource.isNotNull && IsoTime.representableMs(epochSource) &&
      jd("gps_lat").isNotNull && jd("gps_lon").isNotNull &&
      optNumOk(jd, Seq("speed_mph", "fuel_percent", "voltage")) && !j("reject")
    val dateTime = IsoTime.isoFromEpochMillis(epochSource)
    val telemetry = Cmf.telemetryStruct(Map(
      "location" -> struct(dateTime.as("timestamp"), jd("gps_lon").as("lon"),
        jd("gps_lat").as("lat")),
      "speedGpsMph" -> jd("speed_mph"),
      "fuelLevelPct" -> jd("fuel_percent"),
      "batteryVoltage" -> jd("voltage")
    ))
    val ssd = to_json(struct(j("calAmpSpecificValue").as("calAmpSpecificValue")))
    val cmf = Cmf.envelope(dateTime, epochSource, j("vid"), j("unit_id"),
      lit(tenant), lit("CalAmp"), j("vid"), telemetry, ssd,
      Map("translator" -> lit("CalAmpTranslator_v1.0")))
    finish(parsed, ok, cmf)
  }

  /** Ford raw JSON → CMF. Two independent timestamps: envelope from
    * `captureTime`, location from `coords.ts` (FordTranslator.kt:116–117);
    * `rpm` Int widened to Double (:127); `fordExtraData` forwarded verbatim,
    * `{}` when absent (:131). */
  def ford(raw: DataFrame, tenant: String): Translated = {
    val parsed = parse(raw, fordShape)
    def jcd(f: String): Column = jd(s"coords_$f")
    val locEpoch = jl("coords_ts")
    val ok = j("vin").isNotNull && j("esn").isNotNull &&
      jl("captureTime").isNotNull && IsoTime.representableMs(jl("captureTime")) &&
      jcd("latValue").isNotNull && jcd("lonValue").isNotNull &&
      locEpoch.isNotNull && IsoTime.representableMs(locEpoch) &&
      optNumOk(jd, Seq("vehicleSpeed", "fuelRemainingGallons")) &&
      (j("rpm").isNull || expr("try_cast(_j_rpm AS INT)").isNotNull) &&
      // FAIL_ON_UNKNOWN_PROPERTIES applies to the NESTED FordCoordinates
      // binding too; `fordExtraData` is one object, spliced into the wire
      // as its parsed text, so nothing can trail it there
      !j("reject") && !j("coords_reject")

    val dateTime = IsoTime.isoFromEpochMillis(jl("captureTime"))
    val locTime = IsoTime.isoFromEpochMillis(locEpoch)
    val telemetry = Cmf.telemetryStruct(Map(
      "location" -> struct(locTime.as("timestamp"), jcd("lonValue").as("lon"),
        jcd("latValue").as("lat")),
      "speedGpsMph" -> jd("vehicleSpeed"),
      "fuelLevelGallon" -> jd("fuelRemainingGallons"),
      "engineRpm" -> expr("try_cast(_j_rpm AS INT)").cast(DoubleType)
    ))
    // fordExtraData is forwarded verbatim as raw JSON text; `{}` when absent.
    val ssd = coalesce(j("fordExtraData"), lit("{}"))
    val cmf = Cmf.envelope(dateTime, jl("captureTime"), j("vin"), j("esn"),
      lit(tenant), lit("Ford"), j("vin"), telemetry, ssd,
      Map("translator" -> lit("FordTranslator_v1.0")))
    finish(parsed, ok, cmf)
  }
}

/** CMF wire-format serialization. Jackson serializes the Kotlin data classes
  * with nulls included and fields in declaration order; `sourceSpecificData`
  * is a raw JSON object, which `to_json` would re-escape as a string — so the
  * envelope is serialized in two parts and the payload spliced in verbatim
  * ([[CmfWire]]). */
object CmfJson {
  def wire(cmf: Column): Column = CmfWire(
    to_json(struct(Seq("dateTime", "epochSource", "vehicleId", "deviceId", "tenantId",
      "sourceType", "partitionKey", "telemetry", "events").map(f => cmf(f).as(f)): _*),
      Map("ignoreNullFields" -> "false")),
    cmf("sourceSpecificData"),
    coalesce(to_json(cmf("meta"), Map("ignoreNullFields" -> "false")), lit("null")))
}
