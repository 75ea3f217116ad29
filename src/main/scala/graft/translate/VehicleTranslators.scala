package graft.translate

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

/** The three per-source → CMF translators, re-expressed as pure Catalyst
  * expression pipelines (`from_json` + `select`) instead of per-record
  * functions. No UDFs, no mapPartitions: each translator is one narrow
  * projection that whole-stage-codegen fuses with the surrounding plan, so at
  * 100 TB it runs scan-speed with zero shuffles.
  *
  * Semantics cloned from the reference (file:line cited per rule below):
  *  - GeotabTranslator.kt:91–158  (ISO input, enum decode, custom fields)
  *  - CalAmpTranslator.kt:83–141  (epoch-seconds×1000)
  *  - FordTranslator.kt:99–156    (epoch-ms, nested coords, rpm Int→Double)
  *
  * Error contract (all three): Jackson with Kotlin data classes fails the
  * whole record on (a) malformed JSON, (b) missing required constructor args,
  * (c) unknown top-level fields (`FAIL_ON_UNKNOWN_PROPERTIES` default) — the
  * record is dropped, never the job. We reproduce (a) via PERMISSIVE
  * `from_json` null-out, (b) via required-field predicates, (c) via a
  * `json_object_keys` ⊆ allowed-keys check.
  */
object VehicleTranslators {

  /** GeotabInputMessage (GeotabTranslator.kt:34–47). */
  private val geotabInputSchema: StructType = StructType(Seq(
    StructField("Device_ID", StringType),
    StructField("Vehicle_ID", StringType),
    StructField("Record_DateTime", StringType),
    StructField("Latitude", DoubleType),
    StructField("Longitude", DoubleType),
    StructField("Odometer_mi", DoubleType),
    StructField("EngineSpeed_rpm", DoubleType),
    StructField("Fuel_Level_pct", DoubleType),
    StructField("Ignition_Status", StringType),
    StructField("customGeotabField1", StringType),
    StructField("customGeotabField2", IntegerType)
  ))

  /** CalAmpInputMessage (CalAmpTranslator.kt:31–42). */
  private val calAmpInputSchema: StructType = StructType(Seq(
    StructField("unit_id", StringType),
    StructField("vid", StringType),
    StructField("msg_ts", LongType),
    StructField("gps_lat", DoubleType),
    StructField("gps_lon", DoubleType),
    StructField("speed_mph", DoubleType),
    StructField("fuel_percent", DoubleType),
    StructField("voltage", DoubleType),
    StructField("calAmpSpecificValue", StringType)
  ))

  private val fordAllKeys = Seq("vin", "esn", "captureTime", "coords",
    "vehicleSpeed", "fuelRemainingGallons", "rpm", "fordExtraData")

  /** Jackson-parity strictness: a syntactically valid JSON object with a
    * top-level key outside the input data class is rejected
    * (FAIL_ON_UNKNOWN_PROPERTIES — load_test.py:32–42 relies on this to
    * poison the Geotab path). `json_object_keys` is null on non-objects;
    * those are caught by the malformed check already. */
  private def hasUnknownKeys(valueCol: Column, allowed: Seq[String]): Column = {
    val keys = call_function("json_object_keys", valueCol)
    coalesce(size(array_except(keys, array(allowed.map(lit): _*))) > 0, lit(false))
  }

  /** Exactly one JSON object with nothing after it. `json_object_keys` reads
    * the first object and ignores what trails it; `json_array_length` stops
    * at the first `]` it meets. So the text must be an object that counts as
    * one element in `[t]` (no trailing member or value) and as two in
    * `[t,0]` (no trailing `]` closing the array early). */
  private def isOneJsonObject(t: Column): Column = {
    def elements(suffix: String): Column =
      call_function("json_array_length", concat(lit("["), t, lit(suffix)))
    call_function("json_object_keys", t).isNotNull &&
      elements("]") === 1 && elements(",0]") === 2
  }

  /** Parse each message ONCE with the `json_tuple` generator into `_j_*`
    * string columns. A `from_json` struct alias would be substituted into
    * every downstream field reference by Catalyst's filter-pushdown, cloning
    * the (non-codegen) parse per reference; a Generate node is not an alias
    * and cannot be inlined, so the parse stays single. */
  private def jsonTupled(raw: DataFrame, fields: Seq[String]): DataFrame =
    raw.select(col("*"),
      json_tuple(col("value"), fields: _*).as(fields.map(f => s"_j_$f")))

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
    val fields = geotabInputSchema.fieldNames.toSeq
    val parsed = jsonTupled(raw, fields)
    val epochSource = IsoTime.epochMillisFromIso(j("Record_DateTime"))
    val ok = j("Device_ID").isNotNull && j("Vehicle_ID").isNotNull &&
      epochSource.isNotNull &&
      jd("Latitude").isNotNull && jd("Longitude").isNotNull &&
      optNumOk(jd, Seq("Odometer_mi", "EngineSpeed_rpm", "Fuel_Level_pct")) &&
      (j("customGeotabField2").isNull ||
        expr("try_cast(_j_customGeotabField2 AS INT)").isNotNull) &&
      !hasUnknownKeys(col("value"), fields)

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
    val fields = calAmpInputSchema.fieldNames.toSeq
    val parsed = jsonTupled(raw, fields)
    // try_multiply: ANSI mode would throw on a schema-valid message whose
    // msg_ts overflows ×1000; overflow → NULL → quarantined (the reference's
    // Kotlin wraps silently — quarantine is the documented divergence)
    val epochSource = try_multiply(jl("msg_ts"), lit(1000L))
    val ok = j("unit_id").isNotNull && j("vid").isNotNull &&
      epochSource.isNotNull && IsoTime.representableMs(epochSource) &&
      jd("gps_lat").isNotNull && jd("gps_lon").isNotNull &&
      optNumOk(jd, Seq("speed_mph", "fuel_percent", "voltage")) &&
      !hasUnknownKeys(col("value"), fields)
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
    * `{}` when absent (:131). The nested `coords` object costs one extra
    * (tiny) json_tuple over its extracted text. */
  def ford(raw: DataFrame, tenant: String): Translated = {
    val top = fordAllKeys
    val sub = Seq("latValue", "lonValue", "ts")
    val parsed = jsonTupled(raw, top)
      .select(col("*"),
        json_tuple(col("_j_coords"), sub: _*).as(sub.map(f => s"_j_c_$f")))
    def jcd(f: String): Column = expr(s"try_cast(_j_c_$f AS DOUBLE)")
    val ok = j("vin").isNotNull && j("esn").isNotNull &&
      jl("captureTime").isNotNull &&
      IsoTime.representableMs(jl("captureTime")) && j("coords").isNotNull &&
      jcd("latValue").isNotNull && jcd("lonValue").isNotNull &&
      expr("try_cast(_j_c_ts AS BIGINT)").isNotNull &&
      IsoTime.representableMs(expr("try_cast(_j_c_ts AS BIGINT)")) &&
      optNumOk(jd, Seq("vehicleSpeed", "fuelRemainingGallons")) &&
      (j("rpm").isNull || expr("try_cast(_j_rpm AS INT)").isNotNull) &&
      // fordExtraData: Map<String,Any> binding requires ONE JSON object,
      // and its text is spliced into the wire verbatim, so nothing may trail
      // it: a trailing `, "meta": {...}` would give the wire a second `meta`
      // member that a wire-reading router sees first.
      // KNOWN LIMITATION (json_tuple type erasure): a STRING value whose
      // text is exactly one object ("{\"a\":1}") extracts to the same
      // unescaped text as a real object and passes, where Jackson would
      // reject the record — telling them apart needs a raw JSON tokenizer,
      // which no built-in exposes. Same erasure accepts non-string scalars
      // in string-typed fields.
      (j("fordExtraData").isNull || isOneJsonObject(j("fordExtraData"))) &&
      !hasUnknownKeys(col("value"), fordAllKeys) &&
      // FAIL_ON_UNKNOWN_PROPERTIES applies to the NESTED FordCoordinates
      // binding too — an unknown key inside coords must quarantine exactly
      // like one at the top level (json_tuple surfaces the coords object's
      // raw text, so the same key check applies)
      !hasUnknownKeys(j("coords"), sub)

    val dateTime = IsoTime.isoFromEpochMillis(jl("captureTime"))
    val locTime = IsoTime.isoFromEpochMillis(expr("try_cast(_j_c_ts AS BIGINT)"))
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
  * envelope is serialized in two parts and the payload spliced in verbatim. */
object CmfJson {
  def wire(cmf: Column): Column = {
    val head = to_json(struct(
      cmf("dateTime").as("dateTime"),
      cmf("epochSource").as("epochSource"),
      cmf("vehicleId").as("vehicleId"),
      cmf("deviceId").as("deviceId"),
      cmf("tenantId").as("tenantId"),
      cmf("sourceType").as("sourceType"),
      cmf("partitionKey").as("partitionKey"),
      cmf("telemetry").as("telemetry"),
      cmf("events").as("events")
    ), Map("ignoreNullFields" -> "false"))
    val meta = to_json(cmf("meta"), Map("ignoreNullFields" -> "false"))
    concat(
      substring_trailer_drop(head),
      lit(",\"sourceSpecificData\":"), cmf("sourceSpecificData"),
      lit(",\"meta\":"), coalesce(meta, lit("null")),
      lit("}"))
  }

  /** `head` minus its trailing `}` so more members can be appended. */
  private def substring_trailer_drop(c: Column): Column =
    c.substr(lit(1), length(c) - 1)
}
