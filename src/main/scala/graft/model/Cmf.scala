package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Common Message Format (CMF) data model, re-expressed as Spark SQL
  * schemas. Mirrors the reference envelope + telemetry field inventory
  * (CommonMessageFormat.kt:180–479) exactly, with these type mappings:
  *
  *  - enums (SourceType, IgnitionStatus, … — 15 of them) → StringType;
  *    normalization to the enum domain (incl. the observable `UNKNOWN`
  *    catch-all, GeotabTranslator.kt:120–124) happens in the translators
  *  - `Map<String, Any>` open-world fields (`sourceSpecificData`,
  *    `meta.additionalProperties` value side, `details`) have no sound Spark
  *    type → carried as raw-JSON StringType / MapType(String,String)
  *  - epoch values are LongType epoch-milliseconds (the reference documents
  *    seconds at CommonMessageFormat.kt:456 but every translator writes
  *    milliseconds — GeotabTranslator.kt:108; milliseconds win)
  *
  * Everything is nullable, matching "All properties are optional to
  * accommodate variations" (CommonMessageFormat.kt CommonTelemetry doc).
  */
object Cmf {

  private val locationType: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("lon", DoubleType),
    StructField("lat", DoubleType)
  ))

  private val tirePressureType: StructType = StructType(Seq(
    StructField("pressures", MapType(StringType, DoubleType))
  ))

  private val windowStatusType: StructType = StructType(Seq(
    StructField("statuses", MapType(StringType, StringType))
  ))

  private val brakePadLifeType: StructType = StructType(Seq(
    StructField("frontPct", DoubleType),
    StructField("rearPct", DoubleType)
  ))

  /** CommonTelemetry fields in declaration order (CommonMessageFormat.kt:282–419). */
  private val telemetryFields: Seq[StructField] = Seq(
    StructField("location", locationType),
    StructField("ignitionStatus", StringType),
    StructField("speedCanMph", DoubleType),
    StructField("speedGpsMph", DoubleType),
    StructField("odometerCanMi", DoubleType),
    StructField("odometerGpsMi", DoubleType),
    StructField("fuelLevelPct", DoubleType),
    StructField("fuelLevelGallon", DoubleType),
    StructField("engineRunTimeCanHrs", DoubleType),
    StructField("batteryVoltage", DoubleType),
    StructField("engineCoolantTempC", DoubleType),
    StructField("devicePowerSource", StringType),
    StructField("dieselExhaustFluidLevel", DoubleType),
    StructField("heading", DoubleType),
    StructField("engineOilPressure", DoubleType),
    StructField("ambientTemp", DoubleType),
    StructField("milStatus", StringType),
    StructField("collisionState", StringType),
    StructField("oilLifePct", DoubleType),
    StructField("tirePressure", tirePressureType),
    StructField("engineRpm", DoubleType),
    StructField("engineIdleTimeCanHrs", DoubleType),
    StructField("gearPosition", StringType),
    StructField("windowStatus", windowStatusType),
    StructField("sunRoofStatus", StringType),
    StructField("acceleration", DoubleType),
    StructField("accelerationLat", DoubleType),
    StructField("evEnergyRemaining", DoubleType),
    StructField("evPlugStatus", StringType),
    StructField("evBatteryRange", DoubleType),
    StructField("evBatteryRangeConservative", DoubleType),
    StructField("evBatteryLevel", DoubleType),
    StructField("evChargingState", StringType),
    StructField("evChargingEnergyAdded", DoubleType),
    StructField("evChargingRate", DoubleType),
    StructField("evTimeToFullCharge", DoubleType),
    StructField("evChargingVoltage", DoubleType),
    StructField("evChargingCurrent", DoubleType),
    StructField("evChargeType", StringType),
    StructField("evLifetimeEnergyAdded", DoubleType),
    StructField("seatbeltStatus", StringType),
    StructField("cellRssiStatus", StringType),
    StructField("dieselExhaustFilterChangeCleanLight", StringType),
    StructField("engineCoolantLevel", DoubleType),
    StructField("engineHotLight", StringType),
    StructField("engineOilChangeLight", StringType),
    StructField("engineOilLevelLowLight", StringType),
    StructField("engineOilLight", StringType),
    StructField("engineTransOilTemp", DoubleType),
    StructField("fuelAlcoholContent", DoubleType),
    StructField("fuelFillerCapLight", StringType),
    StructField("fuelFilterLife", DoubleType),
    StructField("fuelFilterLight", StringType),
    StructField("transmissionFluidChangeLight", StringType),
    StructField("waterDetectedInFuelLight", StringType),
    StructField("evEnergyUsedFromDeviceInstall", DoubleType),
    StructField("crankingVoltage", DoubleType),
    StructField("lifetimeFuelEconomy", DoubleType),
    StructField("lifetimeEVEfficiency", DoubleType),
    StructField("evChargingPower", DoubleType),
    StructField("frontPassengerSeatBeltStatus", StringType),
    StructField("fuelAmount", DoubleType),
    StructField("brakePadLife", brakePadLifeType),
    StructField("engineAirFilterLife", DoubleType),
    StructField("dieselExhaustFluidStatus", StringType),
    StructField("dieselExhaustFilterStatus", StringType),
    StructField("fuelLevelAdjusted", DoubleType),
    StructField("fuelAmountAdjusted", DoubleType)
  )

  private val dtcEventType: StructType = StructType(Seq(
    StructField("code", StringType),
    StructField("description", StringType),
    StructField("timestamp", StringType),
    StructField("isActive", BooleanType)
  ))

  private val serviceWarningEventType: StructType = StructType(Seq(
    StructField("warningType", StringType),
    StructField("message", StringType),
    StructField("timestamp", StringType),
    StructField("severity", StringType)
  ))

  /** Hard accel / hard braking / harsh cornering (CommonMessageFormat.kt CommonHAHBHC). */
  private val hahbhcType: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("magnitude", DoubleType),
    StructField("timestamp", StringType),
    StructField("durationMs", LongType)
  ))

  private val predeliveryEventType: StructType = StructType(Seq(
    StructField("eventName", StringType),
    StructField("timestamp", StringType),
    StructField("details", StringType) // Map<String,Any> → raw JSON
  ))

  private val deviceEventType: StructType = StructType(Seq(
    StructField("eventType", StringType),
    StructField("timestamp", StringType),
    StructField("details", StringType) // Map<String,Any> → raw JSON
  ))

  private val eventsType: StructType = StructType(Seq(
    StructField("dtcEvents", ArrayType(dtcEventType)),
    StructField("serviceWarningsEvents", ArrayType(serviceWarningEventType)),
    StructField("hardBraking", ArrayType(hahbhcType)),
    StructField("hardAcceleration", ArrayType(hahbhcType)),
    StructField("harshCornering", ArrayType(hahbhcType)),
    StructField("predeliveryEvents", ArrayType(predeliveryEventType)),
    StructField("deviceEvents", ArrayType(deviceEventType))
  ))

  val metaType: StructType = StructType(Seq(
    StructField("additionalProperties", MapType(StringType, StringType))
  ))

  /** Build a full CommonTelemetry struct column: every field present (in
    * declaration order), overridden fields bound, the rest typed nulls.
    * Keeping the full width means downstream consumers see one stable schema
    * no matter which source produced the row. */
  def telemetryStruct(overrides: Map[String, Column]): Column = {
    // fail fast on a typo'd binding — getOrElse would silently drop it and
    // emit the real field as null, surfacing only if an oracle reads it
    val unknown = overrides.keySet -- telemetryFields.map(_.name).toSet
    require(unknown.isEmpty,
      s"telemetryStruct: unknown telemetry field(s) ${unknown.mkString(", ")}")
    val cols = telemetryFields.map { f =>
      overrides.getOrElse(f.name, lit(null).cast(f.dataType)).as(f.name)
    }
    struct(cols: _*)
  }

  /** Normalize a free-form status string into a closed enum domain with the
    * `UNKNOWN` catch-all the reference applies (GeotabTranslator.kt:120–124:
    * `when (s?.uppercase()) { "ON" -> ON; "OFF" -> OFF; else -> UNKNOWN }`).
    * NULL input also maps to UNKNOWN, matching the Kotlin `when` semantics. */
  def enumNormalize(c: Column, domain: Seq[String]): Column = {
    require(domain.nonEmpty, "enumNormalize needs a non-empty domain")
    domain.tail.foldLeft(
      when(upper(c) === domain.head.toUpperCase, domain.head)) { (acc, v) =>
      acc.when(upper(c) === v.toUpperCase, v)
    }.otherwise("UNKNOWN")
  }

  /** Assemble the full CMF envelope struct. `sourceSpecificData` must already
    * be a JSON-text column; `meta` keys land in `additionalProperties`. */
  def envelope(
      dateTime: Column,
      epochSource: Column,
      vehicleId: Column,
      deviceId: Column,
      tenantId: Column,
      sourceType: Column,
      partitionKey: Column,
      telemetry: Column,
      sourceSpecificData: Column,
      metaProps: Map[String, Column]): Column = {
    val metaCol =
      if (metaProps.isEmpty) lit(null).cast(metaType)
      else struct(map(metaProps.flatMap { case (k, v) => Seq(lit(k), v) }.toSeq: _*)
        .as("additionalProperties"))
    struct(
      dateTime.as("dateTime"),
      epochSource.as("epochSource"),
      vehicleId.as("vehicleId"),
      deviceId.as("deviceId"),
      tenantId.as("tenantId"),
      sourceType.as("sourceType"),
      partitionKey.as("partitionKey"),
      telemetry.as("telemetry"),
      lit(null).cast(eventsType).as("events"),
      sourceSpecificData.as("sourceSpecificData"),
      metaCol.as("meta")
    )
  }
}
