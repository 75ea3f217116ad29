package pipebench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** A raw vehicle record and what the topology must make of it: a poison
  * record lands in the dead-letter output byte for byte under `tag`; a
  * valid one is translated to CMF and, having no `meta.tenantId`, is
  * dropped by the Filterer to the dead-letter output under `filterer`. */
final case class VehicleRec(line: String, tag: String, poison: Boolean,
                            deviceId: String, vehicleId: String,
                            epochSource: Long, sourceType: String)

/** A legacy payload of kind `kind` (the index into the five translators).
  * A valid one must appear once on `topic` as an envelope whose `eventId`
  * is sha256(source|eventType|payload) and whose `data` is the payload. */
final case class LegacyRec(payload: String, kind: Int, poison: Boolean,
                           topic: String, eventId: String)

/** A message on the CMF topic. `topic` is its tenant topic, or null when
  * the Filterer must drop it. */
final case class CmfMsg(line: String, topic: String)

/** The benchmark's own seeded input generator. It shares no code with the
  * program: every expectation below is written from the reference
  * contracts (translator input classes, Filterer and splitter topic
  * naming), so a fault in the program cannot hide in its own oracle. */
object Inputs {

  /** One raw source topic: its directory name under the spool base and the
    * dead-letter tag its translator's poison records carry. */
  final case class VehicleSource(topicDir: String, tag: String, sourceType: String)
  val vehicleSources: Seq[VehicleSource] = Seq(
    VehicleSource("raw-kinesis-events", "geotab-translator", "Geotab"),
    VehicleSource("raw-kafka-events", "calamp-translator", "CalAmp"),
    VehicleSource("raw-http-events", "ford-translator", "Ford"))

  /** The five legacy kinds in translator order: (source, eventType, topic). */
  val legacyKinds: Seq[(String, String, String)] = Seq(
    ("user-service", "USER_PROFILE_EVENT", "user-profile-events"),
    ("order-service", "ORDER_EVENT", "order-events"),
    ("inventory-service", "INVENTORY_EVENT", "inventory-events"),
    ("payment-gateway", "PAYMENT_EVENT", "payment-events"),
    ("shipping-service", "SHIPMENT_EVENT", "shipment-events"))
    .map { case (s, e, t) => (s, e, s"persistent://acme/integration/$t") }

  val Tenants = 64
  /** Zipf exponent of the tenant draw: tenant-00 gets ~21% of routable
    * messages, tenant-63 ~0.3%. */
  val TenantSkew = 1.0
  /** Poison share of vehicle and legacy records, per mille. */
  val PoisonPerMille = 40
  /** Unroutable share of CMF-topic messages, per mille (five shapes). */
  val UnroutablePerMille = 50

  private val isoSeconds =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  private def num(d: Double): String = String.format(Locale.ROOT, "%.5f", d)

  private def iso(epochMs: Long): String = {
    val base = isoSeconds.format(Instant.ofEpochMilli(epochMs))
    val ms = Math.floorMod(epochMs, 1000L)
    if (ms == 0) base + "Z" else base + String.format(Locale.ROOT, ".%03dZ", ms)
  }

  private def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** A poison class in [0, classes), or -1 for a valid record. */
  private def poisonClass(r: SplittableRandom, perMille: Int, classes: Int): Int = {
    val u = r.nextInt(1000)
    if (u < perMille) u % classes else -1
  }

  /** Drops the tail of a JSON object, leaving it unterminated. */
  private def truncate(json: String): String = json.substring(0, json.length * 2 / 3)

  /** `n` records per vehicle source, in source order. Poison classes:
    * malformed JSON, a missing required field, an unknown top-level key, a
    * non-numeric value in a numeric field and, for Ford, an unknown key
    * inside `coords`. */
  def vehicle(seed: Long, n: Int): Seq[Seq[VehicleRec]] = {
    val epochBase = 1700000000000L
    val geotab = {
      val r = rng(seed, 1)
      (0 until n).map { i =>
        val dev = f"GT-$i%07d"
        val veh = f"veh-${r.nextInt(20000)}%05d"
        val ms = epochBase + r.nextInt(1 << 30).toLong * 1000L + (if (r.nextBoolean()) r.nextInt(1000) else 0)
        val fields = Seq(
          Some(s""""Device_ID":"$dev""""),
          Some(s""""Vehicle_ID":"$veh""""),
          Some(s""""Record_DateTime":"${iso(ms)}""""),
          Some(s""""Latitude":${num(r.nextDouble() * 180 - 90)}"""),
          Some(s""""Longitude":${num(r.nextDouble() * 360 - 180)}"""),
          Option.when(r.nextInt(10) < 8)(s""""Odometer_mi":${num(r.nextDouble() * 200000)}"""),
          Option.when(r.nextInt(10) < 7)(s""""EngineSpeed_rpm":${r.nextInt(6000)}.0"""),
          Option.when(r.nextInt(10) < 9)(s""""Fuel_Level_pct":${num(r.nextDouble() * 100)}"""),
          Some(s""""Ignition_Status":"${Seq("ON", "OFF", "on", "AJAR")(r.nextInt(4))}""""),
          Option.when(r.nextBoolean())(s""""customGeotabField1":"grp-${r.nextInt(50)}""""),
          Option.when(r.nextBoolean())(s""""customGeotabField2":${r.nextInt(100)}"""))
        val valid = fields.flatten
        val c = poisonClass(r, PoisonPerMille, 4)
        val line = c match {
          case -1 => valid.mkString("{", ",", "}")
          case 0 => truncate(valid.mkString("{", ",", "}"))
          case 1 => valid.filterNot(_.startsWith("\"Vehicle_ID\"")).mkString("{", ",", "}")
          case 2 => (valid :+ s""""Trip_ID":"trip-$i"""").mkString("{", ",", "}")
          case _ => valid.map(f => if (f.startsWith("\"Latitude\"")) "\"Latitude\":\"north\"" else f)
                      .mkString("{", ",", "}")
        }
        VehicleRec(line, vehicleSources(0).tag, c >= 0, dev, veh, ms, vehicleSources(0).sourceType)
      }
    }
    val calamp = {
      val r = rng(seed, 2)
      (0 until n).map { i =>
        val unit = f"CA-$i%07d"
        val vid = f"cv-${r.nextInt(20000)}%05d"
        val secs = epochBase / 1000 + r.nextInt(1 << 30)
        val valid = Seq(
          Some(s""""unit_id":"$unit""""),
          Some(s""""vid":"$vid""""),
          Some(s""""msg_ts":$secs"""),
          Some(s""""gps_lat":${num(r.nextDouble() * 160 - 80)}"""),
          Some(s""""gps_lon":${num(r.nextDouble() * 340 - 170)}"""),
          Option.when(r.nextInt(10) < 6)(s""""speed_mph":${num(r.nextDouble() * 80)}"""),
          Option.when(r.nextInt(10) < 9)(s""""fuel_percent":${num(r.nextDouble() * 100)}"""),
          Option.when(r.nextInt(10) < 5)(s""""voltage":${num(11 + r.nextDouble() * 3)}"""),
          Option.when(r.nextBoolean())(s""""calAmpSpecificValue":"cfg-${r.nextInt(1000)}"""")).flatten
        val c = poisonClass(r, PoisonPerMille, 4)
        val line = c match {
          case -1 => valid.mkString("{", ",", "}")
          case 0 => truncate(valid.mkString("{", ",", "}"))
          case 1 => valid.filterNot(_.startsWith("\"vid\"")).mkString("{", ",", "}")
          case 2 => (valid :+ s""""firmware":"fw-${r.nextInt(9)}"""").mkString("{", ",", "}")
          case _ => valid.map(f => if (f.startsWith("\"gps_lat\"")) "\"gps_lat\":\"n/a\"" else f)
                      .mkString("{", ",", "}")
        }
        VehicleRec(line, vehicleSources(1).tag, c >= 0, unit, vid, secs * 1000L, vehicleSources(1).sourceType)
      }
    }
    val ford = {
      val r = rng(seed, 3)
      (0 until n).map { i =>
        val esn = f"FE-$i%07d"
        val vin = f"1FT${r.nextInt(1 << 30)}%010d"
        val ms = epochBase + r.nextInt(1 << 30).toLong * 1000L + r.nextInt(1000)
        val coords = Seq(s""""latValue":${num(r.nextDouble() * 180 - 90)}""",
          s""""lonValue":${num(r.nextDouble() * 360 - 180)}""",
          s""""ts":${ms - r.nextInt(5000)}""")
        def body(cs: Seq[String], top: Seq[Option[String]]): String =
          (top.take(3).flatten ++ Seq(cs.mkString("\"coords\":{", ",", "}")) ++ top.drop(3).flatten)
            .mkString("{", ",", "}")
        val top = Seq(
          Some(s""""vin":"$vin""""),
          Some(s""""esn":"$esn""""),
          Some(s""""captureTime":$ms"""),
          Option.when(r.nextInt(10) < 8)(s""""vehicleSpeed":${num(r.nextDouble() * 90)}"""),
          Option.when(r.nextInt(10) < 8)(s""""fuelRemainingGallons":${num(r.nextDouble() * 30)}"""),
          Option.when(r.nextInt(10) < 7)(s""""rpm":${r.nextInt(6000)}"""),
          Option.when(r.nextBoolean())(s""""fordExtraData":{"trim":"XLT","pkg":${r.nextInt(9)}}"""))
        val c = poisonClass(r, PoisonPerMille, 5)
        val line = c match {
          case -1 => body(coords, top)
          case 0 => truncate(body(coords, top))
          case 1 => body(coords, top.map(_.filterNot(_.startsWith("\"esn\""))))
          case 2 => body(coords, top :+ Some(s""""dealer":"D-$i""""))
          case 3 => body(coords :+ "\"alt\":12.5", top)
          case _ => body(coords, top.updated(3, Some("\"vehicleSpeed\":\"fast\"")))
        }
        VehicleRec(line, vehicleSources(2).tag, c >= 0, esn, vin, ms, vehicleSources(2).sourceType)
      }
    }
    Seq(geotab, calamp, ford)
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** `n` payloads per legacy kind, in kind order. Poison: a missing
    * required field, malformed JSON, and for the epoch-second kinds a
    * non-numeric timestamp. */
  def legacy(seed: Long, n: Int): Seq[Seq[LegacyRec]] =
    legacyKinds.zipWithIndex.map { case ((source, eventType, topic), k) =>
      val r = rng(seed, 10 + k)
      (0 until n).map { i =>
        val secs = 1700000000L + r.nextInt(1 << 28)
        val isoTs = iso(secs * 1000L)
        // (required field names, the full field list)
        val (required, fields) = k match {
          case 0 => ("uid", Seq(s""""uid":${100000 + i}""", s""""name":"user-$i-${r.nextInt(1000)}"""",
            s""""created":$secs""", s""""email":"u$i@example.com""""))
          case 1 => ("orderId", Seq(s""""orderId":"O-$i"""",
            (0 to r.nextInt(3)).map(j => s"""{"sku":"S-${r.nextInt(500)}","qty":${1 + j}}""")
              .mkString("\"items\":[", ",", "]"),
            s""""placedAt":"$isoTs"""", s""""total":${num(r.nextDouble() * 500)}"""))
          case 2 => ("sku", Seq(s""""sku":"SKU-$i"""", s""""qty":${r.nextInt(900)}""",
            s""""updateTime":$secs""", s""""warehouse":"W${r.nextInt(12)}""""))
          case 3 => ("txnId", Seq(s""""txnId":"T-$i"""", s""""amount":${num(r.nextDouble() * 900)}""",
            s""""currency":"${Seq("USD", "EUR", "GBP")(r.nextInt(3))}"""", s""""time":"$isoTs""""))
          case _ => ("shipId", Seq(s""""shipId":"SH-$i"""",
            s""""status":"${Seq("SHIPPED", "IN_TRANSIT", "DELIVERED")(r.nextInt(3))}"""",
            s""""deliveredAt":$secs"""))
        }
        val epochKind = k == 0 || k == 2 || k == 4
        val c = poisonClass(r, PoisonPerMille, if (epochKind) 3 else 2)
        val payload = c match {
          case -1 => fields.mkString("{", ",", "}")
          case 0 => fields.filterNot(_.startsWith(s""""$required"""")).mkString("{", ",", "}")
          case 1 => truncate(fields.mkString("{", ",", "}"))
          case _ => fields.map(f => if (f.endsWith(s":$secs")) f.replace(s":$secs", ":\"soon\"") else f)
                      .mkString("{", ",", "}")
        }
        LegacyRec(payload, k, c >= 0, topic, sha256Hex(s"$source|$eventType|$payload"))
      }
    }

  /** Cumulative Zipf weights over the tenants. */
  private lazy val tenantCdf: Array[Double] = {
    val w = (1 to Tenants).map(i => 1.0 / math.pow(i, TenantSkew))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def tenantTopic(t: Int): String = f"persistent://tenant-$t%02d/integration/telemetry"

  /** `files` CMF-topic files of `perFile` messages each. Unroutable
    * shapes: no `meta`, a null, empty or blank `meta.tenantId`, and
    * malformed JSON. */
  def cmf(seed: Long, files: Int, perFile: Int): Seq[Seq[CmfMsg]] = {
    val r = rng(seed, 20)
    (0 until files).map { f =>
      (0 until perFile).map { j =>
        val u = r.nextDouble()
        val t = java.util.Arrays.binarySearch(tenantCdf, u) match {
          case x if x >= 0 => x
          case x => math.min(-x - 1, Tenants - 1)
        }
        val rest = s""""vehicleId":"veh-${r.nextInt(20000)}","msgId":"m-$f-$j",""" +
          s""""dateTime":"${iso(1700000000000L + r.nextInt(1 << 30) * 1000L)}",""" +
          s""""telemetry":{"location":{"lat":${num(r.nextDouble() * 180 - 90)},""" +
          s""""lon":${num(r.nextDouble() * 360 - 180)}},"speedGpsMph":${num(r.nextDouble() * 80)}}}"""
        val routable = f"""{"meta":{"tenantId":"tenant-$t%02d"},""" + rest
        val c = poisonClass(r, UnroutablePerMille, 5)
        c match {
          case -1 => CmfMsg(routable, tenantTopic(t))
          case 0 => CmfMsg("{" + rest, null)
          case 1 => CmfMsg("""{"meta":{"tenantId":null},""" + rest, null)
          case 2 => CmfMsg("""{"meta":{"tenantId":""},""" + rest, null)
          case 3 => CmfMsg("""{"meta":{"tenantId":"   "},""" + rest, null)
          case _ => CmfMsg(truncate(routable), null)
        }
      }
    }
  }

  /** Splits `lines` into `files` contiguous chunks. */
  def chunk[A](xs: Seq[A], files: Int): Seq[Seq[A]] =
    (0 until files).map(f => xs.slice(f * xs.size / files, (f + 1) * xs.size / files))
}
