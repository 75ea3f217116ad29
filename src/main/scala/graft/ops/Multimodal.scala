package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (SURVEY.md §2.5): media payloads ride as
  * opaque `binary` columns with a typed metadata struct; decode / feature
  * extraction runs batched per partition.
  *
  * The container has no image/audio codec libraries, so the corpus is
  * synthetic BMP/WAV files ([[syntheticMedia]] — real, spec-conformant
  * headers built from deterministic per-doc parameters) and [[decode]] is a
  * REAL header parser: container sniffing on magic bytes plus little-endian
  * field extraction with ByteBuffer, exactly what a production decode UDF
  * does before handing the payload to a codec. The DuckDB oracle rebuilds
  * the same bytes independently and checks both the parsed fields (against
  * the generator parameters) and a payload fingerprint (against its own
  * byte construction), so generator and parser are each validated.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, mime: String, payload: Array[Byte])
  final case class DecodedMedia(doc_id: Long, mime: String, octet_len: Long,
                                width: Int, height: Int, sample_rate: Int,
                                channels: Int, payload_hex_md5: String)

  /** Wrap a text corpus as a media table: payload = UTF-8 bytes, plus the
    * expression-only metadata (length, sha256) the oracle can check. */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      lit("text/plain").as("mime"),
      col("text").cast("binary").as("payload"),
      octet_length(col("text")).cast("long").as("octet_len"),
      sha2(col("text").cast("binary"), 256).as("payload_sha256"))

  // ---- synthetic BMP/WAV corpus ------------------------------------------

  private def le2(v: Int): String = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x"
  private def le4(v: Int): String = le2(v & 0xffff) + le2((v >>> 16) & 0xffff)
  /** One little-endian byte of a column value (0..255). */
  private def leByte(c: Column): Column =
    lpad(lower(hex(pmod(c.cast("long"), lit(256)))), 2, "0")
  /** Two little-endian bytes of a column value (0..65535). */
  private def le2c(c: Column): Column =
    concat(leByte(c), leByte(floor(c.cast("long") / 256).cast("long")))
  /** Four little-endian bytes of a column value (0..65535 here). */
  private def le4c(c: Column): Column = concat(le2c(c), lit("0000"))

  /** Deterministic per-doc media parameters — shared contract between the
    * generator and the oracle's independent recomputation. */
  private def bmpWidth(id: Column): Column = pmod(id, lit(31)) + 1
  private def bmpHeight(id: Column): Column = pmod(id, lit(17)) + 1
  private def wavChannels(id: Column): Column = pmod(id, lit(2)) + 1
  private def wavSampleRate(id: Column): Column = pmod(id, lit(8)) * 1000 + 8000

  /** Synthetic media corpus over `documents`: even doc_id → a 24-bit BMP
    * (BITMAPINFOHEADER + a FULL 4-byte-aligned pixel array, so a stock
    * decoder — OpsSpec uses the JDK's ImageIO — reads it end to end), odd
    * doc_id → a 16-bit PCM WAV (44-byte RIFF header + one filler data
    * chunk). All content bytes derive from the doc text's md5
    * (deterministic, so the oracle rebuilds identical files). Built from
    * pure expressions (hex concat + unhex), so generation itself is
    * scan-fused and engine-portable. */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val base = docs.select(
      col("doc_id"),
      md5(col("text")).as("h"), // 32 hex chars = 16 content bytes
      bmpWidth(id).cast("int").as("w"),
      bmpHeight(id).cast("int").as("ht"),
      wavChannels(id).cast("int").as("ch"),
      wavSampleRate(id).cast("int").as("sr"))
      // BMP rows pad to 4-byte boundaries: rowb = ceil(w*3/4)*4
      .withColumn("rowb", col("w") * 3 + 3 - pmod(col("w") * 3 + 3, lit(4)))
      .withColumn("pixb", col("rowb") * col("ht"))
    val byteRate = col("sr") * col("ch") * 2 // sr * channels * bytes/sample
    val blockAlign = col("ch") * 2
    // pixel array: the md5 filler tiled to exactly pixb bytes (2 hex chars
    // per byte); rpad's pad argument repeats a multi-char string
    val pixels = expr("rpad('', pixb * 2, h)")
    // BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40) + pixel array
    val bmpHex = concat(
      lit("424d"),            // 'BM'
      le4c(col("pixb") + 54), // file size
      lit("00000000" +        // reserved
        le4(54) +             // pixel data offset
        le4(40)),             // DIB header size
      le4c(col("w")), le4c(col("ht")),
      lit(le2(1) +            // planes
        le2(24) +             // bits per pixel
        le4(0)),              // compression = BI_RGB
      le4c(col("pixb")),      // image size
      lit(le4(2835) + le4(2835) + // 72 DPI in pixels/metre
        le4(0) + le4(0)),     // palette sizes
      pixels)
    // RIFF (12) + fmt chunk (24) + data chunk header (8) + 16 data bytes
    val wavHex = concat(
      lit("52494646" +        // 'RIFF'
        le4(36 + 16) +        // riff payload size
        "57415645" +          // 'WAVE'
        "666d7420" +          // 'fmt '
        le4(16) +             // fmt chunk size
        le2(1)),              // PCM
      le2c(col("ch")), le4c(col("sr")), le4c(byteRate), le2c(blockAlign),
      lit(le2(16) +           // bits per sample
        "64617461" +          // 'data'
        le4(16)),             // data chunk size
      col("h"))
    base.select(
      col("doc_id"),
      when(pmod(id, lit(2)) === 0, lit("image/bmp"))
        .otherwise(lit("audio/wav")).as("mime"),
      unhex(when(pmod(id, lit(2)) === 0, bmpHex).otherwise(wavHex)).as("payload"))
      .withColumn("octet_len", octet_length(col("payload")).cast("long"))
  }

  /** Long-form synthetic WAV corpus for the AUDIO fingerprint family:
    * every non-null-text doc gets a 16-bit PCM WAV whose data chunk is
    * 260 bytes (130 samples — enough for the 65-frame energy signature
    * to use 2-sample frames) from 17 chained md5s of the doc's GROUP key
    * (`md5('grp:' || doc_id÷10 || '#i')`, i = 0..16 — chained, NOT tiled
    * from one digest: a 16-byte tile would repeat with period 4 frames
    * and collapse the fingerprint space to 16 patterns), with the LAST
    * sample overridden by a per-doc spike ((doc_id mod 10)·3000, LE16).
    * Ten clips per group therefore share 64 of 65 frame energies and
    * differ only in the final frame — i.e. in AT MOST the last
    * fingerprint bit — so within-group pairs are genuine hamming-≤1
    * near-dups (the corpus the near-dup join exists to find), while
    * cross-group fingerprints are effectively random 64-bit values.
    * Same expression-only construction and oracle contract as
    * [[syntheticMedia]]. */
  def syntheticAudio(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val dataBytes = 260
    val grp = expr("doc_id div 10")
    val dhex = concat(
      substring(
        concat((0 until 17).map(i =>
          md5(concat(lit("grp:"), grp.cast("string"), lit(s"#$i")))): _*),
        1, dataBytes * 2 - 4),
      le2c(pmod(id, lit(10)) * 3000))
    val ch = wavChannels(id).cast("int")
    val sr = wavSampleRate(id).cast("int")
    val byteRate = sr * ch * 2
    val blockAlign = ch * 2
    val wavHex = concat(
      lit("52494646" +            // 'RIFF'
        le4(36 + dataBytes) +     // riff payload size
        "57415645" +              // 'WAVE'
        "666d7420" +              // 'fmt '
        le4(16) +                 // fmt chunk size
        le2(1)),                  // PCM
      le2c(ch), le4c(sr), le4c(byteRate), le2c(blockAlign),
      lit(le2(16) +               // bits per sample
        "64617461" +              // 'data'
        le4(dataBytes)),          // data chunk size
      dhex)
    docs.filter(col("text").isNotNull).select(
      col("doc_id"), lit("audio/wav").as("mime"),
      unhex(wavHex).as("payload"))
      .withColumn("octet_len", octet_length(col("payload")).cast("long"))
  }

  // ---- decode -------------------------------------------------------------

  private val HEX_UPPER = "0123456789ABCDEF".toCharArray
  private def hexUpper(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = HEX_UPPER(b >> 4)
      out(2 * i + 1) = HEX_UPPER(b & 15)
      i += 1
    }
    new String(out)
  }

  private def ascii(p: Array[Byte], off: Int, s: String): Boolean =
    p.length >= off + s.length &&
      s.indices.forall(i => p(off + i) == s.charAt(i).toByte)

  /** Partition-batched media decode (mapPartitions — the JVM analogue of a
    * vectorized decode UDF; one MessageDigest per partition, not per row):
    * sniff the container on magic bytes, then parse the real header fields
    * little-endian — BMP width/height at offsets 18/22, WAV channels/rate
    * at 22/24. Unknown containers decode to zeroed fields rather than
    * throwing (the quarantine decision belongs to the caller). The
    * fingerprint is md5 over the payload's UPPERCASE HEX encoding — an
    * engine-portable spelling (DuckDB's md5 takes VARCHAR only) that still
    * pins every payload byte. */
  def decode(spark: SparkSession, media: DataFrame): Dataset[DecodedMedia] = {
    import spark.implicits._
    media.select("doc_id", "mime", "payload").as[MediaRecord]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { r =>
          val p = r.payload
          if (p == null) {
            // NULL payload (a null-text source row) is "unknown container"
            // taken to its limit: zeroed fields, empty-payload fingerprint
            // — never an NPE mid-job; the caller quarantines on the zeros.
            md.reset()
            val fp0 = md.digest(Array.emptyByteArray).map("%02x".format(_)).mkString
            DecodedMedia(r.doc_id, r.mime, 0L, 0, 0, 0, 0, fp0)
          } else {
          val bb = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          md.reset()
          val fp = md.digest(hexUpper(p).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
            .map("%02x".format(_)).mkString
          if (ascii(p, 0, "BM") && p.length >= 54)
            DecodedMedia(r.doc_id, r.mime, p.length.toLong,
              width = bb.getInt(18), height = bb.getInt(22),
              sample_rate = 0, channels = 0, payload_hex_md5 = fp)
          else if (ascii(p, 0, "RIFF") && ascii(p, 8, "WAVEfmt ") && p.length >= 44)
            DecodedMedia(r.doc_id, r.mime, p.length.toLong,
              width = 0, height = 0,
              sample_rate = bb.getInt(24), channels = bb.getShort(22) & 0xffff,
              payload_hex_md5 = fp)
          else
            DecodedMedia(r.doc_id, r.mime, p.length.toLong, 0, 0, 0, 0, fp)
          }
        }
      }
  }

  // ---- perceptual hashing (image near-dup) --------------------------------

  /** 64-bit difference hash (dHash — the public recipe: Krawetz, "Kinds of
    * Like That", HackerFactor 2013) over a BMP payload, as PURE
    * EXPRESSIONS: sample a 9×8 brightness grid from the pixel array
    * (x = ⌊gx·w/9⌋, y = ⌊gy·h/8⌋ — the closed-form downsample), then one
    * bit per horizontally-adjacent comparison (brighter-than-left), 8×8 =
    * 64 bits. Packed as two 32-bit halves `(hi, lo)` so the packing
    * arithmetic (Σ bit·2^(31−i)) can never overflow a signed 64-bit in
    * either engine — DuckDB raises on BIGINT overflow where the JVM
    * wraps, so a single 64-bit pack would not be oracle-portable.
    *
    * Width/height/row stride are parsed from the payload's own header
    * bytes (offsets 18/22, little-endian, rows 4-byte aligned), so the
    * hash needs nothing but the binary column — the 100 TB shape: one
    * scan-fused expression chain, no decode UDF, no row objects. Brightness
    * is the raw b+g+r sum (monotone in the mean — identical comparisons,
    * no division). Pixel rows are used in STORED (bottom-up) order; since
    * every hash uses the same orientation, comparisons are consistent. */
  /** Per-image dHash over a media frame: (doc_id, phash_hi, phash_lo) for
    * every BMP payload — the fused native
    * [[graft.functions.BmpDHash]] expression (one JVM loop per row inside
    * whole-stage codegen). Row-local, scan-fused (OpsSpec pins zero
    * exchanges). The hash semantics and their rationale live on the
    * expression's scaladoc; the DuckDB oracle replays them in portable
    * SQL. */
  def imagePhash(media: DataFrame): DataFrame =
    media.filter(col("mime") === "image/bmp" && col("payload").isNotNull)
      .select(col("doc_id"),
        graft.functions.BmpDHash.dhash(col("payload")).as("ph"))
      .select(col("doc_id"), col("ph.hi").as("phash_hi"),
        col("ph.lo").as("phash_lo"))

  /** Image near-duplicate pairs by banded Hamming join over the dHash —
    * the [[Dedup.simhashNeardup]] machinery applied to pixels: the 64-bit
    * hash splits into 4×16-bit bands; pairs collide in the equi-join on
    * (band index, band value) and only COLLIDING pairs are verified with
    * the exact popcount distance. By pigeonhole, any pair within
    * `maxHamming` ≤ 3 differing bits leaves at least one of the 4 bands
    * untouched, so banding loses nothing at the default threshold —
    * recall is exact, at candidate-bounded (never all-pairs) cost. At
    * 100 TB the band join shuffles (band_idx, band_val) keys only; the
    * 64-bit hashes ride alongside, and no payload bytes cross the
    * exchange. */
  def imagePhashNeardup(media: DataFrame, maxHamming: Int = 3): DataFrame =
    neardupPairs64(imagePhash(media)
      .select(col("doc_id"), col("phash_hi").as("h_hi"),
        col("phash_lo").as("h_lo")), maxHamming)

  // ---- shared 4×16-bit banded-Hamming core over 64-bit signatures ----
  // (dHash images AND energy-hash audio ride the same machinery; the
  // pigeonhole recall-exactness argument on imagePhashNeardup's scaladoc
  // applies to any 64-bit signature)

  private def banded64(df: DataFrame, p: String): DataFrame =
    df.select(col("doc_id").as(s"${p}_id"),
      col("h_hi").as(s"${p}_hi"), col("h_lo").as(s"${p}_lo"),
      posexplode(array(
        shiftright(col("h_hi"), 16), pmod(col("h_hi"), lit(65536)),
        shiftright(col("h_lo"), 16), pmod(col("h_lo"), lit(65536))))
        .as(Seq("band_idx", "band_val")))

  /** All near-dup pairs within one `(doc_id, h_hi, h_lo)` signature
    * frame: band equi-join, exact popcount verify on colliding pairs
    * only, threshold BEFORE distinct (band collisions beyond the
    * threshold vastly outnumber true near-dups — keep them out of the
    * distinct's exchange). */
  private def neardupPairs64(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"4x16-bit banding guarantees exact recall only for maxHamming <= 3, got $maxHamming")
    val a = banded64(hashes, "a")
    val b = banded64(hashes, "b")
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
          bit_count(col("a_lo").bitwiseXOR(col("b_lo"))))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may collide in several bands — emit once
  }

  // ---- audio fingerprint (near-dup) ----------------------------------

  /** Per-clip 64-bit frame-energy fingerprint: (doc_id, afp_hi, afp_lo)
    * for every WAV payload — the fused native
    * [[graft.functions.WavEnergyHash]] expression (RIFF chunk walk +
    * 65 integer-boundary frame energies + 64 transition bits, one JVM
    * loop per row inside whole-stage codegen). Row-local, scan-fused —
    * the audio sibling of [[imagePhash]]. */
  def audioFingerprint(media: DataFrame): DataFrame =
    media.filter(col("mime") === "audio/wav" && col("payload").isNotNull)
      .select(col("doc_id"),
        graft.functions.WavEnergyHash.wavHash(col("payload")).as("fp"))
      .select(col("doc_id"), col("fp.hi").as("afp_hi"),
        col("fp.lo").as("afp_lo"))

  /** Audio near-duplicate pairs by banded Hamming join over the energy
    * fingerprint — [[imagePhashNeardup]]'s machinery applied to PCM:
    * recall-exact for `maxHamming` ≤ 3 by the same pigeonhole argument,
    * candidate-bounded cost, 20-byte/clip catalog rows. */
  def audioFingerprintNeardup(media: DataFrame, maxHamming: Int = 3): DataFrame =
    neardupPairs64(audioFingerprint(media)
      .select(col("doc_id"), col("afp_hi").as("h_hi"),
        col("afp_lo").as("h_lo")), maxHamming)

  /** Frame sampling as pure expressions: fixed-size byte frames; the FIRST
    * frame and the `stride`-th frame are fingerprinted (a fixed-arity probe
    * pair — enough to pin payload identity and detect truncation; a
    * full every-stride sweep would be a posexplode over frame indices).
    * Runs scan-fused (binary `substring` + `md5` are codegen'd built-ins) —
    * no row-object materialization, which is the difference between this
    * and a UDF at 100 TB of video payloads. */
  def frameSample(media: DataFrame, frameBytes: Int = 64,
                  stride: Int = 2): DataFrame =
    media.select(
      col("doc_id"),
      ceil(col("octet_len") / lit(frameBytes.toDouble)).cast("long").as("n_frames"),
      md5(substring(col("payload"), 1, frameBytes)).as("frame0_md5"),
      // guard must use STRIDE (an out-of-range binary substring md5s to the
      // empty-input digest, not NULL — a fingerprint for a nonexistent frame)
      when(col("octet_len") > stride * frameBytes,
        md5(substring(col("payload"), stride * frameBytes + 1, frameBytes)))
        .as(s"frame${stride}_md5"))
}
