package graft

import graft.pipeline.Pipeline
import graft.route.Filterer
import graft.sources.Sources
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** End-to-end topology wiring over the SourceDef spool layout: E1/E2
  * (vehicle sources → CMF → Filterer) and E3 (legacy → splitter), batch and
  * streaming resolution of the same sources. */
class PipelineSpec extends SparkSpec {
  import PipelineSpec._

  /** Runs the streaming topology over `base` to completion; returns the
    * bus root and the dead-letter frame. */
  private def runTopology(base: String): (String, org.apache.spark.sql.DataFrame) = {
    val out = java.nio.file.Files.createTempDirectory("topology")
    val (publish, deadLetter) = Pipeline.runVehicleTopology(
      spark, base, s"$out/bus", s"$out/dead-letter", s"$out/_ckpt")
    try {
      publish.processAllAvailable()
      deadLetter.processAllAvailable()
    } finally { publish.stop(); deadLetter.stop() }
    (s"$out/bus", spark.read.parquet(s"$out/dead-letter"))
  }

  /** [[smallFiles]]' ten files, packed: at most one partition per core
    * (local[4]), every file once in name order, the empty file 4 between
    * two others of its partition. */
  private def assertPacked(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Unit = {
    val names = parts.toSeq.map(_.asInstanceOf[graft.sources.SpoolFilePartition].files.map(_.name))
    assert(spark.sparkContext.defaultParallelism === 4)
    assert(names.size <= 4, names)
    assert(names.flatten === (0 until 10).map(i => f"part-$i%05d"), names)
    assert(names.exists { p => val i = p.indexOf("part-00004"); i > 0 && i < p.size - 1 }, names)
  }

  /** `df` (column `value`, over [[smallFiles]] at `dir`) holds the rows
    * `spark.read.text` reads, and each file's lines in file order. */
  private def assertReadsPacked(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    val rows = df.collect().map(_.getString(0)).toSeq
    assert(rows.sorted === spark.read.text(dir).collect().map(_.getString(0)).toSeq.sorted)
    rows.groupBy(_.takeWhile(_ != '-')).foreach { case (file, lines) =>
      assert(lines === lines.indices.map(j => s"$file-l$j"), file)
    }
  }

  test("S1-S7: every connector from pipeline.yaml is defined with its output topic") {
    val topics = Sources.all.map(s => s.name -> s.outputTopic).toMap
    assert(topics === Map(
      "kinesis-input" -> "raw-kinesis-events",
      "kafka-input" -> "raw-kafka-events",
      "azure-eventhub-input" -> "raw-azure-events",
      "rabbitmq-input" -> "raw-rabbitmq-events",
      "http-input" -> "raw-http-events",
      "grpc-input" -> "raw-grpc-events",
      "pulsar-source-input" -> "raw-pulsar-events"))
    // kafka-protocol heads resolve to the built-in kafka source on a cluster
    assert(Sources.kafkaInput.sparkFormat === "kafka")
    assert(Sources.eventHubInput.sparkFormat === "kafka")
  }

  test("E1/E2 batch: three sources -> CMF topic union; poison quarantined per source") {
    val base = spoolDir()
    val cmf = Pipeline.vehicleCmfBatch(spark, base)
    assert(cmf.valid.count() === 3)
    assert(cmf.quarantine.count() === 2)
    val sources = cmf.valid
      .select(get_json_object(col("value"), "$.sourceType")).collect()
      .map(_.getString(0)).sorted
    assert(sources === Array("CalAmp", "Ford", "Geotab"))
  }

  test("E1/E2 streaming: same spool through readStream == batch output") {
    val base = spoolDir()
    val batchRows = Pipeline.vehicleCmfBatch(spark, base).valid
      .collect().map(_.getString(0)).sorted
    val q = Pipeline.vehicleCmfStream(spark, base).valid
      .writeStream.format("memory").queryName("pipe_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamRows = spark.table("pipe_stream").collect().map(_.getString(0)).sorted
    assert(streamRows === batchRows)
  }

  test("E1 tail: routable CMF fans out by meta.tenantId (FiltererIntegrationTest analogue)") {
    // the reference's own translators omit meta.tenantId (SURVEY.md §0.2) —
    // the routable wire contract comes from the integration tests' payloads
    val routable = (0 until 4).map(i =>
      s"""{"meta":{"tenantId":"t-${i % 2}"},"vehicleId":"veh-$i"}""")
    val r = Pipeline.routeCmf(strings(routable :+ """{"meta":{}}""": _*))
    assert(r.routed.count() === 4)
    assert(r.dropped.count() === 1)
    val topics = r.routed.select("topic").distinct().collect().map(_.getString(0)).sorted
    assert(topics === Array("persistent://t-0/integration/telemetry",
      "persistent://t-1/integration/telemetry"))
  }

  test("graft-spool V2: bridged sources resolve through the custom TableProvider") {
    val base = spoolDir()
    Pipeline.vehicleBindings.map(_.source).foreach { source =>
      // batch plan is a DSv2 BatchScan over our table, not the text file source
      val plan = source.batch(spark, base).queryExecution.executedPlan.toString
      assert(plan.contains("BatchScan graft-spool"),
        s"${source.name}: expected V2 scan, got:\n$plan")
      // and it reads the same rows the built-in text source would
      val viaV2 = source.batch(spark, base).collect().map(_.getString(0)).sorted
      val viaText = spark.read.text(s"$base/${source.outputTopic}")
        .collect().map(_.getString(0)).sorted
      assert(viaV2 === viaText, source.name)
      // the streaming plan scans the same table, micro-batch by micro-batch
      val q = source.stream(spark, base).writeStream.format("memory")
        .queryName(s"resolve_${source.name.replace('-', '_')}").start()
      val streamPlan = try {
        q.processAllAvailable()
        q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan.toString
      } finally q.stop()
      assert(streamPlan.contains("MicroBatchScan") && streamPlan.contains("SpoolScan"),
        s"${source.name}: expected a graft-spool micro-batch scan, got:\n$streamPlan")
    }
  }

  test("graft-spool V2: micro-batches advance on new spool files (watermark offsets)") {
    val base = java.nio.file.Files.createTempDirectory("spool_v2").toString
    val topic = Sources.rabbitMqInput.outputTopic
    writeSpool(base, topic, Seq("m1", "m2"))
    val q = Sources.rabbitMqInput.stream(spark, base)
      .writeStream.format("memory").queryName("spool_v2_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("spool_v2_stream").count() === 2)
      // second file arrives after the first batch committed: the filename
      // watermark must pick up exactly the new file
      val dir = java.nio.file.Paths.get(base, topic)
      java.nio.file.Files.write(dir.resolve("part-1.txt"), "m3\nm4\nm5".getBytes("UTF-8"))
      q.processAllAvailable()
      val rows = spark.table("spool_v2_stream").collect().map(_.getString(0)).sorted
      assert(rows === Array("m1", "m2", "m3", "m4", "m5"))
    } finally q.stop()
  }

  test("graft-spool V2: latestOffset is monotone under a transient empty listing") {
    val dir = java.nio.file.Files.createTempDirectory("spool_mono")
    java.nio.file.Files.write(dir.resolve("part-0001.txt"), "a".getBytes("UTF-8"))
    val stream = new graft.sources.SpoolMicroBatchStream(dir.toString,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val o1 = stream.latestOffset().asInstanceOf[graft.sources.SpoolOffset]
    assert(o1.watermark.endsWith("part-0001.txt"))
    // simulate a transient empty/partial listing (file vanishes from view):
    // the offset must NOT regress — a regression would re-plan and re-read
    // every already-consumed file on the next full listing
    java.nio.file.Files.delete(dir.resolve("part-0001.txt"))
    val o2 = stream.latestOffset().asInstanceOf[graft.sources.SpoolOffset]
    assert(o2.watermark === o1.watermark, "offset regressed on empty listing")
    // a fresh stream instance (restart) seeds its high-water mark from the
    // checkpoint-restored offset, closing the same hole across restarts
    val restarted = new graft.sources.SpoolMicroBatchStream(dir.toString,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    restarted.deserializeOffset(o1.json())
    val o3 = restarted.latestOffset().asInstanceOf[graft.sources.SpoolOffset]
    assert(o3.watermark === o1.watermark, "offset regressed after restart")
  }

  test("graft-spool V2: checkpointed restart resumes exactly (no replay, no loss)") {
    val base = java.nio.file.Files.createTempDirectory("spool_ckpt").toString
    val topic = Sources.rabbitMqInput.outputTopic
    val ckpt = s"$base/_checkpoint"
    val out = s"$base/_out"
    writeSpool(base, topic, Seq("r1", "r2"))
    def run(): Unit = {
      val q = Sources.rabbitMqInput.stream(spark, base)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() === 2)
    // new file lands while no query is running; the restarted query must
    // deserialize the committed watermark and read ONLY the new file
    java.nio.file.Files.write(java.nio.file.Paths.get(base, topic, "part-1.txt"),
      "r3".getBytes("UTF-8"))
    run()
    val rows = spark.read.parquet(out).collect().map(_.getString(0)).sorted
    assert(rows === Array("r1", "r2", "r3"), "exactly-once across restart")
  }

  test("graft-spool V2: a restart over a text-source checkpoint fails, naming the offset") {
    val base = java.nio.file.Files.createTempDirectory("spool_foreign").toString
    val topic = Sources.rabbitMqInput.outputTopic
    val ckpt = s"$base/_checkpoint"
    val out = s"$base/_out"
    writeSpool(base, topic, Seq("r1", "r2"))
    // the text file stream commits its own offset, {"logOffset":0}
    val text = spark.readStream.format("text").load(s"$base/$topic")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try text.processAllAvailable() finally text.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(base, topic, "part-00001"),
      "r3".getBytes("UTF-8"))
    val spool = Sources.rabbitMqInput.stream(spark, base)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try spool.processAllAvailable() finally spool.stop()
    }
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msg.contains("""'{"logOffset":0}'""") && msg.contains(s"$base/$topic"), msg)
  }

  test("E3: legacy raw -> mux translate -> splitter per-type topics") {
    import spark.implicits._
    val raw = Seq(
      ("""{"uid":1,"name":"u","created":1698314400}""", 0),
      ("""{"shipId":"S-1","status":"SHIPPED","deliveredAt":1698314400}""", 4),
      ("""{"poison":true}""", 0)).toDF("value", "kind")
    val (t, routed) = Pipeline.legacyEvents(raw)
    assert(t.quarantine.count() === 1)
    val topics = routed.routed.select("topic").collect().map(_.getString(0)).sorted
    assert(topics === Array(
      "persistent://acme/integration/shipment-events",
      "persistent://acme/integration/user-profile-events"))
  }

  test("graft-spool batch read packs ten small files into at most one " +
    "partition per core, reading them as the text source does") {
    val dir = smallFiles(java.nio.file.Files.createTempDirectory("spool_pack"), "f", 10)
    val parts = new graft.sources.SpoolTable(dir, false)
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().toBatch.planInputPartitions()
    assertPacked(parts)
    val df = spark.read.format("graft-spool").load(dir)
    assert(df.rdd.getNumPartitions === parts.length)
    assertReadsPacked(df, dir)
  }

  test("graft-spool micro-batch packs ten small files into at most one " +
    "partition per core, reading them as the text source does") {
    val dir = smallFiles(java.nio.file.Files.createTempDirectory("spool_pack_stream"), "f", 10)
    val stream = new graft.sources.SpoolMicroBatchStream(dir,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    assertPacked(stream.planInputPartitions(stream.initialOffset(), stream.latestOffset()))
    val q = spark.readStream.format("graft-spool").load(dir)
      .writeStream.format("memory").queryName("spool_pack_stream").start()
    try q.processAllAvailable() finally q.stop()
    assertReadsPacked(spark.table("spool_pack_stream"), dir)
  }

  test("graft-spool bus read: two topics' files in one partition keep each row's topic") {
    val root = java.nio.file.Files.createTempDirectory("spool_pack_topics")
    val topics = Seq("persistent://a/n/t", "persistent://b/n/t")
    topics.zipWithIndex.foreach { case (t, i) =>
      smallFiles(root.resolve(graft.sources.SpoolDataSource.topicDir(t)), s"t$i-", 5)
    }
    val parts = new graft.sources.SpoolTable(root.toString, true)
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.SpoolFilePartition].files.map(_.topic).distinct)
    assert(parts.length <= 4 && parts.exists(_.size == 2), parts.toSeq)
    val rows = spark.read.format("graft-spool").option("topics", "true").load(root.toString)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length === 2 * (2 + 3 + 4 + 2)) // file 4 is empty
    rows.foreach { case (t, v) => assert(v.startsWith(s"t${topics.indexOf(t)}-"), (t, v)) }
  }

  test("graft-spool sink: dynamic topic publish round-trips per tenant") {
    import spark.implicits._
    val msgs = (0 until 6).map(i =>
      s"""{"meta":{"tenantId":"t-${i % 3}"},"vehicleId":"veh-$i"}""")
    val r = Filterer.route(msgs.toDF("value"))
    val root = java.nio.file.Files.createTempDirectory("spool_sink").toString
    Filterer.fanOutTopics(r.routed, root)
    // each tenant's topic dir holds exactly that tenant's ORIGINAL bytes
    (0 until 3).foreach { t =>
      val dir = graft.sources.SpoolDataSource.topicDir(
        s"persistent://t-$t/integration/telemetry")
      val got = spark.read.format("graft-spool").load(s"$root/$dir")
        .collect().map(_.getString(0)).sorted
      assert(got === msgs.filter(_.contains(s""""t-$t"""")).sorted.toArray)
    }
    // committed names follow the spool contract: zero-padded, increasing
    // (dot-prefixed checksum/temp files are hidden from spool listings)
    val aDir = new java.io.File(root).listFiles().filter(_.isDirectory).head
    val names = aDir.listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(names.forall(_.matches("part-\\d{8}-[0-9a-f]{8}")), names.mkString(","))
    // and the whole bus reads back in ONE topic-tagged scan
    val bus = spark.read.format("graft-spool").option("topics", "true").load(root)
    assert(bus.columns === Array("topic", "value"))
    assert(bus.count() === 6)
    assert(bus.select("topic").distinct().count() === 3)
    // option keys are case-insensitive: TOPICS selects the same bus mode
    val busUpper = spark.read.format("graft-spool").option("TOPICS", "true").load(root)
    assert(busUpper.columns === bus.columns && busUpper.count() === 6)
  }

  test("graft-spool sink: append continues the per-directory sequence") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("spool_seq").toString
    def publish(v: String): Unit =
      Seq(("persistent://a/n/t", v)).toDF("topic", "value")
        .coalesce(1).write.format("graft-spool").mode("append")
        .option("topics", "true").option("path", root).save()
    publish("m1"); publish("m2")
    val dir = s"$root/${graft.sources.SpoolDataSource.topicDir("persistent://a/n/t")}"
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(names.map(_.take(13)) === Array("part-00000000", "part-00000001"))
    assert(names.forall(_.matches("part-\\d{8}-[0-9a-f]{8}")), names.mkString(","))
    // a batch-published spool TAILS correctly: both files visible, in order
    val rows = spark.read.format("graft-spool").load(dir)
      .collect().map(_.getString(0))
    assert(rows.sorted === Array("m1", "m2"))
  }

  test("E1/E2 full topology: translators -> CMF -> Filterer -> bus, dead-letter replayable") {
    val (busRoot, dl) = runTopology(spoolDir())
    // the geotab poison record lands tagged by its translator...
    assert(dl.filter(col("source") === "geotab-translator").count() === 1)
    // ...and so does the hostile Ford record: it never reaches the bus
    assert(dl.filter(col("source") === "ford-translator").collect()
      .map(_.getAs[String]("value")) === Array(fordSmuggler))
    // ...and reference parity for the §0.2 quirk: the reference's OWN
    // translators omit meta.tenantId, so the Filterer drops every
    // translated CMF message as unroutable (integration tests inject
    // routable payloads at the CMF topic directly — FiltererTest.kt:72)
    assert(dl.filter(col("source") === "filterer").count() === 3)
    val busDirs = Option(new java.io.File(busRoot).listFiles())
      .map(_.count(_.isDirectory)).getOrElse(0)
    assert(busDirs === 0, "nothing routable must mean an empty bus")
  }

  test("E1/E2 topology dead-letter == batch quarantine + Filterer drops, same tags") {
    val base = spoolDir()
    val (_, dl) = runTopology(base)
    val streamed = dl.select("value", "source").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    // the batch replay routes the CMF topic as data, as the Filterer
    // reads a topic: routing the translators' unmaterialized plan would
    // push routeCmf's wire parse into the translators' filter, and with
    // codegen fallback off a stage that fails to compile throws
    val batch = withConf("spark.sql.codegen.fallback", "false") {
      import spark.implicits._
      val cmf = Pipeline.vehicleCmfBatch(spark, base)
      val topic = cmf.valid.select("value").as[String].collect().toSeq
        .toDF("value")
      cmf.quarantine.select("value", "source")
        .unionByName(Pipeline.routeCmf(topic).dropped
          .withColumn("source", lit("filterer")))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
    }
    assert(batch.length === 5)
    assert(streamed === batch)
  }

  test("graft-spool sink: rejects values the line framing cannot carry") {
    import spark.implicits._
    // \n splits a message; a bare \r does too (readLine terminates on
    // both), and a trailing \r would be silently dropped — all rejected
    for (bad <- Seq("line1\nline2", "line1\rline2", "trailing\r")) {
      val root = java.nio.file.Files.createTempDirectory("spool_bad").toString
      val e = intercept[Exception] {
        Seq(("persistent://a/n/t", bad)).toDF("topic", "value")
          .write.format("graft-spool").mode("append")
          .option("topics", "true").option("path", root).save()
      }
      assert(causes(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("line terminator")),
        s"value ${bad.replace("\n", "\\n").replace("\r", "\\r")} not rejected")
    }
  }

  test("graft-spool sink: a write to a topics=false path is refused") {
    import spark.implicits._
    // a topics=false table is one topic's consumer side; only a bus root
    // (topics=true) takes writes, each row routed by its `topic`
    val root = java.nio.file.Files.createTempDirectory("spool_one_topic").toFile
    for (df <- Seq(Seq("m1").toDF("value"),
        Seq(("persistent://a/n/t", "m1")).toDF("topic", "value"))) {
      intercept[Exception] {
        df.write.format("graft-spool").mode("append")
          .option("path", root.toString).save()
      }
    }
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String](spark)
    intercept[Exception] {
      stream.toDF().select(lit("persistent://a/n/t").as("topic"), col("value"))
        .writeStream.format("graft-spool").option("path", root.toString)
        .option("checkpointLocation", s"$root-ckpt").start().stop()
    }
    assert(root.list().isEmpty, s"refused writes left ${root.list().mkString(",")}")
  }

  test("graft-spool sink: a 64-topic write starts no process on the bus") {
    val root = java.nio.file.Files.createTempDirectory("spool_procs").toFile
      .getCanonicalPath
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try publishTopics(root, 64)
    finally rec.stop()
    val dump = java.nio.file.Files.createTempFile("spool_procs", ".jfr")
    try rec.dump(dump) finally rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command"))
    val onBus = commands.filter(_.contains(root))
    assert(onBus.size == 0, s"launches on the bus, e.g. ${onBus.take(3)}")
    assert(spark.read.format("graft-spool").option("topics", "true").load(root)
      .count() === 64 * 5)
  }

  test("graft-spool sink: every part file keeps its .crc sidecar, and a " +
    "flipped byte fails the read with a checksum error") {
    val root = java.nio.file.Files.createTempDirectory("spool_crc").toFile
    publishTopics(root.toString, 64)
    val parts = topicDirs(root).flatMap(_.listFiles())
      .filter(_.getName.startsWith("part-"))
    assert(parts.length === 64 * 4)
    parts.foreach(p => assert(new java.io.File(p.getParent, s".${p.getName}.crc").isFile,
      s"no .crc sidecar for $p"))
    val victim = parts.head.toPath
    val bytes = java.nio.file.Files.readAllBytes(victim)
    bytes(0) = (bytes(0) ^ 1).toByte
    java.nio.file.Files.write(victim, bytes)
    val e = intercept[Exception] {
      spark.read.format("graft-spool").load(parts.head.getParent).collect()
    }
    assert(causes(e).exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }

  test("graft-spool sink: part files and topic directories carry the bits " +
    "Hadoop's local FileSystem gives a file and a directory it creates") {
    import java.nio.file.Files.getPosixFilePermissions
    val tmp = java.nio.file.Files.createTempDirectory("spool_perms").toFile
    val root = new java.io.File(tmp, "bus")
    publishTopics(root.toString, 64)
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val refDir = new org.apache.hadoop.fs.Path(tmp.toString, "ref-dir")
    val refFile = new org.apache.hadoop.fs.Path(tmp.toString, "ref-file")
    local.mkdirs(refDir)
    local.create(refFile, false).close()
    val dirBits = getPosixFilePermissions(new java.io.File(tmp, "ref-dir").toPath)
    val fileBits = getPosixFilePermissions(new java.io.File(tmp, "ref-file").toPath)
    val crcBits = getPosixFilePermissions(new java.io.File(tmp, ".ref-file.crc").toPath)
    val dirs = topicDirs(root)
    assert(dirs.length === 64)
    dirs.foreach(d => assert(getPosixFilePermissions(d.toPath) === dirBits, d))
    dirs.flatMap(_.listFiles()).foreach { f =>
      val want = if (f.getName.endsWith(".crc")) crcBits else fileBits
      assert(getPosixFilePermissions(f.toPath) === want, f)
    }
  }

  test("E1/E2 topology dead-letter keeps each source's poison bytes: invalid " +
    "UTF-8 survives, a bare CR ends a line") {
    val base = java.nio.file.Files.createTempDirectory("spool_bytes").toString
    // per source: a valid record, a CR-only break, a poison record, LF
    val poison = Pipeline.vehicleBindings.map { b =>
      val dir = java.nio.file.Paths.get(base, b.source.outputTopic)
      java.nio.file.Files.createDirectories(dir)
      val bad = rawPoison(b.functionName)
      java.nio.file.Files.write(dir.resolve("part-0.txt"),
        vehicleLines(b.source.outputTopic).head.getBytes("UTF-8") ++ Array('\r'.toByte) ++ bad ++
          Array('\n'.toByte))
      b.functionName -> bad.toSeq
    }.toMap
    val (_, dl) = runTopology(base)
    poison.foreach { case (fn, bad) =>
      val got = dl.filter(col("source") === fn).select(col("value").cast("binary"))
        .collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
      assert(got === Seq(bad), s"$fn: dead-letter bytes differ from the spool's")
    }
    // each valid record was split from its poison line by the bare CR
    assert(dl.filter(col("source") === "filterer").count() === 3)
  }

  test("graft-spool sink: a value that is not UTF-8 lands on the bus byte for byte") {
    val root = java.nio.file.Files.createTempDirectory("spool_raw").toFile
    spark.range(1).select(lit("persistent://a/n/t").as("topic"),
        unhex(lit("7B2278223A22C328227D")).cast("string").as("value"))
      .write.format("graft-spool").mode("append")
      .option("topics", "true").option("path", root.toString).save()
    val parts = topicDirs(root).flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
    assert(parts.length === 1)
    assert(java.nio.file.Files.readAllBytes(parts.head.toPath).toSeq ===
      ("7B2278223A22C328227D0A".grouped(2).map(Integer.parseInt(_, 16).toByte).toSeq))
  }

  test("E1/E2 topology restarted over fresh directories compiles no generated " +
    "code again and leaves the session conf as it found it") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val compiled = (1 to 2).map { _ =>
      val conf0 = spark.conf.getAll
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      runTopology(spoolDir())
      assert(spark.conf.getAll === conf0)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    assert(compiled(1) === 0,
      s"the restart compiled ${compiled(1)} classes (the first start ${compiled(0)})")
  }

  test("graft-spool bus read skips directory names no topic encodes to") {
    val root = java.nio.file.Files.createTempDirectory("spool_ghosts")
    val real = "persistent://t-0/integration/telemetry"
    writeSpool(root.toString, graft.sources.SpoolDataSource.topicDir(real), Seq("r1", "r2"))
    // %-1 and %+A parse as signed hex (0xFF, a line feed), %2 is truncated
    Seq("%-1", "%+A", "%2").foreach(d => writeSpool(root.toString, d, Seq(s"ghost $d")))
    // a non-ASCII name, made by the shell: the JVM's file-name encoding
    // may not be able to spell it
    val mk = new ProcessBuilder("sh", "-c",
      """d="$(printf 'caf\303\251')" && mkdir "$d" && printf 'ghost\n' > "$d/part-0.txt"""")
      .directory(root.toFile).inheritIO().start()
    assert(mk.waitFor() === 0)
    assert(root.toFile.list().length === 5)
    val bus = spark.read.format("graft-spool").option("topics", "true").load(root.toString)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(bus === Array(real -> "r1", real -> "r2"))
  }

  test("broker option-mapping lands on a real DataStreamReader: format + " +
    "reference-config options, asserted without a broker") {
    // reflect the reader's internals (source format + extraOptions) — the
    // mapping itself is the unit under test; no connector jar needed
    def inspect(r: org.apache.spark.sql.streaming.DataStreamReader)
        : (String, Map[String, String]) = {
      def field(name: String): Any = {
        val f = r.getClass.getDeclaredFields
          .find(_.getName.endsWith(name))
          .getOrElse(fail(s"DataStreamReader field $name not found — " +
            s"fields: ${r.getClass.getDeclaredFields.map(_.getName).mkString(", ")}"))
        f.setAccessible(true)
        f.get(r)
      }
      val fmt = field("source").asInstanceOf[String]
      // the reader stores a CaseInsensitiveMap — keys come back lowercased
      val opts = field("extraOptions").asInstanceOf[Iterable[(String, String)]]
      (fmt, opts.toMap)
    }
    def lc(m: Map[String, String]) = m.map { case (k, v) => (k.toLowerCase, v) }

    // S2 Kafka (connectors/kafka/config.sample.yml:8–16)
    val (kfmt, kopts) = inspect(Sources.kafkaInput.reader(spark))
    assert(kfmt === "kafka")
    assert(kopts === lc(Map(
      "kafka.bootstrap.servers" -> "kafka:9092",
      "subscribe" -> "my-kafka-topic",
      "kafka.group.id" -> "example-group",
      "startingOffsets" -> "earliest")))

    // S1 Kinesis (connectors/kinesis/config.sample.yml:10,14,15,21) —
    // region + endpoint ride along so a jar-equipped deployment can
    // actually connect (the reference config carries both)
    val (nfmt, nopts) = inspect(Sources.kinesisInput.reader(spark))
    assert(nfmt === "kinesis")
    assert(nopts === lc(Map(
      "streamName" -> "my-kinesis-stream",
      "startingPosition" -> "TRIM_HORIZON",
      "region" -> "us-east-1",
      "endpointUrl" -> "http://localstack:4566")))

    // S4 Event Hub kafka head: Kafka mapping + the SASL_SSL/PLAIN
    // handshake every Event Hubs Kafka endpoint requires
    val (efmt, eopts) = inspect(Sources.eventHubInput.reader(spark))
    assert(efmt === "kafka")
    assert(eopts("kafka.security.protocol") === "SASL_SSL")
    assert(eopts("kafka.sasl.mechanism") === "PLAIN")
    assert(eopts("subscribe") === "my-kafka-topic")

    // S7 Pulsar passthrough (pipeline.yaml:35–39)
    val (pfmt, popts) = inspect(Sources.pulsarInput.reader(spark))
    assert(pfmt === "pulsar")
    assert(popts === lc(Map(
      "service.url" -> "pulsar://localhost:6650",
      "topic" -> "upstream-topic")))

    // bridged sources carry no reader options (knobs configure the
    // receiver; the V2 seam takes only the spool path at load())
    assert(Sources.rabbitMqInput.readerOptions.isEmpty)
    assert(Sources.httpInput.readerOptions.isEmpty)
  }
}

object PipelineSpec {
  def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  /** Publishes five messages to each of `topics` tenant topics under the
    * bus `root` in four partitions, so each topic gets four part files. */
  def publishTopics(root: String, topics: Int): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    // parallelize slices in order: each quarter of the rows spans every topic
    spark.sparkContext.parallelize((0 until topics * 5)
      .map(i => (s"persistent://t-${i % topics}/integration/telemetry", s"m$i")), 4)
      .toDF("topic", "value")
      .write.format("graft-spool").mode("append")
      .option("topics", "true").option("path", root).save()
  }

  /** Writes `n` small files `part-00000` ... under `dir`: file i holds
    * the lines `<prefix>i-l0`, `<prefix>i-l1`, ... (2 + i % 3 of them),
    * except file 4, which is empty. Returns `dir`. */
  def smallFiles(dir: java.nio.file.Path, prefix: String, n: Int): String = {
    java.nio.file.Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val lines = if (i == 4) Nil else (0 until 2 + i % 3).map(j => s"$prefix$i-l$j")
      java.nio.file.Files.write(dir.resolve(f"part-$i%05d"),
        lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    }
    dir.toString
  }

  def topicDirs(root: java.io.File): Array[java.io.File] =
    root.listFiles().filter(d => d.isDirectory && !d.getName.startsWith("."))

  def writeSpool(baseDir: String, topic: String, lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(baseDir, topic)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("part-0.txt"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
  }

  /** The vehicle spool, by topic: one valid record per source, a
    * poisoned Geotab record and the hostile Ford record below. */
  def vehicleLines: Map[String, Seq[String]] = Map(
    Sources.kinesisInput.outputTopic -> Seq(
      """{"Device_ID":"g1","Vehicle_ID":"v1","Record_DateTime":"2023-10-26T10:00:00Z","Latitude":1.0,"Longitude":2.0}""",
      """{"Device_ID":"broken"""),
    Sources.kafkaInput.outputTopic -> Seq(
      """{"unit_id":"c1","vid":"v2","msg_ts":1698314400,"gps_lat":3.0,"gps_lon":4.0}"""),
    Sources.httpInput.outputTopic -> Seq(
      """{"vin":"v3","esn":"e3","captureTime":1698314400000,"coords":{"latValue":5.0,"lonValue":6.0,"ts":1698314395000}}""",
      fordSmuggler))

  def spoolDir(): String = {
    val base = java.nio.file.Files.createTempDirectory("spool").toString
    vehicleLines.foreach { case (topic, lines) => writeSpool(base, topic, lines) }
    base
  }

  /** A poison record whose bytes are not UTF-8: `{"x":"` 0xC3 0x28 `"}`
    * plus a tag (0xC3 opens a two-byte sequence that 0x28 cannot end). */
  def rawPoison(tag: String): Array[Byte] =
    s"""{"x":"$tag:""".getBytes("UTF-8") ++ Array(0xC3.toByte, 0x28.toByte) ++
      "\"}".getBytes("UTF-8")

  /** Hostile Ford record: its `fordExtraData` text trails a second member
    * which, spliced into the wire verbatim, would add a top-level
    * `"meta": {"tenantId":"evil"}` ahead of the real one. */
  val fordSmuggler =
    """{"vin":"v4","esn":"e4","captureTime":1698314400000,"coords":{"latValue":5.0,"lonValue":6.0,"ts":1698314395000},""" +
    """"fordExtraData":"{\"a\":1}, \"meta\": {\"tenantId\":\"evil\"}"}"""
}
