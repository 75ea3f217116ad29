package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, attribute}
import java.util

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Spool-directory DataSourceV2 — the one source-API seam every offline
  * topic reads through ([[SourceDef.stream]] / [[SourceDef.batch]]).
  * RabbitMQ S3 / HTTP S5 / gRPC S6 have no first-party Spark source, so a
  * receiver bridges their messages into a spool directory (SURVEY.md
  * §2.1); the broker-backed sources use the same layout offline. A
  * `TableProvider` exposing BATCH_READ and MICRO_BATCH_READ over the
  * spool, registered as `graft-spool` — exactly the interface a live
  * receiver source would implement, with the spool directory standing in
  * for the broker cursor.
  *
  * Contract (matches the bridge receivers' behavior):
  *  - one message per line, framed as the built-in text source frames it
  *    (`\n`, `\r` or `\r\n` ends a line), its bytes kept as they are;
  *  - files are IMMUTABLE once written, with LEXICOGRAPHICALLY increasing
  *    names: the streaming watermark is a plain string comparison, so
  *    numeric sequence names MUST be zero-padded ("part-00009" then
  *    "part-00010"; an unpadded "part-9" followed by "part-10" sorts
  *    BACKWARDS and every later file would be silently skipped).
  *    Timestamp names must use a sortable format (ISO-8601/epoch, fixed
  *    width). Out-of-contract arrivals below the watermark are dropped by
  *    design (never double-read) and logged as warnings — see
  *    [[SpoolMicroBatchStream]];
  *  - BATCH reads snapshot the directory listing once per `load()` (the
  *    built-in file sources' InMemoryFileIndex semantics), so repeated
  *    actions on one DataFrame see one consistent file set even while the
  *    receiver keeps appending;
  *  - streaming offsets are a lexicographic FILENAME WATERMARK: a batch is
  *    (watermark, latest] in name order, so restarts resume exactly and a
  *    file that appears BELOW the watermark (out-of-contract) is dropped,
  *    never double-read. A restart whose checkpoint holds an offset no
  *    spool listing could return (another source's JSON offset, a path)
  *    fails with an error naming that offset and the spool;
  *  - whole files are packed, in name order, into InputPartitions by
  *    Spark's own file-source rule ([[SpoolDataSource.pack]]): small files
  *    share a task, and a partition's reader reads its files one after
  *    another, each in line order;
  *  - the SESSION's Hadoop configuration rides to both the driver listing
  *    and, broadcast ([[SpoolDataSource.ship]]), the executor readers and
  *    writers, so an hdfs:/s3a: spool with `spark.hadoop.*` credentials
  *    behaves exactly like a local one.
  */
object SpoolDataSource {
  val NAME = "graft-spool"

  /** `(value)` for one topic directory; `(topic, value)` in `topics` mode
    * (option `topics=true`): the whole bus — row-level topic + payload,
    * the Kafka sink/source column contract. */
  private[sources] def schema(topics: Boolean): StructType = StructType(
    (if (topics) Seq(StructField("topic", StringType)) else Nil) :+
      StructField("value", StringType))

  /** Topic name → spool sub-directory. Topic URIs carry characters Hadoop
    * paths reject (the `:` in `persistent://tenant/ns/topic`), so the
    * mapping percent-encodes everything outside [A-Za-z0-9._-] —
    * deterministic, collision-free, and reversible, so a bridge daemon
    * draining spool dirs to a real broker can recover the exact topic. */
  def topicDir(topic: String): String =
    topic.getBytes(UTF_8).map {
      case b if (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9') || b == '.' || b == '_' || b == '-' =>
        b.toChar.toString
      case b => f"%%${b & 0xff}%02X"
    }.mkString

  /** Inverse of [[topicDir]]: `topics` mode recovers the broker topic
    * from the spool directory name. None for a name [[topicDir]] never
    * produces — a truncated or signed escape (`%2`, `%-1`, `%+A`), a
    * lower-case hex pair, a character outside [A-Za-z0-9._-] — which would
    * otherwise decode to a topic no writer published to. */
  private def topicFromDir(dir: String): Option[String] = Try {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < dir.length) {
      if (dir.charAt(i) == '%') {
        out.write(Integer.parseInt(dir.substring(i + 1, i + 3), 16)); i += 3
      } else { out.write(dir.charAt(i).toInt); i += 1 }
    }
    new String(out.toByteArray, UTF_8)
  }.toOption.filter(topicDir(_) == dir)

  /** The active session's Hadoop conf — spark.hadoop.* settings included. */
  private[sources] def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** `conf` for executors, as Spark's file sources ship theirs: a broadcast
    * is deserialized once per executor, a conf in a factory once per task. */
  private[sources] def ship(conf: SerializableConfiguration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(conf)

  /** The FileSystem every graft-spool read, write, commit and listing
    * goes through. For a path on the stock local FileSystem it is a fresh
    * `LocalFileSystem` over [[SpoolRawLocalFileSystem]]: the same
    * checksummed local FS (`.crc` sidecars, umask-derived permission
    * bits), except that a permission change is the chmod system call
    * rather than a forked `chmod` process. Without libhadoop, Hadoop's
    * local FS forks one for every file it creates: twice per spool file,
    * the data file and its `.crc`. Any other scheme or FileSystem class
    * is returned as `path.getFileSystem(conf)`. The instance is not
    * cached: callers build it once per writer task, commit, listing,
    * stream or reader. */
  private[sources] def fileSystem(path: Path, conf: Configuration): FileSystem = {
    val fs = path.getFileSystem(conf)
    if (!StockLocal.contains(fs.getClass.getName)) fs
    else {
      // FileSystem.get's own construction: setConf, then initialize
      val local = new LocalFileSystem(new SpoolRawLocalFileSystem)
      local.setConf(conf)
      local.initialize(fs.getUri, conf)
      local
    }
  }

  /** The classes `file:` resolves to out of the box. On Spark's
    * Hive-enabled classpath hive-exec registers its ProxyLocalFileSystem
    * for the scheme: a LocalFileSystem whose only change is a rename that
    * will not replace an existing file, and [[SpoolCommit]] already
    * refuses a rename onto an existing name. */
  private val StockLocal = Set(classOf[LocalFileSystem].getName,
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  /** Name-sorted listing of the spool; missing dir = empty (the topic
    * simply has not produced yet — matches broker semantics). */
  private[sources] def listFiles(fs: FileSystem, p: Path): Seq[SpoolFile] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
      .map(s => SpoolFile(s.getPath.getName, s.getPath.toString, s.getLen))
      .sortBy(_.name)

  /** `topics` mode listing: every topic sub-directory of the bus root,
    * flattened to its files, each tagged with its decoded topic, in
    * (directory, name) order. Directory count is
    * topology-scale (one per topic/tenant); file listing parallelism is
    * not needed at that cardinality. */
  private[sources] def listTopicFiles(fs: FileSystem, p: Path): Seq[SpoolFile] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      // same hidden-name contract as the file listing: checkpoint /
      // _spark_metadata / .snapshot dirs under the bus root are NOT topics
      .filterNot(d => d.getPath.getName.startsWith(".") ||
        d.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .flatMap { d =>
        // a directory that does not decode as a topic (someone else's
        // data dropped under the bus root) is skipped loudly, not fatal
        // to every read of the whole bus
        topicFromDir(d.getPath.getName) match {
          case Some(topic) => listFiles(fs, d.getPath).map(_.copy(topic = topic))
          case None =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"$NAME: ignoring non-topic directory ${d.getPath} " +
                "(name is not a percent-encoded topic)")
            Seq.empty
        }
      }

  /** Packs whole files, in listing order, into read partitions by the rule
    * Spark's file sources use (`FilePartition`): each file counts as its
    * length plus `spark.sql.files.openCostInBytes`, and a partition closes
    * before a file that would take it past
    * min(`maxPartitionBytes`, max(openCost, total / `minPartitionNum` or
    * the default parallelism)). Unlike Spark, files are never split (a
    * line may not straddle two tasks) and never reordered by size, so
    * each partition reads a run of consecutive names. The conf is the
    * active session's: the query's own while a stream plans a trigger. */
  private[sources] def pack(files: Seq[SpoolFile]): Seq[SpoolFilePartition] =
    if (files.isEmpty) Nil
    else {
      val spark = SparkSession.active
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val maxSplit = FilePartition.maxSplitBytes(spark, files.map(_.len + openCost).sum)
      val parts = Seq.newBuilder[SpoolFilePartition]
      var current = Vector.empty[SpoolFile]
      var size = 0L
      files.foreach { f =>
        if (current.nonEmpty && size + f.len > maxSplit) {
          parts += SpoolFilePartition(current); current = Vector.empty; size = 0L
        }
        current :+= f
        size += f.len + openCost
      }
      (parts += SpoolFilePartition(current)).result()
    }
}

/** `RawLocalFileSystem` whose `setPermission` makes the chmod system call
  * through `Files.setPosixFilePermissions` — what Hadoop itself does when
  * libhadoop's NativeIO is loaded — instead of running `chmod` as a child
  * process. The bits set, the symlink following and the error on a
  * missing file are the same; a sticky bit (which `PosixFilePermission`
  * cannot express) or a file store without POSIX attributes falls back to
  * Hadoop's own path. Built only by [[SpoolDataSource.fileSystem]]. */
private[sources] class SpoolRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit ||
      Files.getFileAttributeView(file, classOf[attribute.PosixFileAttributeView]) == null)
      super.setPermission(p, permission)
    else // without a sticky bit, toString is the nine-letter "rwxr-x---" form
      Files.setPosixFilePermissions(file,
        attribute.PosixFilePermissions.fromString(permission.toString))
  }
}

class SpoolDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = SpoolDataSource.NAME
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SpoolDataSource.schema(options.getBoolean("topics", false))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // option keys are case-insensitive, as inferSchema sees them
    val options = new CaseInsensitiveStringMap(properties)
    val path = options.get("path")
    require(path != null && path.nonEmpty, "graft-spool requires a path")
    // the spool frames one message per line; no other record format is
    // read here, and a `format` option silently ignored would split
    // foreign bytes (a WARC archive) into lines
    require(!options.containsKey("format"), s"${SpoolDataSource.NAME}: " +
      s"unsupported option format=${options.get("format")} — the spool " +
      "reads line-framed messages only; read WARC files with " +
      "graft.sources.Warc.readRecords")
    new SpoolTable(path, options.getBoolean("topics", false))
  }
}

/** `topics = false` (default): one spool directory = one topic, schema
  * `(value)`, batch + micro-batch reads — the consumer side of a single
  * bridged source; it takes no writes. `topics = true`: `path` is a BUS
  * ROOT holding one sub-directory per topic, schema `(topic, value)` — the
  * Kafka column contract on both sides: batch read returns every message
  * on the bus tagged with its topic; batch and streaming writes route each
  * row to its topic's directory. Streaming reads stay per-topic (a
  * multi-topic watermark would couple unrelated topics' progress;
  * subscribe per topic as Kafka does). */
class SpoolTable(path: String, topics: Boolean)
    extends Table with SupportsRead with SupportsWrite {
  // captured at table creation (driver): one conf for every scan and
  // write this table plans
  private val conf = new SerializableConfiguration(SpoolDataSource.hadoopConf())
  // batch consistency: freeze the listing at first batch use, NOT per
  // action — df.count() then df.collect() must see the same files
  private lazy val batchSnapshot: Seq[SpoolFile] = {
    val p = new Path(path)
    val fs = SpoolDataSource.fileSystem(p, conf.value)
    if (topics) SpoolDataSource.listTopicFiles(fs, p)
    else SpoolDataSource.listFiles(fs, p)
  }

  private val readSchema = SpoolDataSource.schema(topics)

  override def name(): String = s"${SpoolDataSource.NAME}($path)"
  override def schema(): StructType = readSchema
  override def capabilities(): util.Set[TableCapability] =
    (Set(TableCapability.BATCH_READ) ++
      (if (topics) Seq(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
       else Seq(TableCapability.MICRO_BATCH_READ))).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new SpoolScan(path, topics, readSchema, conf, () => batchSnapshot)
    }

  /** Publish seam (the write half of the bridge contract): the Kafka sink's
    * row-level dynamic routing, re-expressed over the spool. Only a
    * `topics=true` table takes writes. Input schema is `(topic STRING,
    * value STRING)`: each row lands in `path/<topicDir(topic)>/`,
    * mirroring the reference Filterer's dynamic `persistent://{tenantId}/...`
    * publish (Filterer.kt:36–41). Append-only, as a broker topic is:
    * Spark's overwrite mode is rejected (no SupportsTruncate). Values are
    * framed one per line (the read contract), so a `value` containing a
    * newline is rejected at write time rather than silently split into two
    * messages. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = info.schema()
    require(s.fieldNames.sorted.sameElements(Array("topic", "value")) &&
      s("topic").dataType == StringType && s("value").dataType == StringType,
      s"${SpoolDataSource.NAME} sink requires exactly (topic STRING, value " +
        s"STRING); got $s")
    new WriteBuilder {
      override def build(): Write = new SpoolWrite(path,
        s.fieldNames.indexOf("value"), s.fieldNames.indexOf("topic"), conf)
    }
  }
}

class SpoolScan(path: String, topics: Boolean, schema: StructType,
                conf: SerializableConfiguration,
                snapshot: () => Seq[SpoolFile]) extends Scan {
  private lazy val shipped = SpoolDataSource.ship(conf)
  override def readSchema(): StructType = schema
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      SpoolDataSource.pack(snapshot()).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new SpoolReaderFactory(shipped)
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!topics, s"${SpoolDataSource.NAME}: streaming reads are per-topic " +
      "— point readStream at one topic directory (topics=true is batch-only)")
    new SpoolMicroBatchStream(path, conf)
  }
}

/** Streaming offset: the highest spool filename read so far ("" = nothing).
  * Watermark-by-name (not a file count) makes restart resumption exact and
  * immunizes planning against late out-of-order files. */
case class SpoolOffset(watermark: String) extends Offset {
  override def json(): String = watermark
}

class SpoolMicroBatchStream(path: String, conf: SerializableConfiguration)
    extends MicroBatchStream {
  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(classOf[SpoolMicroBatchStream])
  // Names at or below a batch's start watermark that are legitimately
  // accounted for: everything this run planned into a batch, plus
  // everything already at/below the restart watermark the FIRST time this
  // stream plans (those were read by a previous run). A file later
  // observed at/below the watermark that is in neither set arrived OUT OF
  // CONTRACT (non-lexicographic naming, e.g. unpadded sequence numbers) —
  // it will never be read, so make the drop loud instead of silent.
  // Driver-side state, bounded by the spool's file count (the spool is the
  // bridge buffer, not the lake).
  @transient private var accounted: Set[String] = null
  @transient private var warnedDropped: Set[String] = Set.empty

  private def noteDropped(files: Seq[SpoolFile], watermark: String): Unit = {
    if (accounted == null)
      accounted = files.collect { case f if f.name <= watermark => f.name }.toSet
    val dropped = files.map(_.name).filter(n =>
      n <= watermark && !accounted.contains(n) && !warnedDropped.contains(n))
    if (dropped.nonEmpty) {
      log.warn(s"graft-spool($path): ${dropped.size} file(s) sort at or below " +
        s"the committed watermark '$watermark' but were never part of a batch " +
        s"and will NEVER be read: ${dropped.take(5).mkString(", ")}" +
        (if (dropped.size > 5) ", ..." else "") +
        ". The spool contract requires lexicographically increasing names " +
        "(zero-pad sequence numbers).")
      warnedDropped ++= dropped
    }
  }

  // High-water mark of every offset this stream object has returned:
  // latestOffset must be MONOTONE. A transient empty/partial directory
  // listing would otherwise regress the watermark to "" (or a lower name),
  // and the next full listing would re-plan — and re-read — every already-
  // consumed file above it: mass duplicates downstream. (Spark restores
  // committed offsets from its own checkpoint on restart, so this guard
  // only needs to span one stream instance's lifetime.)
  @transient private var highWater: String = ""
  // driver-side and stateless: one FileSystem for every trigger's listing
  @transient private lazy val dir = new Path(path)
  @transient private lazy val fs = SpoolDataSource.fileSystem(dir, conf.value)
  @transient private lazy val shipped = SpoolDataSource.ship(conf)

  override def initialOffset(): Offset = SpoolOffset("")
  override def deserializeOffset(json: String): Offset = {
    // A restored offset must be one this source could have written: "" or
    // a name the spool listing returns (no `/`, no leading `.` or `_`), not
    // another source's JSON offset. Taken as a watermark, a text file
    // stream's {"logOffset":0} sorts after every part- name, so the restart
    // would count every file as read and read nothing, without a word.
    require(!(json.contains("/") || Seq(".", "_", "{", "[", "\"").exists(json.startsWith)),
      s"${SpoolDataSource.NAME}($path): checkpoint offset '$json' is not a " +
        "spool file name, so another source wrote it; restart from a fresh " +
        "checkpoint location")
    // a restart seeds the high-water mark from the restored offset, so a
    // bad listing in the FIRST trigger after restart cannot regress either
    val o = SpoolOffset(json)
    if (o.watermark > highWater) highWater = o.watermark
    o
  }
  override def latestOffset(): Offset = {
    val files = SpoolDataSource.listFiles(fs, dir)
    val seen = if (files.isEmpty) "" else files.last.name
    if (seen > highWater) highWater = seen
    SpoolOffset(highWater)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SpoolOffset].watermark
    val hi = end.asInstanceOf[SpoolOffset].watermark
    val files = SpoolDataSource.listFiles(fs, dir)
    noteDropped(files, lo)
    val batch = files.filter(f => f.name > lo && f.name <= hi)
    accounted ++= batch.map(_.name)
    SpoolDataSource.pack(batch).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SpoolReaderFactory(shipped)
  override def commit(end: Offset): Unit = () // spool files are retained
  override def stop(): Unit = ()
}

/** One listed spool file; `topic` is non-null only in `topics` mode (the
  * reader then emits the two-column (topic, value) rows). */
case class SpoolFile(name: String, path: String, len: Long, topic: String = null)

/** One read task: whole files, read one after another in this order
  * ([[SpoolDataSource.pack]]). */
case class SpoolFilePartition(files: Seq[SpoolFile]) extends InputPartition

/** One task-written temp file: which spool dir it belongs to, its hidden
  * temp name, and the writing partition (the commit orders by partition so
  * final sequence numbers are deterministic given the upstream plan). */
case class SpoolWriteEntry(dir: String, tmpName: String, partitionId: Int)
case class SpoolCommitMessage(entries: Seq[SpoolWriteEntry]) extends WriterCommitMessage

/** Two-phase spool publish. Tasks write `.tmp-*` files — the dot prefix
  * makes them INVISIBLE to [[SpoolDataSource.listFiles]], so concurrent
  * readers never observe an uncommitted batch. The driver-side job commit
  * then renames each to the next zero-padded `part-NNNNNNNN` per directory,
  * continuing after the highest existing sequence — which is exactly the
  * lexicographically-increasing-name contract the streaming watermark
  * needs, so a micro-batch consumer tails a spool that a batch job is
  * publishing into. A failed task's temp files are deleted by abort; a
  * crashed executor's stragglers stay hidden behind the dot prefix.
  *
  * What one file costs: the task's create of the temp file and its
  * `.crc` sidecar (plus a `mkdirs` of a new topic directory), then one
  * rename here, which moves the sidecar with it. No step starts a
  * process: every FileSystem comes from [[SpoolDataSource.fileSystem]],
  * built once per commit or abort. */
private object SpoolCommit {
  /** Driver-side commit: per directory, rename the batch's temp files to
    * the next zero-padded sequence names after the highest already
    * committed. Shared by the batch and streaming forms — an epoch commit
    * IS a batch commit over that epoch's temp files. */
  def commit(root: String, messages: Array[WriterCommitMessage],
             conf: SerializableConfiguration): Unit = {
    val entries = messages.collect { case SpoolCommitMessage(es) => es }.flatten
    val fs = SpoolDataSource.fileSystem(new Path(root), conf.value)
    entries.groupBy(_.dir).foreach { case (dir, es) =>
      val existing = SpoolDataSource.listFiles(fs, new Path(dir))
        .map(_.name).filter(_.startsWith("part-"))
      var seq = existing
        .map(n => n.stripPrefix("part-").takeWhile(_.isDigit))
        .filter(_.nonEmpty).map(_.toLong).foldLeft(-1L)(math.max) + 1
      // Final names carry a commit-unique suffix (md5 of this commit's
      // temp-file set): two writers that race into one topic directory
      // (batch publish while a streaming epoch commits) can compute the
      // same next-sequence from the same point-in-time listing, and a
      // POSIX rename would silently REPLACE the other commit's file.
      // Distinct suffixes make the destinations disjoint; names still
      // sort after every earlier sequence, so the streaming watermark
      // contract holds, and the digit prefix still drives the next
      // commit's numbering.
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(es.map(_.tmpName).sorted.mkString(",")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      // deterministic final order: by writing partition, then temp name
      es.sortBy(e => (e.partitionId, e.tmpName)).foreach { e =>
        val to = new Path(dir, f"part-$seq%08d-$tag")
        // rename reports failure as `false`, not an exception — a silent
        // miss here would drop a committed task's messages
        require(!fs.exists(to) && fs.rename(new Path(dir, e.tmpName), to),
          s"${SpoolDataSource.NAME} commit: rename ${e.tmpName} -> $to failed in $dir")
        seq += 1
      }
    }
  }

  def abort(root: String, messages: Array[WriterCommitMessage],
            conf: SerializableConfiguration): Unit = {
    val entries = messages.collect { case SpoolCommitMessage(es) => es }.flatten
    val fs = SpoolDataSource.fileSystem(new Path(root), conf.value)
    entries.foreach { e =>
      val p = new Path(e.dir, e.tmpName)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}

/** The sink's one Write, for batch jobs and streaming queries alike: an
  * epoch commit IS a batch commit over that epoch's temp files, so both
  * forms run [[SpoolCommit]] and write through one factory.
  *
  * Streaming delivery is AT-LEAST-ONCE on failure recovery — matching the
  * Kafka sink's documented guarantee (and strictly stronger than the
  * reference Filterer's fire-and-forget `sendAsync`, which loses messages
  * on failure, Filterer.kt:42–45): a crash between an epoch's renames and
  * Spark's offset-log commit replays the epoch into fresh sequence
  * numbers. Readers needing exactly-once dedup on message content, as
  * they must with Kafka. */
class SpoolWrite(root: String, valueIdx: Int, topicIdx: Int,
                 conf: SerializableConfiguration)
    extends Write with BatchWrite with StreamingWrite {
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  override def useCommitCoordinator(): Boolean = true
  private lazy val factory =
    new SpoolWriterFactory(root, valueIdx, topicIdx, SpoolDataSource.ship(conf))
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    factory
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    SpoolCommit.commit(root, messages, conf)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SpoolCommit.abort(root, messages, conf)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    commit(messages)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    abort(messages)
}

/** Top-level (NOT an inner class): the factory ships to executors, and an
  * inner class would drag its enclosing Write into the task closure. A
  * streaming writer's temp names carry the epoch. */
class SpoolWriterFactory(root: String, valueIdx: Int, topicIdx: Int,
                         conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SpoolDataWriter(root, valueIdx, topicIdx, partitionId, taskId, conf)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new SpoolDataWriter(root, valueIdx, topicIdx, partitionId, taskId,
      conf, epochId)
}

/** One task's writer: one temp file per topic it sees. A file costs one
  * create of the data file and one of its `.crc` sidecar, and no process
  * (see [[SpoolCommit]]); the task's one FileSystem comes from
  * [[SpoolDataSource.fileSystem]] on first use. */
class SpoolDataWriter(root: String, valueIdx: Int, topicIdx: Int,
                      partitionId: Int, taskId: Long,
                      conf: Broadcast[SerializableConfiguration],
                      epochId: Long = -1L) extends DataWriter[InternalRow] {
  // one open temp file per topic this task has seen; task-scoped names
  // (partitionId + taskId, plus the epoch in streaming mode) cannot
  // collide across speculative attempts or epochs
  private val open = scala.collection.mutable.LinkedHashMap[
    String, (SpoolWriteEntry, java.io.BufferedOutputStream)]()
  private var n = 0
  private lazy val fs = SpoolDataSource.fileSystem(new Path(root), conf.value.value)

  private def streamFor(dir: String): java.io.BufferedOutputStream =
    open.getOrElseUpdate(dir, {
      val epochTag = if (epochId < 0) "" else s"e$epochId-"
      val name = f".tmp-$epochTag$partitionId%05d-$taskId-${open.size}%03d"
      val p = new Path(dir, name)
      fs.mkdirs(new Path(dir))
      (SpoolWriteEntry(dir, name, partitionId),
        new java.io.BufferedOutputStream(fs.create(p, false)))
    })._2

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(valueIdx),
      s"${SpoolDataSource.NAME} sink: null `value` (row ${n} of partition $partitionId)")
    // the value's bytes go out as they are: a decode and re-encode would
    // turn invalid UTF-8 into U+FFFD
    val value = row.getUTF8String(valueIdx)
    // the consume side's LineReader terminates on \n, \r, AND \r\n — a
    // bare carriage return would silently split the message. In UTF-8 the
    // bytes 0x0A and 0x0D occur only as those two characters
    require(!hasLineTerminator(value),
      s"${SpoolDataSource.NAME} sink: `value` contains a line terminator — " +
        "the spool frames one message per line (escape or re-encode the payload)")
    require(!row.isNullAt(topicIdx),
      s"${SpoolDataSource.NAME} sink: null `topic` (row $n of partition " +
        s"$partitionId) — route or filter null topics before publishing")
    val out = streamFor(
      s"$root/${SpoolDataSource.topicDir(row.getUTF8String(topicIdx).toString)}")
    value.writeTo(out); out.write('\n')
    n += 1
  }

  /** Whether `v` holds a 0x0A or 0x0D byte, in one pass. */
  private def hasLineTerminator(v: UTF8String): Boolean = {
    var i = 0
    while (i < v.numBytes && v.getByte(i) != '\n' && v.getByte(i) != '\r') i += 1
    i < v.numBytes
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_._2.close())
    SpoolCommitMessage(open.values.map(_._1).toSeq)
  }
  override def abort(): Unit = {
    open.values.foreach { case (e, w) =>
      try w.close() catch { case _: Exception => () }
      val p = new Path(e.dir, e.tmpName)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
  override def close(): Unit = ()
}

class SpoolReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SpoolPartitionReader(partition.asInstanceOf[SpoolFilePartition].files,
      conf.value.value)
}

/** Reads one partition's files one after another, each in line order. A
  * file is opened when the one before it is exhausted, so an empty file
  * yields nothing and the next one follows. */
private final class SpoolPartitionReader(files: Seq[SpoolFile], conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val pending = files.iterator
  // hadoop FS (not java.io) with the SESSION conf, so hdfs:/s3a: spools
  // read identically on a cluster (credentials, nameservices included);
  // one FileSystem for the partition, whose files share one spool root
  private var fs: FileSystem = null
  // Hadoop's LineReader, as the built-in text source frames lines: \n,
  // \r or \r\n ends one. A row keeps the line's bytes as they are; a
  // decode and re-encode would turn invalid UTF-8 into U+FFFD
  private var lines: LineReader = null
  private var topicUtf8: UTF8String = null
  private val line = new Text()

  @tailrec override def next(): Boolean =
    if (lines != null && lines.readLine(line) > 0) true
    else {
      close()
      if (!pending.hasNext) false
      else {
        val f = pending.next()
        val p = new Path(f.path)
        if (fs == null) fs = SpoolDataSource.fileSystem(p, conf)
        lines = new LineReader(fs.open(p))
        topicUtf8 = if (f.topic == null) null else UTF8String.fromString(f.topic)
        next()
      }
    }

  override def get(): InternalRow = {
    val value = UTF8String.fromBytes(line.copyBytes())
    new GenericInternalRow(
      if (topicUtf8 == null) Array[Any](value) else Array[Any](topicUtf8, value))
  }

  override def close(): Unit =
    if (lines != null) { lines.close(); lines = null }
}
