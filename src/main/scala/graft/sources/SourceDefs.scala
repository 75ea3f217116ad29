package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source-topology parity with the reference's seven connectors
  * (pipeline.yaml:4–39, SURVEY.md §2.1 S1–S7): one definition per connector,
  * carrying the reference's tuning knobs, that resolves to a streaming (or
  * batch) DataFrame of raw `value` strings feeding its `outputTopic`.
  *
  * Resolution strategy mirrors the Spark mapping in SURVEY.md §2.1:
  *  - kafka-protocol sources (Kafka S2, Event Hub S4) → `format("kafka")`
  *  - Kinesis S1 → `format("kinesis")` where the connector jar exists
  *  - RabbitMQ S3 / HTTP S5 / gRPC S6 → no first-party Spark source: a tiny
  *    receiver bridges into a spool directory consumed through the
  *    [[SpoolDataSource]] DataSourceV2 (`graft-spool` — a real
  *    TableProvider with BATCH_READ + MICRO_BATCH_READ, filename-watermark
  *    offsets)
  *  - Pulsar S7 → `format("pulsar")`
  * This zero-egress harness has none of the broker connector jars, so the
  * CLUSTER formats (kafka/kinesis/pulsar) resolve through the built-in
  * text file stream over the same spool layout — the topology (source →
  * raw topic → translator → CMF → router) is what's under test, and it is
  * identical whichever physical resolver backs a topic. The format mapping
  * is data ([[SourceDef.sparkFormat]]): bridged sources exercise the V2
  * seam offline, and a jar-equipped deployment switches per source.
  */
sealed trait SourceDef {
  /** Connector instance name (pipeline.yaml key). */
  def name: String
  /** The raw-* topic this source feeds (pipeline.yaml `output`). */
  def outputTopic: String
  /** The Spark streaming format a jar-equipped cluster would use. */
  def sparkFormat: String

  private val valueSchema = StructType(Seq(StructField("value", StringType)))

  /** The option map a jar-equipped `DataStreamReader` for [[sparkFormat]]
    * receives — the EXECUTABLE form of the reference connector config
    * (each subclass documents its config.sample.yml:line provenance and
    * the public connector option key it maps to). Bridged (spool) sources
    * return empty: their knobs configure the receiver process, and the V2
    * seam takes only the spool path at `load()` time. */
  def readerOptions: Map[String, String] = Map.empty

  /** A fully-configured (format + options) streaming reader, NOT yet
    * `load()`ed — the broker-less assertable seam: PipelineSpec checks the
    * option mapping lands on a real `DataStreamReader` without needing a
    * broker; a jar-equipped deployment just calls `.load()`. */
  def reader(spark: SparkSession): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream.format(sparkFormat).options(readerOptions)

  /** Streaming resolution: one row per message, column `value` (the
    * reference's Schema.STRING wire contract, Filterer.kt:39). Offline the
    * topic is a spool directory of text files under `baseDir`; bridged
    * sources consume it through the graft-spool MicroBatchStream, cluster
    * formats through the built-in file stream. */
  def stream(spark: SparkSession, baseDir: String): DataFrame =
    if (sparkFormat == SpoolDataSource.NAME)
      spark.readStream.format(SpoolDataSource.NAME).load(s"$baseDir/$outputTopic")
    else
      spark.readStream.schema(valueSchema).text(s"$baseDir/$outputTopic")

  /** Batch resolution over the same spool layout (replay/backfill path). */
  def batch(spark: SparkSession, baseDir: String): DataFrame =
    if (sparkFormat == SpoolDataSource.NAME)
      spark.read.format(SpoolDataSource.NAME).load(s"$baseDir/$outputTopic")
    else
      spark.read.schema(valueSchema).text(s"$baseDir/$outputTopic")
}

/** S1 — AWS Kinesis (connectors/kinesis/config.sample.yml:21–26). */
final case class KinesisSource(
    name: String,
    streamName: String,
    initialPosition: String = "TRIM_HORIZON",
    awsRegion: String = "us-east-1",
    awsEndpoint: Option[String] = None,
    checkpointIntervalMs: Long = 60000,
    backoffTimeMs: Long = 3000,
    numRetries: Int = 3,
    receiveQueueSize: Int = 1000,
    outputTopic: String) extends SourceDef {
  val sparkFormat = "kinesis"
  /** AWS's spark-streaming-sql-kinesis-connector option keys:
    * config.sample.yml:15 awsKinesisStreamName → `streamName`,
    * :21 initialPositionInStream → `startingPosition` (same enum values),
    * :14 awsRegion → `region` (required by the connector to build its
    * client), :10 awsEndpoint → `endpointUrl` (only set when the
    * deployment overrides the regional default — LocalStack in the
    * reference's compose file). The KCL tuning knobs (checkpointInterval/
    * backoffTime/numRetries/receiveQueueSize, :23–26) configure the
    * consumer library, which the Spark connector manages internally —
    * carried here as data for a deployment that tunes the client, not
    * reader options. */
  override def readerOptions: Map[String, String] = Map(
    "streamName" -> streamName,
    "startingPosition" -> initialPosition,
    "region" -> awsRegion) ++
    awsEndpoint.map("endpointUrl" -> _)
}

/** S2 — Kafka (connectors/kafka/config.sample.yml:8–16). */
final case class KafkaSource(
    name: String,
    bootstrapServers: String,
    topic: String,
    groupId: String,
    autoCommitEnabled: Boolean = false,
    outputTopic: String) extends SourceDef {
  val sparkFormat = "kafka"
  require(!autoCommitEnabled,
    "Spark's Kafka source forbids enable.auto.commit (offsets are tracked " +
      "by the streaming checkpoint) — the reference default `false` " +
      "(config.sample.yml:16) is the only mappable value")
  /** spark-sql-kafka-0-10 option keys: config.sample.yml:9
    * bootstrapServers → `kafka.bootstrap.servers`, :13 topic →
    * `subscribe`, :11 groupId → `kafka.group.id`. startingOffsets =
    * earliest mirrors a fresh consumer group reading the backlog. */
  override def readerOptions: Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "kafka.group.id" -> groupId,
    "startingOffsets" -> "earliest")
}

/** S3 — RabbitMQ (connectors/rabbitmq/config.sample.yml:8–21); bridged. */
final case class RabbitMqSource(
    name: String,
    host: String,
    queueName: String,
    prefetchCount: Int = 0,
    requestedHeartbeat: Int = 60,
    outputTopic: String) extends SourceDef {
  val sparkFormat = SpoolDataSource.NAME // receiver → spool → graft-spool V2
}

/** S4 — Azure Event Hub via its Kafka-protocol head
  * (connectors/azure-eventhub/connector.yaml — `connectorType: kafka`). */
final case class EventHubSource(
    name: String,
    bootstrapServers: String,
    topic: String,
    groupId: String,
    outputTopic: String) extends SourceDef {
  val sparkFormat = "kafka"
  /** Event Hubs' Kafka-protocol head (connector.yaml `connectorType:
    * kafka`): the same spark-sql-kafka-0-10 mapping as [[KafkaSource]]
    * plus the SASL_SSL/PLAIN handshake every Event Hubs Kafka endpoint
    * requires (public Azure guidance; the connection string rides in the
    * deployment's jaas config, never in source-topology data). */
  override def readerOptions: Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic,
    "kafka.group.id" -> groupId,
    "kafka.security.protocol" -> "SASL_SSL",
    "kafka.sasl.mechanism" -> "PLAIN",
    "startingOffsets" -> "earliest")
}

/** S5 — HTTP/Netty listener (connectors/http/config.http.yml:10–12); bridged. */
final case class HttpSource(
    name: String,
    host: String = "0.0.0.0",
    port: Int = 10999,
    outputTopic: String) extends SourceDef {
  val sparkFormat = SpoolDataSource.NAME
}

/** S6 — gRPC (connectors/grpc/config.sample.yml:1–5 — config-only in the
  * reference too: "source code seems to be missing", connector.yaml:3). */
final case class GrpcSource(
    name: String,
    grpcEndpoint: String,
    outputTopic: String) extends SourceDef {
  val sparkFormat = SpoolDataSource.NAME
}

/** S7 — Pulsar→Pulsar passthrough (pipeline.yaml:35–39; no directory in the
  * reference tree, settings.gradle.kts:36–41). */
final case class PulsarSource(
    name: String,
    serviceUrl: String,
    inputTopic: String,
    outputTopic: String) extends SourceDef {
  val sparkFormat = "pulsar"
  /** StreamNative pulsar-spark-connector option keys: `service.url` (the
    * broker URL, pipeline.yaml:37) and `topic` (single-topic subscribe,
    * :38). */
  override def readerOptions: Map[String, String] = Map(
    "service.url" -> serviceUrl,
    "topic" -> inputTopic)
}

/** The pipeline.yaml:4–39 instances, verbatim configs. */
object Sources {
  val kinesisInput: KinesisSource = KinesisSource("kinesis-input",
    streamName = "my-kinesis-stream", awsRegion = "us-east-1",
    awsEndpoint = Some("http://localstack:4566"),
    outputTopic = "raw-kinesis-events")
  val kafkaInput: KafkaSource = KafkaSource("kafka-input",
    bootstrapServers = "kafka:9092", topic = "my-kafka-topic",
    groupId = "example-group", outputTopic = "raw-kafka-events")
  val eventHubInput: EventHubSource = EventHubSource("azure-eventhub-input",
    bootstrapServers = "localhost:9092", topic = "my-kafka-topic",
    groupId = "example-group", outputTopic = "raw-azure-events")
  val rabbitMqInput: RabbitMqSource = RabbitMqSource("rabbitmq-input",
    host = "rabbitmq", queueName = "my-queue", outputTopic = "raw-rabbitmq-events")
  val httpInput: HttpSource = HttpSource("http-input",
    outputTopic = "raw-http-events")
  private val grpcInput: GrpcSource = GrpcSource("grpc-input",
    grpcEndpoint = "localhost:50051", outputTopic = "raw-grpc-events")
  val pulsarInput: PulsarSource = PulsarSource("pulsar-source-input",
    serviceUrl = "pulsar://localhost:6650", inputTopic = "upstream-topic",
    outputTopic = "raw-pulsar-events")

  val all: Seq[SourceDef] = Seq(kinesisInput, kafkaInput, eventHubInput,
    rabbitMqInput, httpInput, grpcInput, pulsarInput)
}
