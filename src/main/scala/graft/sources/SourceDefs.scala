package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One of the reference's seven connectors (pipeline.yaml:4–39, SURVEY.md
  * §2.1 S1–S7): it resolves to a streaming (or batch) DataFrame of raw
  * `value` strings feeding its `outputTopic`. Offline every topic is a
  * spool directory under a base dir, read through the one seam
  * [[SpoolDataSource]] (`graft-spool`); the topology (source → raw topic
  * → translator → CMF → router) is identical whichever resolver backs a
  * topic.
  *
  * @param name          connector instance name (pipeline.yaml key)
  * @param outputTopic   the raw-* topic it feeds (pipeline.yaml `output`)
  * @param sparkFormat   the streaming format a jar-equipped cluster uses:
  *        `kafka`, `kinesis`, `pulsar`, or `graft-spool` for the bridged
  *        sources that have no first-party Spark source (S3, S5, S6)
  * @param readerOptions that cluster's `DataStreamReader` options, mapped
  *        from the reference connector config (provenance in [[Sources]]);
  *        none for a bridged source, whose knobs configure its receiver
  */
final case class SourceDef(
    name: String,
    outputTopic: String,
    sparkFormat: String,
    readerOptions: Map[String, String] = Map.empty) {

  /** A fully-configured (format + options) streaming reader, NOT yet
    * `load()`ed — the broker-less assertable seam: PipelineSpec checks the
    * option mapping lands on a real `DataStreamReader` without needing a
    * broker; a jar-equipped deployment just calls `.load()`. */
  def reader(spark: SparkSession): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream.format(sparkFormat).options(readerOptions)

  /** Streaming resolution: one row per message, column `value` (the
    * reference's Schema.STRING wire contract, Filterer.kt:39), read from
    * the topic's spool directory under `baseDir`. */
  def stream(spark: SparkSession, baseDir: String): DataFrame =
    spark.readStream.format(SpoolDataSource.NAME).load(s"$baseDir/$outputTopic")

  /** Batch resolution over the same spool layout (replay/backfill path). */
  def batch(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.format(SpoolDataSource.NAME).load(s"$baseDir/$outputTopic")
}

/** The pipeline.yaml:4–39 instances, verbatim configs. */
object Sources {
  /** S1 Kinesis (connectors/kinesis/config.sample.yml), AWS's Kinesis
    * connector keys: :15 awsKinesisStreamName, :21 initialPositionInStream,
    * :14 awsRegion, :10 awsEndpoint (LocalStack in the reference's compose
    * file). The KCL tuning knobs (:23–26) are the connector's own. */
  val kinesisInput: SourceDef = SourceDef("kinesis-input", "raw-kinesis-events",
    "kinesis", Map(
      "streamName" -> "my-kinesis-stream",
      "startingPosition" -> "TRIM_HORIZON",
      "region" -> "us-east-1",
      "endpointUrl" -> "http://localstack:4566"))

  /** S2 Kafka (connectors/kafka/config.sample.yml), spark-sql-kafka-0-10
    * keys: :9 bootstrapServers, :13 topic, :11 groupId; `earliest` is a
    * fresh consumer group reading the backlog. autoCommitEnabled (:16,
    * false) has no key: Spark tracks offsets in its checkpoint. */
  val kafkaInput: SourceDef = SourceDef("kafka-input", "raw-kafka-events",
    "kafka", Map(
      "kafka.bootstrap.servers" -> "kafka:9092",
      "subscribe" -> "my-kafka-topic",
      "kafka.group.id" -> "example-group",
      "startingOffsets" -> "earliest"))

  /** S4 Azure Event Hub through its Kafka-protocol head
    * (connectors/azure-eventhub/connector.yaml `connectorType: kafka`): the
    * S2 mapping plus the SASL_SSL/PLAIN handshake every Event Hubs Kafka
    * endpoint requires (the connection string rides in the deployment's
    * jaas config, never in source-topology data). */
  val eventHubInput: SourceDef = SourceDef("azure-eventhub-input", "raw-azure-events",
    "kafka", Map(
      "kafka.bootstrap.servers" -> "localhost:9092",
      "subscribe" -> "my-kafka-topic",
      "kafka.group.id" -> "example-group",
      "kafka.security.protocol" -> "SASL_SSL",
      "kafka.sasl.mechanism" -> "PLAIN",
      "startingOffsets" -> "earliest"))

  /** S3 RabbitMQ (connectors/rabbitmq/config.sample.yml:8–21), bridged. */
  val rabbitMqInput: SourceDef =
    SourceDef("rabbitmq-input", "raw-rabbitmq-events", SpoolDataSource.NAME)

  /** S5 HTTP/Netty listener (connectors/http/config.http.yml:10–12), bridged. */
  val httpInput: SourceDef =
    SourceDef("http-input", "raw-http-events", SpoolDataSource.NAME)

  /** S6 gRPC (connectors/grpc/config.sample.yml:1–5; config-only in the
    * reference too, connector.yaml:3), bridged. */
  private val grpcInput: SourceDef =
    SourceDef("grpc-input", "raw-grpc-events", SpoolDataSource.NAME)

  /** S7 Pulsar→Pulsar passthrough (pipeline.yaml:35–39), StreamNative
    * pulsar-spark-connector keys: :37 service URL, :38 topic. */
  val pulsarInput: SourceDef = SourceDef("pulsar-source-input", "raw-pulsar-events",
    "pulsar", Map(
      "service.url" -> "pulsar://localhost:6650",
      "topic" -> "upstream-topic"))

  val all: Seq[SourceDef] = Seq(kinesisInput, kafkaInput, eventHubInput,
    rabbitMqInput, httpInput, grpcInput, pulsarInput)
}
