package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader

/** The reference engine's ONLY real ingestion path, as a Structured
  * Streaming source builder: a Kafka direct stream whose message value is
  * the `;`-joined wire batch and whose message key (in the keyed star-join
  * modules) carries the source-relation id
  * (`stateless/src/main/scala/cluster/HashJoin.scala:64-66` — direct
  * stream → `flatMap(_._2.split(";"))`; keyed form
  * `star-join-stateless/src/main/scala/cluster/HHJoin.scala:39-45`).
  *
  * Layering: [[reader]] builds the configured `readStream.format("kafka")`
  * (connector options only — no parsing), and the record adapters take ANY
  * relation with Kafka's wire schema (`key BINARY, value BINARY, topic,
  * partition, offset, timestamp, ...`) and apply the WireFormat parsers.
  * The split matters for scale and for tests: the parse stage is a pure
  * narrow projection (explode + split fused into the scan, no shuffle), so
  * it composes identically over a live Kafka read, a batch
  * `spark.read.format("kafka")` backfill, or an in-memory stream with the
  * same schema — which is how KafkaSourceSpec drives it end-to-end without
  * a broker (the Kafka connector jar is not shipped in this build's
  * offline image; on a real cluster `spark-sql-kafka-0-10` provides the
  * format and nothing here changes).
  */
object KafkaSource {

  /** Configured streaming reader for the reference's ingestion contract.
    *
    * @param brokers  `kafka.bootstrap.servers`
    * @param topics   `subscribe` topic list (comma-separated)
    * @param startingOffsets Kafka cold-start position; the reference's
    *   direct stream starts at the group's committed offsets — "latest"
    *   matches its steady-state behavior.
    * @param maxOffsetsPerTrigger backpressure bound per micro-batch; at
    *   100 TB/day this is the knob that keeps batch size (and therefore
    *   shuffle spill and watermark lag) constant.
    */
  def reader(
      spark: SparkSession,
      brokers: String,
      topics: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None): DataStreamReader = {
    val r = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
    maxOffsetsPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n.toString))
  }

  /** [[reader]] from a typed [[graft.EngineConfig]] (S5): brokers, topic
    * set, and the reference's old-consumer offset vocabulary
    * (`largest`/`smallest`, stream.json:8) already translated to
    * `startingOffsets` — the config-file-driven entry the reference's
    * driver mains use (`HashJoin.scala:31` reads the 12-tuple, :64 builds
    * the direct stream from its brokers/topics/offset fields).
    */
  def reader(spark: SparkSession, cfg: graft.EngineConfig): DataStreamReader =
    reader(spark, cfg.brokers, cfg.topicsCsv, cfg.startingOffsets)

  /** Kafka wire relation → the engine's `(event_time, port, word)` shape:
    * value is the `;`-joined record batch; the key is unused in the
    * stateless form (HashJoin.scala:66 ignores it).
    */
  def portWordRecords(kafkaRows: DataFrame): DataFrame = {
    val spark = kafkaRows.sparkSession
    import spark.implicits._
    WireFormat.parsePortWord(
      kafkaRows.select(col("value").cast("string")).as[String])
  }

  /** Keyed star-join form: the Kafka message key is the relation id
    * (HHJoin.scala:39-45) → `(event_time, relation, z, x)`.
    */
  def keyedZxRecords(kafkaRows: DataFrame): DataFrame = {
    val spark = kafkaRows.sparkSession
    import spark.implicits._
    WireFormat.parseKeyedZx(
      kafkaRows.select(col("key").cast("string"), col("value").cast("string"))
        .as[(String, String)])
  }

  /** Full S1 pipeline: Kafka topic → port-word record stream. */
  def portWordStream(
      spark: SparkSession,
      brokers: String,
      topics: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    portWordRecords(
      reader(spark, brokers, topics, startingOffsets, maxOffsetsPerTrigger).load())
}
