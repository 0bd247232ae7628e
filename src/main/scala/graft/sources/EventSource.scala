package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Sources/sinks beyond the driver's parquet (SURVEY.md §2.2 rows 1-3):
  * the reference's only "wire format" is MessagePack+gzip over a socket
  * (`transports/message_pack_serializer.ex:18-33`); the engine's at-rest
  * equivalents are columnar parquet (default), line-JSON (the wire-debug
  * format), and CSV (interchange). All readers return the canonical
  * events schema so every operator runs unchanged on any source.
  *
  * Scale notes: JSON/CSV readers take an explicit schema — schema
  * inference is a full extra pass over 100 TB. Writers partition by the
  * event-time date so downstream scans prune partitions on time
  * predicates.
  */
object EventSource {

  /** The canonical events schema every reader returns. */
  private val EventsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")

  /** Canonical events from parquet (driver data). */
  def parquet(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)

  /** Write events as date-partitioned parquet — the production sink
    * layout (partition pruning on `event_date`). */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(path)

  /** Microsecond-precise timestamp format for text formats — Spark's
    * default .SSS millisecond pattern would silently truncate event
    * times and break round-trips (events carry µs precision). */
  private val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Line-JSON round-trip: the engine's wire-debug format. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("timestampFormat", TsFormat).json(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(EventsSchema)
      .option("timestampFormat", TsFormat)
      .json(path)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** CSV interchange (header, explicit schema — no inference pass). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true")
      .option("timestampFormat", TsFormat).csv(path)

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .schema(EventsSchema)
      .option("timestampFormat", TsFormat)
      .csv(path)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Columnar ORC round-trip — the second columnar at-rest format (ORC
    * ships with Spark; same predicate-pushdown and column-pruning
    * properties as parquet, so every operator runs unchanged on either
    * layout). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Bucketed table layout: pre-shuffle the data ONCE at write time so
    * every later equi-join/aggregation on the bucket key is
    * exchange-free — the canonical way to amortize the dominant shuffle
    * across the many queries of a 100 TB pipeline. The table is
    * registered external at `path` (bucket metadata lives in the
    * session catalog; `sortBy` additionally pre-sorts each bucket file
    * so sort-merge joins skip their sort). */
  def writeBucketed(df: DataFrame, table: String, path: String,
      buckets: Int, key: String): Unit =
    df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Streaming file source over the canonical schema — the engine's
    * stand-in for the reference's socket subscription when replaying
    * at-rest data (used by tests and backfills; the live topic source
    * below slots in with the same downstream plan). */
  def streamParquet(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(EventsSchema)
      .parquet(path)

  /** Live Kafka-shaped subscription (reference `consumer.ex:105` joins
    * `"event:#{topic}"` with a partition count): a micro-batch stream
    * over the partitioned topic log. `partitions` is this consumer-group
    * member's assignment (empty = consume the whole topic); disjoint
    * assignments across members scale the group out horizontally
    * ([[GraftTopicLog.assignment]]). */
  def streamTopic(spark: SparkSession, dir: String, topic: String,
      partitions: Seq[Int] = Nil,
      partitionCount: Int = Tables.DefaultPartitionCount,
      maxBytesPerTrigger: Option[Long] = None,
      group: Option[(String, String)] = None,
      memberTtlMillis: Long = 10000L): DataFrame = {
    var reader = spark.readStream
      .format(classOf[GraftTopicProvider].getName)
      .option("path", dir)
      .option("topic", topic)
      .option("partition.count", partitionCount)
    if (partitions.nonEmpty)
      reader = reader.option("partitions", partitions.mkString(","))
    group.foreach { case (service, member) =>
      reader = reader.option("group", service).option("member", member)
        .option("member.ttl.ms", memberTtlMillis)
    }
    maxBytesPerTrigger.foreach(b => reader = reader.option("maxBytesPerTrigger", b))
    reader.load()
  }

  /** Decode topic-log records (key/value strings) back to the canonical
    * event schema — the consumer-side `deserialize` (reference
    * `message_pack_serializer.ex:26-33`; the engine's wire-debug format
    * is line-JSON). Keeps the broker columns (partition/offset) so
    * downstream stages can assert ordering per partition. */
  def parseTopicEvents(records: DataFrame): DataFrame =
    records.select(
      col("partition"), col("offset"),
      from_json(col("value"), EventsSchema,
        java.util.Map.of("timestampFormat", TsFormat)).as("e"))
      .select(col("partition"), col("offset"), col("e.*"))

  /** Canonical-schema parse of a bare `value` JSON column — the shared
    * tail of every wire decode (topic log, MessagePack frames). */
  def parseWireJson(records: DataFrame): DataFrame =
    records.select(
      from_json(col("value"), EventsSchema,
        java.util.Map.of("timestampFormat", TsFormat)).as("e"))
      .select(col("e.*"))
}
