package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}

/** Structured-Streaming rendition of the reference's consumer runtime
  * (SURVEY.md §3.2): topic subscription → per-event processing →
  * at-least-once with dead-letter quarantine (reference
  * `lib/hivent/consumer.ex:68-81,98-100`), upgraded to effectively-once
  * via uuid dedup within the watermark.
  *
  * Runtime mapping (SURVEY.md §1.3):
  * - consumer group (`@service`)  → one streaming query per service, its
  *   own checkpoint dir = the group's offset state;
  * - partitioned queues           → `repartition(n, key)` before stateful
  *   stages;
  * - quarantine                   → per-batch sink union-split to ok/dlq
  *   ([[MicroBatch.startSink]]: idempotent overwrites keyed by batchId);
  * - reconnect/backoff            → Spark task retry + query restart from
  *   checkpoint (runtime concern, no data-plane logic needed).
  */
object ConsumerPipeline {

  case class RawEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Stream-stream correlation join: pair each `leftTopic` event with
    * the `rightTopic` events of the same user that arrive within
    * `within` after it — the reference's request/reply correlation
    * (`channel_client.ex:196-224` matches replies to requests by ref
    * within a timeout) re-expressed as a watermarked interval join.
    *
    * Scale contract: BOTH sides carry a watermark and the join condition
    * bounds event time in BOTH directions, so Spark's state store evicts
    * every row older than watermark − interval — state is
    * O(rate × (watermark + within)), never unbounded. The join itself
    * shuffles on user_id like any equi-join; the time-range predicate
    * filters inside the matched key group. */
  def correlate(events: DataFrame, leftTopic: String, rightTopic: String,
      watermark: String = "10 minutes", within: String = "5 minutes"): DataFrame = {
    val l = events.filter(col("event_type") === leftTopic)
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = events.filter(col("event_type") === rightTopic)
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Metadata enrichment, streaming form — same derivations and schema as
    * the batch `EventOps.emitEnrich` (deterministic uuid/cid; created_at
    * from event time, never the wall clock; partition from the shared
    * default count). */
  def enrich(events: DataFrame, producer: String = "graft"): DataFrame =
    events.select(
      col("event_id"),
      col("event_type").as("name"),
      lit(producer).as("producer"),
      lit(1).as("version"),
      md5(concat(lit("cid:"), col("event_id").cast("string"))).as("cid"),
      md5(col("event_id").cast("string")).as("uuid"),
      col("ts").as("created_at"),
      col("user_id").cast("string").as("key"),
      pmod(col("user_id"), lit(graft.model.Tables.DefaultPartitionCount)).as("part_id"),
      col("value"),
      col("props").as("payload"))

  /** Topic subscription = streaming filter (reference `consumer.ex:105`). */
  def subscribe(enriched: DataFrame, topic: String): DataFrame =
    enriched.filter(col("name") === topic)

  /** Outcome of the user processing callback (reference `consumer.ex:25`);
    * the deterministic rule stands in for user code. */
  def withOutcome(enriched: DataFrame): DataFrame =
    enriched.withColumn("outcome",
      when(col("name") === "error" || col("value") < 0, lit("error"))
        .otherwise(lit("ok")))

  /** Effectively-once upgrade: drop duplicate uuids within the watermark
    * (the reference is at-least-once and leaves idempotence to the user —
    * SURVEY.md §2.2 "Stateful ops"). A uuid's state is evicted once the
    * watermark passes its `created_at` + `watermark`, so state is
    * O(rate × watermark); `dropDuplicates("uuid")` would keep every uuid
    * forever, since Spark evicts only keys that hold the event time. */
  def dedupByUuid(enriched: DataFrame, watermark: String = "10 minutes"): DataFrame =
    enriched.withWatermark("created_at", watermark).dropDuplicatesWithinWatermark("uuid")

  /** Consume with DLQ: every micro-batch is union-split to the ok sink
    * and the quarantine sink through the [[MicroBatch.startSink]]
    * per-batch sink — a replayed batch rewrites the same directories
    * instead of appending duplicates. With
    * `exactlyOnce = true` (default) duplicate uuids within the watermark
    * are also dropped before routing (the effectively-once upgrade over
    * the reference's at-least-once contract).
    */
  def start(events: DataFrame, okPath: String, dlqPath: String,
      checkpointDir: String, service: String = "graft-consumer",
      exactlyOnce: Boolean = true): StreamingQuery = {
    val enriched = enrich(events)
    val deduped = if (exactlyOnce) dedupByUuid(enriched) else enriched
    MicroBatch.startSink(withOutcome(deduped), service, checkpointDir) { routed =>
      Seq(
        okPath -> routed.filter(col("outcome") === "ok"),
        dlqPath -> routed.filter(col("outcome") =!= "ok")
          .withColumn("queue", concat(lit("event:"), col("name"))))
    }
  }

  /** Tumbling windowed aggregation with watermark — late rows beyond the
    * watermark are dropped (engine policy; the reference has no event-time
    * processing at all, SURVEY.md §2.2). */
  def tumblingCounts(enriched: DataFrame, watermark: String = "1 hour"): DataFrame =
    enriched
      .withWatermark("created_at", watermark)
      .groupBy(window(col("created_at"), "1 hour"), col("name"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("name"), col("n"))

  /** Running per-user statistics carried across micro-batches — the
    * custom-state surface (`KeyValueGroupedDataset.mapGroupsWithState`).
    * This is the engine-level generalization of the reference's
    * consumer-side accumulation (its recorder test double keeps
    * per-consumer lists — `test/support/channel_client.ex:53-75`): state
    * lives in the checkpointed state store, partitioned by key, and
    * survives restarts. */
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  def runningUserStats(events: Dataset[RawEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[RawEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0))
          val next = evs.foldLeft(prev) { (acc, e) =>
            UserStats(uid, acc.n_events + 1, acc.total_value + e.value)
          }
          state.update(next)
          next
      }
  }

  /** Native session windows (30-min gap) — streaming-only; the batch
    * oracle uses the portable lag+cumsum formulation instead
    * (SURVEY.md §7.3 risk 5). */
  def sessionCounts(enriched: DataFrame, gap: String = "30 minutes"): DataFrame =
    enriched
      .withWatermark("created_at", "1 hour")
      .groupBy(session_window(col("created_at"), gap), col("key"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("key"), col("n_events"))
}
