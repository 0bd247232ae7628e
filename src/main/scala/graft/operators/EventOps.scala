package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** The reference's event-pipeline surface, re-expressed as batch
  * DataFrame transformations over the driver's `events` table.
  *
  * Covers SURVEY.md §2.1 ops #2-#9 (emit/enrich/partition/topic-filter/
  * process/quarantine/decode), #11-#15 (memory-store queries), #17
  * (pub/sub dispatch), #22 (ref counter), #23-#24 (serde round-trip).
  *
  * Determinism contract (SURVEY.md §7.3): the reference stamps uuid4 /
  * wall-clock timestamps at ingest (reference `lib/support/memory.ex:90,95`);
  * oracle-checked queries replace those with deterministic derivations —
  * uuid = md5(event_id), created_at = ts from the data. Every query ends
  * in a total ORDER BY.
  */
object EventOps {

  /** Outcome rule mirroring the reference's fixture consumer, which routes
    * on payload content (reference `test/lib/consumer_test.exs:22-31`):
    * an `error`-typed event or a negative value is quarantined.
    */
  private val outcomeCol: Column =
    when(col("event_type") === "error" || col("value") < 0, lit("error"))
      .otherwise(lit("ok"))

  // ---------------------------------------------------------------- #2-#3
  /** Emit + metadata enrichment (reference `lib/hivent/emitter.ex:63-85`,
    * ingest side `lib/support/memory.ex:81-97`): stamp producer, version,
    * deterministic uuid, coalesced cid, created_at, partition key.
    */
  def emitEnrich(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_id"),
      col("event_type").as("name"),
      lit("graft").as("producer"),
      lit(1).as("version"),
      md5(concat(lit("cid:"), col("event_id").cast("string"))).as("cid"),
      md5(col("event_id").cast("string")).as("uuid"),
      col("ts").as("created_at"),
      col("user_id").cast("string").as("key"),
      col("props").as("payload")
    ).orderBy("event_id")

  // ------------------------------------------------------------------- #4
  /** Partition-key routing (reference `lib/hivent/emitter.ex:53`,
    * `config/config.exs:8` — default partition_count 4). Portable
    * rule (`pmod(user_id, 4)` — total over ALL longs, unlike abs%, which
    * goes negative at Long.MinValue) rather than Murmur3 so the
    * DuckDB oracle can state the identical rule (SURVEY.md §7.3 risk 2).
    * The physical analog at scale is `repartition(n, key)`.
    */
  def partitionAssign(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_id"),
      col("user_id"),
      lit(Tables.DefaultPartitionCount).as("partition_count"),
      pmod(col("user_id"), lit(Tables.DefaultPartitionCount)).as("part_id")
    ).orderBy("event_id")

  // ------------------------------------------------------------------- #5
  /** Topic subscription filter (reference `lib/hivent/consumer.ex:105` —
    * a consumer joins channel `event:<topic>` and receives only that
    * topic). Catalyst pushes this predicate into the parquet scan.
    */
  def topicFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .orderBy("event_id")

  // ------------------------------------------------------------------- #7
  /** Per-event processing contract (reference `lib/hivent/consumer.ex:25,
    * 68-81`): user callback yields ok | error per event; here the
    * deterministic outcome rule stands in for user code.
    */
  def processOutcomes(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"),
        outcomeCol.as("outcome"))
      .orderBy("event_id")

  // ------------------------------------------------------------------- #8
  /** Quarantine / dead-letter split (reference `lib/hivent/consumer.ex:
    * 72-74,98-100`): failures are routed to a DLQ with their source queue;
    * successes proceed. Batch rendition: a two-branch union with a `route`
    * column; ok ∪ dlq = input, ok ∩ dlq = ∅.
    */
  def dlqSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir)
      .withColumn("outcome", outcomeCol)
      .withColumn("queue", concat(lit("event:"), col("event_type")))
    val ok  = base.filter(col("outcome") === "ok").withColumn("route", lit("ok"))
    val dlq = base.filter(col("outcome") =!= "ok")
      .withColumn("route", lit("dlq"))
    ok.unionByName(dlq)
      .select("event_id", "event_type", "queue", "outcome", "route")
      .orderBy("route", "event_id")
  }

  // ------------------------------------------------------------------- #9
  /** Event decode (reference `lib/hivent/consumer.ex:69` — JSON to struct
    * coercion per received event): extract the schemaless payload's typed
    * fields on demand via JSON-path.
    */
  def eventDecode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_id"),
      col("event_type").as("name"),
      get_json_object(col("props"), "$.k").cast("int").as("k")
    ).orderBy("event_id")

  // ----------------------------------------------------------------- #11
  /** Store scan-all (reference `lib/support/memory.ex:62-64`): full scan
    * in insertion order; `event_id` is the insertion-order surrogate.
    */
  def cacheAll(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).orderBy("event_id")

  // ----------------------------------------------------------------- #12
  /** Store last (reference `lib/support/memory.ex:58-60` — `List.last`):
    * top-1 by insertion order, i.e. ORDER BY event_id DESC LIMIT 1.
    */
  def cacheLast(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).orderBy(col("event_id").desc).limit(1)

  // ----------------------------------------------------------------- #13
  /** Store emptiness (reference `lib/support/memory.ex:133`). */
  def cacheEmpty(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).agg((count(lit(1)) === 0).as("is_empty"))

  // ----------------------------------------------------------------- #15
  /** Partial-match existence (reference `lib/support/memory.ex:66-72,
    * 135-141`): "event with given payload and/or metadata exists", with
    * partial matching for both. Implemented as the *documented* semantics
    * — a conjunction of meta-field equality and payload JSON-path
    * predicates — not the reference's vacuously-true payload `match?`
    * (SURVEY.md §2.1 #15). Degenerate semi-join / EXISTS.
    */
  def includeMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val kProbe = get_json_object(col("props"), "$.k").cast("int")
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" && kProbe > 90)
      .agg((count(lit(1)) > 0).as("found"))
  }

  // ----------------------------------------------------------------- #17
  /** Pub/sub dispatch (reference `lib/hivent/phoenix/channel_client.ex:
    * 363-390` — per message, a parallel filter_map over all
    * subscriptions). N subscribers = N filtered projections of one
    * stream, unioned here for a single oracle-checkable result.
    */
  def dispatchFilterMap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(lit("click_sub").as("sub"), col("event_id"), col("user_id"))
    val bigPurchases = ev
      .filter(col("event_type") === "purchase" && col("value") > 50)
      .select(lit("big_purchase_sub").as("sub"), col("event_id"), col("user_id"))
    clicks.unionByName(bigPurchases).orderBy("sub", "event_id")
  }

  // ----------------------------------------------------------------- #21
  /** Request/reply pairing, batch form (reference `lib/hivent/phoenix/
    * channel_client.ex:196-224` — `push_and_receive` matches each reply
    * to its request by ref within a timeout). The batch rendition of
    * [[graft.streaming.ConsumerPipeline.correlate]]: every `click` pairs
    * with the same user's `purchase`s that land within 5 minutes AFTER
    * it — an interval join. Catalyst plans the equi-key (user_id) as an
    * ordinary shuffle join and evaluates the time-range predicate inside
    * each matched key group, so at 100 TB this costs exactly one
    * user-keyed shuffle; the streaming twin additionally bounds state by
    * the same interval via watermarks.
    */
  def requestReplyPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val req = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("req_id"), col("ts").as("req_ts"))
    val rep = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("r_user"), col("event_id").as("reply_id"),
        col("ts").as("reply_ts"))
    req.join(rep,
        col("user_id") === col("r_user") &&
          col("reply_ts") >= col("req_ts") &&
          col("reply_ts") <= col("req_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("user_id"), col("req_id"), col("req_ts"),
        col("reply_id"), col("reply_ts"))
      .orderBy("req_id", "reply_id")
  }

  // ----------------------------------------------------------------- #22
  /** Monotonic ref counter (reference `lib/hivent/phoenix/channel_client
    * .ex:341-345`): a global dense sequence over the insertion order —
    * the distributed way. `row_number() OVER (ORDER BY event_id)` would
    * sort ALL rows through one partition; instead this is the classic
    * two-pass global ranking:
    *   1. range-bucket rows by a DATA-derived rule (min/max of the key,
    *      collected once — metadata-sized, 1 row) so bucketing is
    *      deterministic and order-preserving without a sampled range
    *      shuffle whose boundaries could differ between plan branches;
    *   2. per-bucket counts (≤ nBuckets rows) → cumulative offsets on the
    *      driver-scale side, broadcast back;
    *   3. row_number within each bucket + the bucket's offset.
    * Every heavy stage is partitioned; the only global window runs over
    * ≤ nBuckets count rows. Identical output to the naive global window.
    */
  def refSequence(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_id"))
    val bounds = ev.agg(min("event_id"), max("event_id")).head()
    if (bounds.isNullAt(0)) {
      // empty input: no rows, same schema
      ev.select(col("event_id"), lit(0).as("ref")).limit(0)
    } else {
      val (minId, maxId) = (bounds.getLong(0), bounds.getLong(1))
      val nBuckets = spark.sessionState.conf.numShufflePartitions.max(1)
      val span = ((maxId - minId) / nBuckets + 1L).max(1L)
      // integer `div`, not float `/`: a double quotient loses exactness
      // past 2^53 and could misbucket, breaking the global-ranking
      // invariant (keys here are non-negative, so div == floor-div)
      val bucketed = ev.withColumn("bucket",
        expr(s"(event_id - ${minId}L) div ${span}L"))
      val wOff = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("bucket"),
          coalesce(sum(col("cnt")).over(wOff), lit(0L)).as("offset"))
      val wRank = Window.partitionBy(col("bucket")).orderBy(col("event_id"))
      bucketed.join(broadcast(offsets), Seq("bucket"))
        .select(col("event_id"),
          (row_number().over(wRank) + col("offset")).cast("int").as("ref"))
        .orderBy("event_id")
    }
  }

  /** Version-branched consumption (reference `lib/hivent/emitter.ex:64` —
    * `meta.version` is integer-guarded; consumers branch on it, with
    * schema evolution "handled socially" — SURVEY.md §1.2). The engine
    * routes each event to its version's handler and quarantines versions
    * no handler claims, the consumer-side analog of the emit guard.
    * Version is derived deterministically from the data (the driver
    * tables carry no version column).
    */
  def versionRoute(spark: SparkSession, sfDir: String): DataFrame = {
    val version = (pmod(col("event_id"), lit(3)) + 1).cast("int")
    Tables.events(spark, sfDir).select(
      col("event_id"),
      version.as("version"),
      when(version === 1, concat(lit("legacy:"), col("event_type")))
        .when(version === 2, concat(lit("v2:"), col("event_type")))
        .otherwise(lit("quarantine:unsupported_version")).as("handled"))
      .orderBy("event_id")
  }

  // --------------------------------------------------- event-sourced state
  /** CDC / event-sourced state reconstruction — the MERGE-INTO shape
    * without a table format: the LATEST event per user (ts desc,
    * event_id desc tiebreak, same total order as `latest_per_key`)
    * becomes a change record — `error` ⇒ DELETE, anything else ⇒ UPSERT
    * of its value — applied onto the customer base snapshot keyed by
    * custkey. Output is the merged state: base rows survive unchanged
    * unless a change hits their key; upserts for unknown keys INSERT.
    *
    * Scale shape: one user_id window picks the change set (one row per
    * key — delta-sized), then ONE full-outer join on the key applies
    * it; at 100 TB this is the standard CDC-merge plan (the small
    * change side broadcast or co-partitioned with the base). No
    * driver-side state, no iteration. */
  def cdcUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val changes = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").as("key"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        round(col("value"), 6).as("new_value"))
    val base = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("base_value"))
    base.join(changes, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("key"),
        coalesce(col("op"), lit("keep")).as("op"),
        round(coalesce(col("new_value"), col("base_value")), 6).as("value"))
      .orderBy("key")
  }

  /** SCD Type 2 dimension build from the event stream — the other half of
    * the CDC family next to [[cdcUpsert]] (latest-state merge): per user,
    * collapse consecutive runs of the same event_type into validity
    * intervals `[valid_from, valid_to)` with a monotonically increasing
    * version; the open interval (`valid_to IS NULL`) is the current row.
    * This is the standard warehouse history-table shape: a point-in-time
    * lookup is `valid_from <= t AND (valid_to IS NULL OR t < valid_to)`.
    *
    * Scale shape: two windows over the SAME (user_id, ts) partitioning —
    * change detection (`lag`) and interval stitching (`lead` +
    * `row_number`) reuse one exchange+sort, so the whole build is a
    * single shuffle on user_id regardless of history depth; state per
    * key is one row. */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(ord))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(ord))
      .withColumn("valid_to", lead(col("ts"), 1).over(ord))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** Z-order clustering key over (user bucket, day-of-year bucket) —
    * the multi-dimensional layout key [[graft.sources.DataLayout]]
    * writes with. Oracle-checked here because the interleave must be
    * bit-identical on both engines for the layout to be reproducible;
    * both sides are GENERATED from the same formula
    * ([[graft.sources.DataLayout.zorderSql]]). */
  def zorderKey(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"),
        graft.sources.DataLayout.zorderKey(
          pmod(col("user_id"), lit(256L)),
          pmod(dayofyear(col("ts")), lit(256)).cast("long")).as("zkey"))
      .orderBy("event_id")

  // ------------------------------------------------------------- #23-#24
  /** Serialize/deserialize round-trip (reference `message_pack_serializer
    * .ex:10-33`): term → wire → term. The engine's wire format is JSON
    * (columnar parquet carries data at rest); the round-trip property is
    * what's oracle-checked.
    */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("wire"))
      .withColumn("decoded_type", get_json_object(col("wire"), "$.event_type"))
      .orderBy("event_id")

  /** Flagship: the full consumer pipeline in batch form (SURVEY.md §3.2)
    * — read → enrich → partition-assign → process → route ∈ {ok, dlq}.
    * Exercises ops #2-#9 in one plan.
    */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val enriched = Tables.events(spark, sfDir).select(
      col("event_id"),
      col("event_type").as("name"),
      lit("graft").as("producer"),
      md5(col("event_id").cast("string")).as("uuid"),
      col("ts").as("created_at"),
      pmod(col("user_id"), lit(Tables.DefaultPartitionCount)).as("part_id"),
      col("value"),
      get_json_object(col("props"), "$.k").cast("int").as("k"),
      outcomeCol.as("outcome"))
    enriched
      .withColumn("route", when(col("outcome") === "ok", lit("ok")).otherwise(lit("dlq")))
      .orderBy("route", "event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emit_enrich"         -> (emitEnrich _),
    "partition_assign"    -> (partitionAssign _),
    "topic_filter"        -> (topicFilter _),
    "process_outcomes"    -> (processOutcomes _),
    "dlq_split"           -> (dlqSplit _),
    "event_decode"        -> (eventDecode _),
    "cache_all"           -> (cacheAll _),
    "cache_last"          -> (cacheLast _),
    "cache_empty"         -> (cacheEmpty _),
    "include_match"       -> (includeMatch _),
    "dispatch_filter_map" -> (dispatchFilterMap _),
    "request_reply_pairs" -> (requestReplyPairs _),
    "ref_sequence"        -> (refSequence _),
    "version_route"       -> (versionRoute _),
    "json_roundtrip"      -> (jsonRoundtrip _),
    "cdc_upsert"          -> (cdcUpsert _),
    "scd2_intervals"      -> (scd2Intervals _),
    "zorder_key"          -> (zorderKey _),
    "consumer_pipeline"   -> (flagship _))

  val oracles: Map[String, String] = Map(
    "emit_enrich" ->
      """SELECT event_id, event_type AS name, 'graft' AS producer, 1 AS version,
        | md5('cid:' || CAST(event_id AS VARCHAR)) AS cid,
        | md5(CAST(event_id AS VARCHAR)) AS uuid,
        | ts AS created_at, CAST(user_id AS VARCHAR) AS key, props AS payload
        |FROM events ORDER BY event_id""".stripMargin,
    "partition_assign" ->
      """SELECT event_id, user_id, 4 AS partition_count,
        | ((user_id % 4) + 4) % 4 AS part_id
        |FROM events ORDER BY event_id""".stripMargin,
    "topic_filter" ->
      "SELECT * FROM events WHERE event_type = 'purchase' ORDER BY event_id",
    "process_outcomes" ->
      """SELECT event_id, event_type, value,
        | CASE WHEN event_type = 'error' OR value < 0 THEN 'error' ELSE 'ok' END AS outcome
        |FROM events ORDER BY event_id""".stripMargin,
    "dlq_split" ->
      """WITH base AS (
        | SELECT event_id, event_type, 'event:' || event_type AS queue,
        |  CASE WHEN event_type = 'error' OR value < 0 THEN 'error' ELSE 'ok' END AS outcome
        | FROM events)
        |SELECT event_id, event_type, queue, outcome, 'ok' AS route FROM base WHERE outcome = 'ok'
        |UNION ALL
        |SELECT event_id, event_type, queue, outcome, 'dlq' AS route FROM base WHERE outcome <> 'ok'
        |ORDER BY route, event_id""".stripMargin,
    "event_decode" ->
      """SELECT event_id, event_type AS name,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "cache_all" ->
      "SELECT * FROM events ORDER BY event_id",
    "cache_last" ->
      "SELECT * FROM events ORDER BY event_id DESC LIMIT 1",
    "cache_empty" ->
      "SELECT count(*) = 0 AS is_empty FROM events",
    "include_match" ->
      """SELECT count(*) > 0 AS found FROM events
        |WHERE event_type = 'purchase'
        |  AND CAST(json_extract_string(props, '$.k') AS INTEGER) > 90""".stripMargin,
    "dispatch_filter_map" ->
      """SELECT 'click_sub' AS sub, event_id, user_id FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT 'big_purchase_sub' AS sub, event_id, user_id FROM events
        | WHERE event_type = 'purchase' AND value > 50
        |ORDER BY sub, event_id""".stripMargin,
    "request_reply_pairs" ->
      """SELECT l.user_id, l.event_id AS req_id, l.ts AS req_ts,
        | r.event_id AS reply_id, r.ts AS reply_ts
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 5 MINUTE
        |ORDER BY req_id, reply_id""".stripMargin,
    "ref_sequence" ->
      """SELECT event_id, CAST(row_number() OVER (ORDER BY event_id) AS INTEGER) AS ref
        |FROM events ORDER BY event_id""".stripMargin,
    "version_route" ->
      """SELECT event_id,
        | CAST(((event_id % 3) + 3) % 3 + 1 AS INTEGER) AS version,
        | CASE ((event_id % 3) + 3) % 3 + 1
        |  WHEN 1 THEN 'legacy:' || event_type
        |  WHEN 2 THEN 'v2:' || event_type
        |  ELSE 'quarantine:unsupported_version' END AS handled
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_upsert" ->
      """WITH ch AS (
        | SELECT user_id AS key,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |  round(value, 6) AS new_value
        | FROM (SELECT user_id, event_type, value,
        |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1),
        |base AS (SELECT c_custkey AS key, c_acctbal AS base_value FROM customer)
        |SELECT key, COALESCE(op, 'keep') AS op,
        | round(COALESCE(new_value, base_value), 6) AS value
        |FROM base FULL JOIN ch USING (key)
        |WHERE op IS NULL OR op <> 'delete'
        |ORDER BY key""".stripMargin,
    "scd2_intervals" ->
      """SELECT user_id,
        | CAST(row_number() OVER w AS INTEGER) AS version,
        | event_type AS state,
        | ts AS valid_from,
        | lead(ts) OVER w AS valid_to,
        | lead(ts) OVER w IS NULL AS is_current
        |FROM (
        | SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        | FROM events) c
        |WHERE prev_type IS NULL OR prev_type <> event_type
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "zorder_key" ->
      s"""SELECT event_id,
         | ${graft.sources.DataLayout.zorderSql("(user_id % 256)", "(dayofyear(ts) % 256)")} AS zkey
         |FROM events ORDER BY event_id""".stripMargin,
    "json_roundtrip" ->
      """SELECT event_id,
        | to_json(struct_pack(event_id := event_id, event_type := event_type)) AS wire,
        | event_type AS decoded_type
        |FROM events ORDER BY event_id""".stripMargin,
    "consumer_pipeline" ->
      """WITH enriched AS (
        | SELECT event_id, event_type AS name, 'graft' AS producer,
        |  md5(CAST(event_id AS VARCHAR)) AS uuid, ts AS created_at,
        |  ((user_id % 4) + 4) % 4 AS part_id, value,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  CASE WHEN event_type = 'error' OR value < 0 THEN 'error' ELSE 'ok' END AS outcome
        | FROM events)
        |SELECT *, CASE WHEN outcome = 'ok' THEN 'ok' ELSE 'dlq' END AS route
        |FROM enriched ORDER BY route, event_id""".stripMargin)
}
