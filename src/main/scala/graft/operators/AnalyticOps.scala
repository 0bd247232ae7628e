package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Tables

/** Second wave of capability-parity analytics: reshaping (pivot/unpivot),
  * distribution statistics (exact percentiles, quartiles, percent_rank),
  * ordered string aggregation, a scalar-function pack, a bucketed range
  * join, and windowed relative filters. Same contracts as RelationalOps:
  * Catalyst built-ins, decimal accumulation for float sums, total ORDER BY
  * for oracle parity.
  */
object AnalyticOps {

  private val Dec = DecimalType(18, 2)
  private def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(Dec)).cast("double")

  /** PIVOT: per-user event-type counts as columns (explicit value list —
    * at scale an implicit pivot would need an extra distinct pass). */
  def pivotCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  /** UNPIVOT/melt: wide metrics back to long (id, metric, metric_value). */
  def unpivotMetrics(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"), col("user_id").cast("double").as("user_id_d"))
      .unpivot(Array(col("event_id")),
        Array(col("value"), col("user_id_d")), "metric", "metric_value")
      .orderBy("event_id", "metric")

  /** Exact interpolated percentiles per group (the exact form; the HLL/
    * sketch analog at 100 TB is approx_percentile, kept non-oracle like
    * approx_distinct). */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D))").as("ps"))
      .select(col("event_type"),
        round(element_at(col("ps"), 1), 6).as("p25"),
        round(element_at(col("ps"), 2), 6).as("p50"),
        round(element_at(col("ps"), 3), 6).as("p75"))
      .orderBy("event_type")

  /** WEIGHTED exact percentiles — the mass-weighted twin of
    * [[percentiles]]: per return flag, the extended price below which
    * half / 90% of the QUANTITY mass sits (the "token-weighted length
    * percentile" shape every packing/budget decision reads, computed
    * here on the richest numeric table). Spark's `percentile(col, p,
    * frequency)` is the exact weighted aggregate — its partial state is
    * a value-counts map, merged map-side like any aggregate, so no sort
    * and no per-flag single partition. Prices enter as exact integer
    * CENTS so both engines interpolate over integers (the
    * `gap_percentiles` proven-parity discipline: type-7 interpolation
    * on integers matches DuckDB's `quantile_cont` bit-for-bit under
    * round-6); the oracle re-states the weighting by expanding each
    * line `l_quantity` times with a lateral `range()` — semantically
    * the definition of a frequency-weighted percentile. */
  def weightedPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("cents"),
        expr("cast(l_quantity as bigint)").as("w"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("w")).as("weight_total"),
        expr("percentile(cents, array(0.5D, 0.9D, 0.99D), w)").as("ps"))
      .select(col("l_returnflag"), col("weight_total"),
        round(element_at(col("ps"), 1) / 100.0, 6).as("wp50"),
        round(element_at(col("ps"), 2) / 100.0, 6).as("wp90"),
        round(element_at(col("ps"), 3) / 100.0, 6).as("wp99"))
      .orderBy("l_returnflag")

  /** Inter-event dwell-time distribution: exact p50/p90/p99 of the gap
    * (integer millis) between consecutive events of the same user,
    * grouped by the LATER event's type — the engagement-latency profile
    * (how long users sit before a click vs a purchase). Gaps are exact
    * epoch-millis differences from one user-keyed window pass; the
    * exact interpolated percentile over integers is the same
    * type-7 quantile in both engines (the `percentiles` query's proven
    * parity), round-6. One user_id shuffle + one event_type-keyed
    * aggregate. */
  def gapPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        col("ts"), col("event_id"), expr("unix_millis(ts)").as("ms"))
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap_ms, array(0.5D, 0.9D, 0.99D))").as("ps"))
      .select(col("event_type"), col("n_gaps"),
        round(element_at(col("ps"), 1), 6).as("p50"),
        round(element_at(col("ps"), 2), 6).as("p90"),
        round(element_at(col("ps"), 3), 6).as("p99"))
      .orderBy("event_type")
  }

  /** Ranking family over a deterministic total order: quartile ntile,
    * percent_rank, dense_rank per market segment. */
  def rankQuartiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        dense_rank().over(w).as("drank"))
      .filter(col("quartile") === 1)
      .orderBy("c_mktsegment", "pct_rank", "o_orderkey")
  }

  /** Ordered string aggregation: alphabetical distinct event types per
    * user — deterministic by construction (sorted before joining). */
  def stringCollect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))
      .orderBy("user_id")

  /** Scalar-function pack: string/date/math built-ins in one projection —
    * all codegen'd, all with DuckDB equivalents. */
  def scalarPack(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_id"),
      upper(col("event_type")).as("type_upper"),
      lpad(col("event_type"), 10, "_").as("type_pad"),
      substring(col("event_type"), 1, 3).as("type_pre"),
      concat_ws("|", col("event_type"), col("user_id").cast("string")).as("tag"),
      date_format(col("ts"), "yyyy-MM-dd HH").as("hour_str"),
      year(col("ts")).as("y"),
      month(col("ts")).as("m"),
      hour(col("ts")).as("h"),
      // + 0.0 normalizes IEEE -0.0 (Spark's abs returns +0.0, DuckDB's
      // keeps the sign bit; adding positive zero makes both +0.0)
      round(abs(col("value") * -1) + 0.0, 2).as("value_abs"),
      ceil(col("value")).as("value_ceil"),
      floor(col("value")).as("value_floor"),
      round(sqrt(abs(col("value"))), 6).as("value_sqrt"),
      greatest(col("value"), lit(50.0)).as("value_hi"),
      coalesce(nullif(col("event_type"), lit("error")), lit("quarantine")).as("routed"))
      .orderBy("event_id")

  /** Bucketed range join — the scalable interval-join shape: an equality
    * component (customer bucket) drives the shuffle/hash join, the range
    * predicate filters inside each bucket. A pure range join would be a
    * nested-loop cross product at 100 TB. */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .join(Tables.orders(spark, sfDir),
        pmod(col("o_custkey"), lit(50)) === col("user_id") &&
          col("o_orderdate") >= col("ts") - expr("INTERVAL 3 DAYS") &&
          col("o_orderdate") <= col("ts") + expr("INTERVAL 3 DAYS"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("event_id")

  /** Relative filter: orders above their segment's average — the
    * scale-correct form of a correlated scalar subquery. A window over
    * `c_mktsegment` (5 distinct values) would funnel the whole table into
    * 5 partitions; instead the per-segment average is an ordinary partial+
    * final hash aggregate (5 rows out) broadcast back onto the fact scan —
    * no giant window partitions, no extra shuffle of orders. Decimal-exact
    * sum/count division keeps the average bit-identical to the window
    * formulation, so the oracle is unchanged. */
  def aboveAvgFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
    val segAvg = joined.groupBy(col("c_mktsegment"))
      .agg((sum(col("o_totalprice").cast(Dec)).cast("double") /
        count(lit(1)).cast("double")).as("seg_avg"))
    joined.join(broadcast(segAvg), Seq("c_mktsegment"))
      .filter(col("o_totalprice") > col("seg_avg"))
      .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"),
        round(col("seg_avg"), 6).as("seg_avg"))
      .orderBy("o_orderkey")
  }

  /** Salted two-phase aggregation — the skew pattern: partial aggregate
    * on (key, salt) spreads a hot key over `saltBuckets` reducers, the
    * final aggregate merges partials. Exact for count and decimal sums
    * (associative), so the oracle is the PLAIN group-by: the salted plan
    * must produce identical results. */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val saltBuckets = 16
    Tables.events(spark, sfDir)
      .withColumn("salt", pmod(col("event_id"), lit(saltBuckets)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value").cast(Dec)).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), sum(col("pv")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Salted SHUFFLE JOIN — [[saltedAgg]]'s sibling, completing the
    * manual skew toolkit (agg + join): the fact side salts its join key
    * with `pmod(event_id, S)` and the SMALL side replicates S× (a
    * 16-row broadcast cross join — replication multiplies only the dim),
    * so the equi-join key widens to (user_id, salt) and a hot user's
    * rows split across S reducers instead of one. Every fact row still
    * matches exactly its user's dim row (the dim copy carrying its
    * salt), so the output is BIT-IDENTICAL to the plain join — the
    * oracle states the unsalted join. AQE's skew-join split is the
    * automatic alternative; explicit salting is the portable form that
    * also works pre-AQE, under disabled AQE, and for keys AQE's
    * per-partition size stats cannot see (hot KEY inside a
    * median-sized partition). [[heavyHitters]]/[[keySkewProfile]] are
    * the diagnostics that decide S. */
  def saltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val saltBuckets = 16
    val ev = Tables.events(spark, sfDir)
    val dim = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_events"),
        sum(col("value").cast(Dec)).cast("double").as("user_value"))
    val salts = spark.range(saltBuckets).select(col("id").cast("int").as("salt"))
    val dimReplicated = dim.crossJoin(broadcast(salts))
    ev.select(col("event_id"), col("user_id"), col("event_type"),
        pmod(col("event_id"), lit(saltBuckets.toLong)).cast("int").as("salt"))
      .join(dimReplicated, Seq("user_id", "salt"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("user_events"), round(col("user_value"), 6).as("user_value"))
      .orderBy("event_id")
  }

  /** Exact heavy keys kept by [[heavyHitters]]. */
  private[operators] val HeavyHittersK = 5

  /** EXACT heavy-hitter report for a planned shuffle key: the top
    * [[HeavyHittersK]] `user_id`s by event count with their share of the
    * table — the numbers that decide whether a join/groupBy on this key
    * needs salting ([[saltedAgg]]) or an AQE skew hint. The exact twin of
    * the `approx_topk` sketch (same pairing as distinct_count ↔
    * approx_distinct): at 100 TB you run the sketch first and this exact
    * pass only over the sketch's candidates; at audit time you run this.
    *
    * Scale shape: one map-side-combined count per key (the key space,
    * not the event space, shuffles), a 1-row total broadcast back, and
    * the top-k is TakeOrderedAndProject — per-partition heaps, never a
    * global sort. */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val counts = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val total = ev.agg(count(lit(1)).cast("double").as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("user_id"), col("n_events"),
        round(col("n_events") * 100.0 / col("total"), 6).as("pct"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(HeavyHittersK)
  }

  /** Decade width of the [[keySkewProfile]] histogram buckets. */
  private val SkewBucketWidth = 10L

  /** Count-of-counts key-skew histogram: bucket `user_id`s by how many
    * events they carry (width-[[SkewBucketWidth]] buckets) — the
    * second-order profile (how UNEVEN is the key distribution) that
    * complements [[heavyHitters]]' point report, and the standard
    * pre-shuffle diagnostic at 100 TB: a long right tail here says the
    * key needs salting before it becomes a reducer hot-spot. Two
    * cascaded hash aggregates, both map-side combinable; the second
    * input is one row per DISTINCT key, so the histogram costs the key
    * space, not the event space. */
  def keySkewProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .groupBy((expr(s"c div $SkewBucketWidth") * SkewBucketWidth).as("events_lo"))
      .agg(count(lit(1)).as("n_users"),
        min(col("c")).as("min_events"), max(col("c")).as("max_events"))
      .orderBy("events_lo")

  /** Rank half-window (±) the sketch percentile must land inside: the
    * GK sketch at accuracy 10000 guarantees rank error ≤ n/10000, so a
    * ±0.02 quantile window holds for any group under 200× the 10×
    * replica's group sizes — fixed, generous, and deterministic. */
  private val ApproxPctlRankWindow = 0.02

  /** Sketch percentiles (Greenwald-Khanna) — the 100 TB path where exact
    * percentiles would sort every group. The sketch values aren't
    * portable to DuckDB but ARE deterministic for fixed data + accuracy,
    * so the query is oracle-bearing the ann_recall way (round-14
    * verdict): it emits the exact p25/p50/p75 (DuckDB re-states them,
    * same construction as `percentiles`) plus a within-bound verdict
    * computed FROM the sketch — each approximate percentile must lie
    * inside the exact ±[[ApproxPctlRankWindow]] rank window (the oracle
    * states TRUE). The exact side is verification scaffolding; at 100 TB
    * the production path runs the sketch alone. */
  def approxPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = ApproxPctlRankWindow
    val exactPs = Seq(0.25, 0.5, 0.75)
      .flatMap(p => Seq(p - w, p, p + w)).mkString("array(", "D, ", "D)")
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(expr(s"percentile(value, $exactPs)").as("ex"),
        expr("approx_percentile(value, array(0.25D, 0.5D, 0.75D), 10000)").as("ap"))
      .select(col("event_type"),
        round(element_at(col("ex"), 2), 6).as("p25"),
        round(element_at(col("ex"), 5), 6).as("p50"),
        round(element_at(col("ex"), 8), 6).as("p75"),
        (element_at(col("ap"), 1).between(
            element_at(col("ex"), 1), element_at(col("ex"), 3)) &&
          element_at(col("ap"), 2).between(
            element_at(col("ex"), 4), element_at(col("ex"), 6)) &&
          element_at(col("ap"), 3).between(
            element_at(col("ex"), 7), element_at(col("ex"), 9)))
          .as("within_bound"))
      .orderBy("event_type")
  }

  /** Winsorization — the standard outlier-robust preprocessing clip:
    * every value clamped to its event type's exact [p01, p99] band
    * (feature pipelines winsorize before scaling so one corrupt reading
    * cannot stretch the whole feature range). The cuts are round-6
    * presented percentiles (the `percentiles` construction) computed in
    * ONE per-type aggregate and broadcast back; the clip itself is
    * map-only. At 100 TB the exact percentile swaps for the GK sketch
    * exactly as `approx_percentiles` prices. */
  /** The per-type [p01, p99] cut table [[winsorizeValues]] clips with —
    * shared with the streaming twin (StreamingWinsorize collects these
    * |types| rows as its offline artifact). */
  private[graft] def winsorCuts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.01D, 0.99D))").as("ps"))
      .select(col("event_type"),
        round(element_at(col("ps"), 1), 6).as("p01"),
        round(element_at(col("ps"), 2), 6).as("p99"))

  def winsorizeValues(spark: SparkSession, sfDir: String): DataFrame = {
    val cuts = winsorCuts(spark, sfDir)
    Tables.events(spark, sfDir)
      .join(broadcast(cuts), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(least(greatest(col("value"), col("p01")), col("p99")), 6)
          .as("value_winsorized"))
      .orderBy("event_id")
  }

  /** Decile cuts used by [[quantileBins]]. */
  private val QuantileBinCuts: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** Equal-frequency (decile) binning of `value` with per-bin stats —
    * the feature-binning primitive (quantile bucketizers, calibration
    * histograms). Bin = how many of the 9 exact round-6 decile cuts the
    * value EXCEEDS (a branch-free integer sum stated identically in
    * SQL), so ties at a boundary land deterministically in the lower
    * bin. Scale shape: cuts from ONE aggregate (1 row, broadcast), the
    * binning is map-only, per-bin stats map-side combine to ≤10 rows —
    * no global sort anywhere (an `ntile` spelling would be one); the
    * 100 TB cut computation swaps for the GK sketch as priced by
    * `approx_percentiles`. Sums are exact DECIMAL(18,2) (value is
    * 2-dp data) cast to double. */
  def quantileBins(spark: SparkSession, sfDir: String): DataFrame = {
    val arr = QuantileBinCuts.map(p => s"${p}D").mkString("array(", ", ", ")")
    val cuts = Tables.events(spark, sfDir)
      .agg(expr(s"percentile(value, $arr)").as("ps"))
      .select((1 to 9).map(i =>
        round(element_at(col("ps"), i), 6).as(s"c$i")): _*)
      // empty input: the ungrouped aggregate yields one NULL row — drop
      // it so the query degrades to empty (stated in the oracle)
      .filter(col("c1").isNotNull)
    val bin = (1 to 9).map(i =>
      when(col("value") > col(s"c$i"), 1).otherwise(0)).reduce(_ + _)
    Tables.events(spark, sfDir)
      .crossJoin(broadcast(cuts))
      .select(bin.as("bin"), col("value"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 6).as("vmin"),
        round(max(col("value")), 6).as("vmax"),
        sum(col("value").cast(Dec)).cast("double").as("vsum"))
      .orderBy("bin")
  }

  /** Date/time arithmetic pack: diffs, offsets, boundaries. */
  def datePack(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).select(
      col("o_orderkey"),
      datediff(lit("2024-06-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_cutoff"),
      date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
      last_day(col("o_orderdate").cast("date")).as("month_end"),
      date_trunc("week", col("o_orderdate")).as("week_start"),
      dayofmonth(col("o_orderdate")).as("dom"),
      quarter(col("o_orderdate")).as("q"))
      .orderBy("o_orderkey")

  /** Pattern predicates: LIKE / regexp / prefix filters. */
  def patternFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(col("p_type").like("%ECONOMY%") ||
        col("p_name").rlike("^(red|blue) .*(bolt|widget)"))
      .select("p_partkey", "p_name", "p_type")
      .orderBy("p_partkey")

  /** RANGE-frame trailing window: events per user in the trailing hour,
    * ordered by exact epoch micros (a RANGE frame over a physical unit —
    * the remaining window-frame family after ROWS frames). */
  def trailingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("n_trailing_1h"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** HAVING: users with at least 250 events. */
  def havingFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 250)
      .orderBy("user_id")

  /** JSON-path extraction over the schemaless `props` payload — the
    * reference's events carry arbitrary JSON (`lib/hivent/event.ex`
    * payload), and payload-predicate queries are the first thing a
    * consumer writes. `get_json_object` is codegen'd; a missing path
    * yields NULL, never an error. */
  def jsonPathPack(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k_val"),
      (get_json_object(col("props"), "$.k").cast("int") % 10).as("k_mod"),
      get_json_object(col("props"), "$.missing").as("absent"))
      .orderBy("event_id")

  /** Typed-payload projection — the schemaless→typed upgrade path
    * (SURVEY.md §1.3). Where [[jsonPathPack]] re-parses `props` once per
    * extracted path (3 × get_json_object), this parses ONCE with
    * `from_json` into a typed struct and derives every field from that
    * single parse; Catalyst's OptimizeJsonExprs additionally prunes the
    * parse schema to the referenced fields. This is the stepping stone
    * toward Spark 4's VariantType: VARIANT would drop the fixed schema
    * and parse to a binary encoding at WRITE time (shredding), but its
    * binary form has no DuckDB-comparable rendition, so engine-parity
    * testing would lose the hash gate — with a stable payload schema
    * like `props`, the typed struct is strictly better: codegen'd field
    * access, columnar pruning, and an oracle-checkable result. */
  def typedPayload(spark: SparkSession, sfDir: String): DataFrame = {
    val payloadSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    Tables.events(spark, sfDir)
      .select(col("event_id"), from_json(col("props"), payloadSchema).as("p"))
      .select(col("event_id"),
        col("p.k").as("k"),
        (col("p.k") % 10).as("k_mod"),
        (col("p.k") > 50).as("k_big"))
      .orderBy("event_id")
  }

  /** Value-window pack: first/last/nth/cumulative-distribution over a
    * deterministic per-type order — completes the window-function
    * family next to the ranking pack (`rank_quartiles`) and the frame
    * pack (`trailing_window`). */
  def windowPack(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, sfDir).select(
      col("event_type"), col("event_id"),
      first(col("event_id")).over(w).as("first_id"),
      last(col("event_id")).over(wAll).as("last_id"),
      nth_value(col("event_id"), 2).over(w).as("second_id"),
      round(cume_dist().over(w), 6).as("cdist"))
      .orderBy("event_type", "event_id")
  }

  // ------------------------------------------------- statistical aggregates
  /** Final-stage statistics expressions over the exact decimal moments
    * (n, sx, sy, sxx, syy, sxy) — ONE string list feeds both engines'
    * SQL, so the arithmetic (and therefore the IEEE rounding sequence)
    * is identical on both sides. */
  private val statsExprs: Seq[String] = {
    val n = "CAST(n AS DOUBLE)"
    val (sx, sy) = ("CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)")
    val (sxx, syy, sxy) =
      ("CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)", "CAST(sxy AS DOUBLE)")
    val varX = s"($sxx - $sx * $sx / $n) / ($n - 1.0)"
    // round-6 presentation (r15 double lint): the derivations are already
    // bit-identical cross-engine (same string, same IEEE sequence over
    // exact sums) — the rounding just makes that stability inspectable
    Seq(
      s"round($sx / $n, 6) AS mean_value",
      s"round($varX, 6) AS var_value",
      s"round(sqrt($varX), 6) AS std_value",
      s"round(($sxy - $sx * $sy / $n) / ($n - 1.0), 6) AS covar_vu",
      s"round(($n * $sxy - $sx * $sy) / sqrt(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy)), 6) AS corr_vu")
  }

  /** Moment-based statistics pack: mean/variance/stddev of `value` and
    * covariance/correlation with `user_id`, per event type.
    *
    * Deliberately NOT the built-in `stddev`/`corr` aggregates: those
    * stream Welford-style updates whose float rounding depends on row
    * order (nondeterministic under shuffle, and different again in
    * DuckDB). Instead ONE aggregation collects exact decimal power sums
    * — associative, order-independent, map-side combinable, the same
    * single-shuffle shape at 100 TB — and the statistics are derived in
    * double arithmetic afterwards ([[statsExprs]], 5 rows). The decimal
    * unscaled sums stay below 2⁵³ through sf10 (value ≤ ~500, scale 4),
    * so the decimal→double cast is a single correctly-rounded step in
    * both engines and the hash gate holds bit-exactly. */
  def statsPack(spark: SparkSession, sfDir: String): DataFrame = {
    val v = col("value").cast(Dec)
    val u = col("user_id").cast(Dec)
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(v).as("sx"), sum(u).as("sy"),
        sum(v * v).as("sxx"), sum(u * u).as("syy"), sum(v * u).as("sxy"))
      .selectExpr(Seq("event_type", "n") ++ statsExprs: _*)
      .orderBy("event_type")
  }

  /** Higher-order array functions over the token list: transform /
    * filter / aggregate (fold) / sort / distinct / slice — the lambda
    * surface of §2.2's scalar-function row. All evaluate inside whole-
    * stage codegen per row with NO explode, so the per-doc token list
    * never leaves the row — at 100 TB this is a pure map over the scan
    * (contrast vocab_topk, which explodes to shuffle a global
    * aggregate). Integer-only arithmetic, so both engines agree
    * bit-for-bit. */
  def arrayPack(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_toks"),
        expr("aggregate(transform(toks, t -> length(t)), 0, (a, b) -> a + b)")
          .as("total_chars"),
        expr("size(filter(toks, t -> length(t) >= 6))").as("n_long"),
        expr("array_max(transform(toks, t -> length(t)))").as("max_len"),
        expr("array_join(slice(array_sort(array_distinct(toks)), 1, 5), ',')")
          .as("top5"))
      .orderBy("doc_id")

  // ------------------------------------------------------ anomaly detection
  /** Trailing-window z-score anomaly detection (the monitoring shape):
    * each event's value against the mean/stddev of the previous
    * [[ZscoreWindow]] events of its type; |z| > 3 flags the anomaly.
    * Per-type windows — no global order; the frame is ROWS-bounded so
    * state per key is constant at 100 TB (the streaming analog
    * [[graft.streaming.StreamingAnomaly]] keeps the same fixed-size
    * ring per key in mapGroupsWithState).
    *
    * Scale note: a trailing window is inherently SEQUENTIAL per key, so
    * parallelism equals key cardinality — the fixture's 5 event types
    * are the degenerate worst case (5 of 32 cores busy at sf0.1).
    * Production anomaly keys are (entity, metric) pairs — naturally
    * high-cardinality — and the streaming form shards the same rings
    * across the state store; the batch query keeps the fixture key so
    * the oracle exercises the exact frame semantics.
    *
    * Determinism: the trailing power sums accumulate in DECIMAL (exact,
    * order-independent); mean/var/z are derived in double with the
    * IDENTICAL formula text on both engines — every step (decimal→
    * double cast, divide, multiply, subtract, sqrt) is correctly
    * rounded IEEE, so equal inputs give equal bits, then round(…, 6)
    * defends the hash. */
  private[graft] val ZscoreWindow = 50

  /** Rows per parallel chunk in [[anomalyZscoreChunked]] — must stay
    * ≥ [[ZscoreWindow]] so a row's trailing frame never reaches past the
    * immediately-preceding chunk's duplicated tail. SF-independent: the
    * number of chunks (= parallelism) grows with the data. */
  private[graft] val ZscoreChunk = 4096

  def anomalyZscore(spark: SparkSession, sfDir: String): DataFrame =
    anomalyZscoreChunked(Tables.events(spark, sfDir))

  /** Chunked-overlap trailing z-score (r19 optimization round, guide
    * §2.5/§2.6): the plain formulation windows over
    * `partitionBy(event_type)` — 5 distinct types at ANY scale, so the
    * expensive sliding decimal-sum pass had a hard 5-way parallelism
    * ceiling (a true 100 TB scale-killer). This form computes the same
    * frames with per-type work bounded by [[ZscoreChunk]]:
    *
    *  1. global per-type row numbers WITHOUT a per-type data pass:
    *     rows bucket by hour (order-aligned coarse prefix of the
    *     (ts, event_id) sort key), rank within (type, bucket) in
    *     parallel, and add per-bucket offsets prefix-summed over the
    *     metadata-sized (type, bucket, count) table;
    *  2. each row maps to chunk `(rn-1) DIV chunk`, and each chunk's
    *     last [[ZscoreWindow]] rows are DUPLICATED into the next chunk
    *     (flagged `dup`) so every row's trailing frame is complete
    *     inside its own (type, chunk) partition;
    *  3. the sliding aggregates run per (type, chunk) — parallelism =
    *     types × chunks — and `dup` rows are dropped after.
    *
    * EXACT-equal to the plain window by construction: a row at global
    * per-type position rn > chunk-start has exactly its previous
    * [[ZscoreWindow]] rows present and identically (ts, event_id)-ordered
    * in its partition (chunk rows + the duplicated tail), so every frame
    * is the same row multiset in the same order — decimal sums are
    * order-exact anyway — and first-chunk rows see the same short frames
    * the plain form sees (the n = [[ZscoreWindow]] filter then keeps the
    * identical set). AnalyticOpsSpec pins equality against the plain
    * window form; the DuckDB oracle still states the plain form.
    *
    * Determinism of the numeric chain is unchanged (same formula text —
    * see the r18 notes in git history). */
  private[graft] def anomalyZscoreChunked(events: DataFrame,
      chunk: Int = ZscoreChunk): DataFrame = {
    require(chunk >= ZscoreWindow,
      s"chunk ($chunk) must be >= ZscoreWindow ($ZscoreWindow)")
    val v = col("value").cast(Dec)
    // project early (guide §2.3): the plain form shuffled every events
    // column (including the JSON props payload) through its window
    // exchange; only these four are ever read downstream
    // a null ts gets its own bucket below every hour, so its rows rank
    // first in their type exactly as the plain window's nulls-first order
    // puts them (a null bucket would never equi-join its offset)
    val ev = events.select(col("event_id"), col("event_type"), col("value"),
      col("ts"), coalesce(expr("unix_timestamp(ts) DIV 3600"), lit(Long.MinValue)).as("bb"))
    // per-(type, bucket) row counts — metadata-sized (types × hours)
    val counts = ev.groupBy(col("event_type"), col("bb"))
      .agg(count(lit(1)).as("bcnt"))
    // per-type prefix sum over the BUCKET table (sequential only over
    // metadata rows, never over events)
    val woff = Window.partitionBy(col("event_type")).orderBy(col("bb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("bcnt")).over(woff), lit(0L)))
      .select(col("event_type"), col("bb"), col("off"))
    // parallel within-bucket rank + broadcast offset = global per-type rn
    val wrank = Window.partitionBy(col("event_type"), col("bb"))
      .orderBy(col("ts"), col("event_id"))
    val ranked = ev
      .withColumn("lrn", row_number().over(wrank).cast("long"))
      .join(broadcast(offsets), Seq("event_type", "bb"))
      .withColumn("rn", col("off") + col("lrn"))
    // one pass assigns each row its chunk, exploding ONLY chunk-tail rows
    // into their (chunk, dup=false) + (chunk+1, dup=true) copies
    val chunkC = expr(s"(rn - 1) DIV $chunk")
    val isTail = expr(s"(rn - 1) % $chunk >= ${chunk - ZscoreWindow}")
    val assigned = ranked.withColumn("cd", explode(when(isTail,
        array(struct(chunkC.as("chunk"), lit(false).as("dup")),
          struct((chunkC + 1).as("chunk"), lit(true).as("dup"))))
      .otherwise(array(struct(chunkC.as("chunk"), lit(false).as("dup"))))))
      .select(col("event_id"), col("event_type"), col("value"), col("ts"),
        col("cd.chunk").as("chunk"), col("cd.dup").as("dup"))
    val w = Window.partitionBy(col("event_type"), col("chunk"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-ZscoreWindow, -1)
    assigned
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(v).over(w).cast("double"))
      .withColumn("s2", sum(v * v).over(w).cast("double"))
      .filter(!col("dup"))
      .filter(col("n") === ZscoreWindow) // full frames only: stable baseline
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance",
        (col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
      // a window of 50 IDENTICAL values makes the exact variance 0, and
      // the double expression can land a few ulps NEGATIVE — Spark's
      // sqrt would yield NaN (row silently dropped) while DuckDB ERRORS
      // on sqrt(<0). Guard both engines with the same double compare: a
      // zero-variance frame has no defined z-score anyway.
      .filter(col("variance") > 1e-12)
      .withColumn("z",
        (col("value") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("mean"), 6).as("mean"), round(col("z"), 6).as("z"))
      .orderBy("event_id")
  }

  /** The pre-r19 plain per-type trailing window — kept as the spec's
    * equality reference for [[anomalyZscoreChunked]] (not a query key). */
  private[graft] def anomalyZscorePlain(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-ZscoreWindow, -1)
    val v = col("value").cast(Dec)
    events
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(v).over(w).cast("double"))
      .withColumn("s2", sum(v * v).over(w).cast("double"))
      .filter(col("n") === ZscoreWindow)
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance",
        (col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
      .filter(col("variance") > 1e-12)
      .withColumn("z",
        (col("value") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("mean"), 6).as("mean"), round(col("z"), 6).as("z"))
      .orderBy("event_id")
  }

  /** Robust outlier detection via median absolute deviation — the
    * heavy-tail-safe twin of [[anomalyZscore]]: mean/stddev baselines
    * are THEMSELVES dragged by the outliers they hunt (one 1000× spike
    * inflates σ enough to hide every 10× spike), while median/MAD have
    * a 50% breakdown point — the standard robust alternative
    * (Hampel/Leys' |x − med| > 3 · 1.4826·MAD). Per-user, not
    * windowed: the whole-history robust baseline, complementing the
    * z-score's trailing-window drift detection.
    *
    * Exactness: the per-user median and MAD are EXACT interpolated
    * percentiles (the `percentiles` query's proven type-7 parity),
    * rounded once; every downstream double op is an identical literal
    * chain in both engines, and the flag compares the ROUNDED score.
    * Scale shape: two user-keyed aggregates + two co-partitioned
    * user-keyed joins — one shuffle key throughout; per-user exact
    * percentile state is that user's values (the same bound the
    * z-score's per-type window already accepts). */
  def anomalyMad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    val med = ev.groupBy(col("user_id"))
      .agg(round(expr("percentile(value, 0.5D)"), 6).as("med"))
    val dev = ev.join(med, Seq("user_id"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("user_id"))
      .agg(round(expr("percentile(adev, 0.5D)"), 6).as("mad"))
    dev.join(mad, Seq("user_id"))
      .filter(col("mad") > 0.0)
      .withColumn("score",
        round(col("adev") / (lit(1.4826) * col("mad")), 6))
      .filter(col("score") > 3.0)
      .select(col("event_id"), col("user_id"), round(col("value"), 6).as("value"),
        col("med"), col("mad"), col("score"))
      .orderBy("event_id")
  }

  /** Single-pass data profiling (ANALYZE-style column statistics): row
    * count, non-null count, exact distinct count, and min/max per
    * profiled lineitem column, as one row per column. The pipeline-
    * health op every ingestion run wants first.
    *
    * Scale shape: melt FIRST (a `stack` generator — one scan, map-only),
    * then ONE groupBy(col_name) holding a SINGLE distinct aggregate.
    * The obvious alternative — all five `countDistinct`s in one wide
    * aggregate — plans as a 6-way Expand whose group key is every
    * profiled column at once; measured 10× slower at sf0.1 (4.5 s vs
    * 0.4 s) because each expanded row hashes a wide all-nullable key.
    * Melting narrows the key to (col_name, value) and the distinct
    * rewrite needs no Expand at all. Numeric min/max surface as doubles,
    * string min/max as strings, so no engine-specific number formatting
    * enters the hash (bigint→double is injective below 2^53). */
  def columnProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(expr("""stack(5,
        |'l_orderkey',   cast(l_orderkey as double), cast(null as string),
        |'l_quantity',   l_quantity,                 cast(null as string),
        |'l_discount',   l_discount,                 cast(null as string),
        |'l_returnflag', cast(null as double),       l_returnflag,
        |'l_linestatus', cast(null as double),       l_linestatus
        |) as (col_name, num_val, str_val)""".stripMargin))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("num_val").isNotNull || col("str_val").isNotNull, 1))
          .as("n_nonnull"),
        countDistinct(when(col("num_val").isNotNull || col("str_val").isNotNull,
          struct(col("num_val"), col("str_val")))).as("n_distinct"),
        min(col("num_val")).as("min_num"), max(col("num_val")).as("max_num"),
        min(col("str_val")).as("min_str"), max(col("str_val")).as("max_str"))
      .orderBy("col_name")

  /** First-order Markov transition matrix over per-user event sequences:
    * count (from_type → to_type) adjacencies in ts order, with the row-
    * normalized transition probability. The behavioral-model shape —
    * session modeling, next-event prediction features, bot detection.
    *
    * Scale shape: one user_id window (lag) → one groupBy on the 5×5 type
    * grid; the second window partitions by from_type over AT MOST
    * |types|² rows, so the normalization is metadata-sized no matter the
    * corpus. Determinism: `n` is an exact long; probability is ONE
    * long→double division on both engines, then round(…, 6). */
  def transitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tot = Window.partitionBy(col("from_type"))
    Tables.events(spark, sfDir)
      .withColumn("from_type", lag(col("event_type"), 1).over(ord))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") / sum(col("n")).over(tot).cast("double"), 6))
      .orderBy("from_type", "to_type")
  }

  // ------------------------------------------------------- event analytics
  /** Ordered conversion funnel signup → view → click → purchase: a user
    * counts at stage k only with an event of that type strictly after
    * their stage-(k-1) timestamp (the product-analytics funnel, not four
    * independent existence checks). Each stage is a conditional min
    * aggregate joined to the previous stage's one-row-per-user frame;
    * every shuffle keys on user_id, and stage frames shrink
    * monotonically, so at 100 TB this is K co-partitioned
    * aggregate+join rounds over ever-smaller data — the standard
    * distributed funnel shape. Counts are exact integers. */
  def funnelSteps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    def nextStage(typ: String, prev: DataFrame, prevTs: String, outTs: String) =
      ev.filter(col("event_type") === typ)
        .join(prev.select(col("user_id"), col(prevTs)), Seq("user_id"))
        .filter(col("ts") > col(prevTs))
        .groupBy(col("user_id")).agg(min(col("ts")).as(outTs))
    val s2 = nextStage("view", s1, "t1", "t2")
    val s3 = nextStage("click", s2, "t2", "t3")
    val s4 = nextStage("purchase", s3, "t3", "t4")
    def stageRow(n: Int, step: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("stage"), lit(step).as("step"), col("n_users"))
    stageRow(1, "signup", s1)
      .unionAll(stageRow(2, "view", s2))
      .unionAll(stageRow(3, "click", s3))
      .unionAll(stageRow(4, "purchase", s4))
      .orderBy("stage")
  }

  /** Top-10 opening user journeys: each user's first five events (by
    * ts, event_id) joined into a `a>b>c` path string, counted across
    * users — the path-analysis complement to the fixed-order funnel
    * (funnel_steps asks "how many got through THIS sequence"; this asks
    * "which sequences actually happen").
    *
    * Scale shape: the per-user prefix is cut BEFORE aggregation
    * (row_number ≤ 5 over the user window), so the collect_list is
    * bounded at 5 elements regardless of per-user volume — never an
    * unbounded per-key array; path frequency is one shuffle on the tiny
    * path-string key and the top-k is per-partition heaps. array_sort
    * on (rn, event_type) structs makes the join order deterministic
    * under any collect order. */
  def pathTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type), '>')")
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(10)
  }

  /** Weekly retention cohorts: users grouped by the Monday-truncated week
    * of their FIRST event; each (cohort week, week offset) cell counts
    * distinct users active that many weeks later. Two shuffles, both on
    * user_id / fixed-width keys; the first-event frame is one row per
    * user, so the join-back is the classic small⋈big enrich that AQE
    * broadcasts when the user dimension allows. Offsets are exact
    * integers (both engines truncate to week boundaries first, so the
    * day difference is always a multiple of 7). */
  def retentionCohort(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val firstWeek = ev.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    ev.select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("event_week"))
      .join(firstWeek, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("event_week"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Gaps-and-islands: maximal runs of consecutive active DAYS per user,
    * via the row_number difference trick (d − row_number(d) is constant
    * exactly within a consecutive run). One distinct + one user-bounded
    * window + one groupBy — all partitioned by user_id, nothing global;
    * the window's per-partition size is the user's distinct-day count,
    * bounded by the calendar, so no skew blowup at 100 TB. */
  def gapsIslands(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val rn = row_number().over(Window.partitionBy(col("user_id")).orderBy(col("d")))
    days.withColumn("grp", date_sub(col("d"), rn))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("n_days"),
        min(col("d")).as("island_start"), max(col("d")).as("island_end"))
      .drop("grp")
      .orderBy("user_id", "island_start")
  }

  /** Per-user MODE: the most frequent event type with its count and
    * share — the categorical argmax every per-entity profile starts
    * with. Deterministic tie-break on the type string (rank window over
    * (cnt desc, type)), so two engines and two runs agree even on tied
    * users. Scale shape: one (user, type) map-side-combined aggregate —
    * the key space is users × |types| — then a user-partitioned window
    * over ≤|types| rows per user and a 1-row-per-user total join
    * derived from the SAME aggregate (no second pass over events). */
  def modePerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
    counts
      .withColumn("rn", row_number().over(
        w.orderBy(col("n").desc, col("event_type"))))
      .withColumn("total", sum(col("n")).over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_event_type"),
        col("n"),
        round(col("n").cast("double") / col("total").cast("double"), 6)
          .as("share"))
      .orderBy("user_id")
  }

  /** Dwell half-window: each event covers [ts, ts + 30 min). */
  private val DwellWindowUs = 30L * 60L * 1000000L

  /** Interval-union coverage per user: total time covered by the UNION
    * of the per-event 30-minute dwell windows — the classic
    * merge-overlapping-intervals report (true engaged time, where
    * summing per-event windows double-counts bursts). The windowed
    * islands construction: an event opens a NEW island when its start
    * exceeds the running max end of all earlier events (ties on (s, e)
    * are fully identical rows, so the running max is order-independent
    * and the result deterministic). Scale shape: two user-partitioned
    * windows over the same (user, time) sort — ONE shuffle AQE reuses —
    * then two map-side-combinable aggregates; no global sort, state per
    * user bounded by its own events. */
  def intervalUnionTime(spark: SparkSession, sfDir: String): DataFrame = {
    val b = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + DwellWindowUs)
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val newIsland = when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L)
    b.withColumn("isl",
        sum(newIsland).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("isl"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("me") - col("ms")).as("covered_us"))
      .orderBy("user_id")
  }

  /** EWMA trailing-window length (observations per smoothed point) —
    * shared with the serve-time twin (streaming.StreamingEwma). */
  private[graft] val EwmaWindow = 20

  /** Final EWMA derivation — ONE string feeds both engines, over the
    * exact integer inputs (wsum, k), so the double chain is identical:
    * a single division of two exactly-representable values, then the
    * defensive round-6. */
  private val EwmaExpr =
    "round(CAST(wsum AS DOUBLE) / ((CAST(p2k AS DOUBLE) - 1.0) * 100.0), 6) AS ewma"

  /** Exponentially-weighted moving average of `value` per user (α = ½,
    * trailing [[EwmaWindow]] observations) — the smoothing pass a
    * metrics/anomaly pipeline runs before thresholding a noisy signal.
    *
    * Determinism: α = ½ makes every weight an exact power of two, so the
    * whole kernel is INTEGER arithmetic — values go to cents, each is
    * scaled by 2^i (oldest-first index i), and the weighted sum is an
    * exact BIGINT fold (max ≈ 5·10¹⁰, far under 2⁶³). The normalized
    * EWMA is then wsum / (100·(2^k − 1)): one double division of two
    * exact integers, identical in both engines ([[EwmaExpr]]).
    *
    * Scale shape: one user-partitioned window (users scale with the
    * data, so parallelism does too); the frame keeps ≤ [[EwmaWindow]]
    * elements per row, so state is constant per row and the whole op is
    * one shuffle + a codegen'd map — no iterative recurrence, which is
    * what makes EWMA (normally a sequential scan) distributable. */
  def ewmaSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(EwmaWindow - 1), Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("cents", expr("cast(round(value * 100, 0) as bigint)"))
      .withColumn("vals", collect_list(col("cents")).over(w))
      .selectExpr("user_id", "event_id", "ts", "value",
        // oldest-first index i ⇒ weight 2^(i−k); scaled by 2^k the fold
        // is Σ cents_i · 2^i — exact in BIGINT
        "aggregate(transform(vals, (x, i) -> x * shiftleft(cast(1 as bigint), i)), cast(0 as bigint), (a, x) -> a + x) AS wsum",
        "shiftleft(cast(1 as bigint), size(vals)) AS p2k")
      .selectExpr("user_id", "event_id", "ts", "value", EwmaExpr)
      .orderBy("user_id", "ts", "event_id")
  }

  /** CUSUM statistic — ONE string for both engines over exact integer
    * inputs (cum/t per row, n/sx/sxx per group), so the standardized
    * cumulative sum is an identical IEEE chain: the classic
    * S_t = (Σ_{i≤t} x_i − t·x̄) / (σ·√n), whose max |S_t| position is the
    * single-changepoint estimate. Cents units cancel in the ratio.
    * Degenerate groups (n ≤ 1 or zero variance — a 1-row or constant
    * feed) emit stat 0 via the shared CASE rather than NULL/NaN/∞,
    * whose ordering under the argmax rank is engine-specific. */
  private val CusumVarNum =
    "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
  private val CusumStatExpr =
    s"CASE WHEN CAST(n AS DOUBLE) <= 1.0 OR $CusumVarNum <= 0.0 THEN 0.0 ELSE " +
      "(CAST(cum AS DOUBLE) - CAST(t AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))" +
      s" / (sqrt($CusumVarNum / (CAST(n AS DOUBLE) - 1.0)) * sqrt(CAST(n AS DOUBLE))) END"

  /** CUSUM single-changepoint detection per event type: the (ts,
    * event_id) position where the standardized cumulative deviation from
    * the type mean peaks — the standard offline level-shift locator a
    * data-quality pipeline runs on a feed's value series.
    *
    * Determinism: the cumulative sums are exact integer cents under a
    * DECIMAL window aggregate (order-independent under any shuffle), the
    * per-type moments (n, Σx, Σx²) are exact from ONE map-side-combined
    * aggregate, and the statistic is a single shared double chain
    * ([[CusumStatExpr]]) — never a float cumsum, whose windowed
    * accumulation order differs between engines.
    *
    * Scale shape: one type-partitioned window sort + a 5-row broadcast
    * moments join; the argmax is a per-type rank over the same window
    * partitioning (sort reused), so the whole op is one shuffle. */
  /** The offline per-type moments artifact (n, Σcents, Σcents² — exact
    * under DECIMAL partials, emitted as doubles): what the batch scan
    * joins against, and what [[graft.streaming.StreamingCusum]] trains
    * on offline (|types| rows — metadata). */
  private[graft] def cusumMoments(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("cents", expr("cast(round(value * 100, 0) as bigint)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast(DecimalType(38, 0))).cast("double").as("sx"),
        sum((col("cents") * col("cents")).cast(DecimalType(38, 0))).cast("double").as("sxx"))

  /** The per-event CUSUM scan (event_type, event_id, ts, n, t, stat) the
    * changepoint argmax reads — exposed so the streaming twin's
    * per-event parity has a batch counterpart to diff against. */
  private[graft] def cusumScan(spark: SparkSession, sfDir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val base = Tables.events(spark, sfDir)
      .withColumn("cents", expr("cast(round(value * 100, 0) as bigint)"))
    base
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("cum",
        sum(col("cents").cast(DecimalType(38, 0)))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .join(broadcast(cusumMoments(spark, sfDir)), "event_type")
      .withColumn("stat", expr(CusumStatExpr))
  }

  def cusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    cusumScan(spark, sfDir)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(abs(col("stat")).desc, col("t"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n"), col("t").as("change_pos"),
        col("event_id").as("change_event_id"), col("ts").as("change_ts"),
        round(col("stat"), 6).as("cusum_stat"))
      .orderBy("event_type")
  }

  /** Autocorrelation lags computed by [[valueAutocorr]]. */
  private[operators] val AcfLags = Seq(1, 2, 3)

  /** ACF derivation for lag k — ONE string per lag feeds both engines
    * over exact BIGINT inputs (n, sx, sxx, spK, aK, bK), so the double
    * chain is identical: the textbook sample estimator
    * r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)², with the numerator
    * expanded to exact integer aggregates (Σ x_t·x_{t−k} − x̄·(A+B)
    * + (n−k)·x̄², A = Σ_{t>k}x_t, B = Σ_{t≤n−k}x_t). Cents² units
    * cancel in the ratio. */
  private def acfExpr(k: Int): String = {
    val mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    s"round((CAST(sp$k AS DOUBLE) - $mean * (CAST(a$k AS DOUBLE) + CAST(b$k AS DOUBLE))" +
      s" + (CAST(n AS DOUBLE) - $k.0) * $mean * $mean)" +
      s" / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS acf"
  }

  /** Sample autocorrelation of `value` per event type at lags 1–3 — the
    * serial-dependence probe (near-zero everywhere says the feed's
    * values are order-independent noise; a decaying positive ladder
    * says smoothing/forecasting has signal to work with).
    *
    * Determinism: ONE lag-window pass produces the three shifted
    * columns, then a single map-side-combined aggregate collects exact
    * power/product sums in DECIMAL(38,0); the estimator is a per-lag
    * shared double chain ([[acfExpr]]) — no float accumulates anywhere.
    * The sums are re-narrowed to BIGINT for output parity, which caps
    * the op at |Σ cents·cents| < 2⁶³ (~10⁹ rows per type for cent-scale
    * values). Past the cap Spark's non-ANSI decimal→long cast would
    * silently NULL while DuckDB's CAST errors — divergent failure
    * modes — so [[narrowChecked]] turns the Spark-side overflow into a
    * loud `raise_error` at the same boundary (the guard is evaluated
    * only on the |types| aggregate rows, so it costs nothing).
    * Scale shape: one type-partitioned window sort + one aggregate to
    * |types| rows; the lag unrolling is a 3-way union over those 5
    * rows (metadata). */
  private def narrowChecked(c: org.apache.spark.sql.Column, name: String) = {
    val lim = lit(Long.MaxValue).cast(DecimalType(38, 0))
    when(c.isNotNull && abs(c) > lim,
        raise_error(concat(lit(s"valueAutocorr: $name overflows BIGINT: "), c.cast("string"))))
      .otherwise(c.cast("long")).as(name)
  }

  def valueAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val base = Tables.events(spark, sfDir)
      .withColumn("cents", expr("cast(round(value * 100, 0) as bigint)"))
      .select(Seq(col("event_type"), col("cents")) ++
        AcfLags.map(k => lag(col("cents"), k).over(w).as(s"l$k")): _*)
    val aggCols: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as("n"),
        narrowChecked(sum(col("cents").cast(dec)), "sx"),
        narrowChecked(sum((col("cents") * col("cents")).cast(dec)), "sxx")) ++
        AcfLags.flatMap { k =>
          Seq(narrowChecked(sum((col("cents") * col(s"l$k")).cast(dec)), s"sp$k"),
            narrowChecked(sum(when(col(s"l$k").isNotNull, col("cents")).cast(dec)), s"a$k"),
            narrowChecked(sum(when(col(s"l$k").isNotNull, col(s"l$k")).cast(dec)), s"b$k"))
        }
    val agg = base.groupBy(col("event_type")).agg(aggCols.head, aggCols.tail: _*)
    AcfLags.map { k =>
      agg.selectExpr("event_type", s"CAST($k AS BIGINT) AS lag", acfExpr(k))
    }.reduce(_ unionByName _)
      .orderBy("event_type", "lag")
  }

  /** Burst hours reported per type by [[burstHours]]. */
  private[operators] val BurstTopK = 3

  /** Rate z-score — ONE string for both engines over exact integer
    * inputs (c per cell, n/sc/scc per type over the COMPLETE hour
    * spine). Degenerate types (a single spine hour or a perfectly
    * constant hourly rate) emit z = 0 via the shared CASE rather than
    * NULL/NaN/∞ — the rank itself never reads z (it orders by count),
    * but the emitted column must still hash identically. */
  private val BurstVarNum =
    "(CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))"
  private val BurstZExpr =
    s"round(CASE WHEN CAST(n AS DOUBLE) <= 1.0 OR $BurstVarNum <= 0.0 THEN 0.0 ELSE " +
      "(CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))" +
      s" / sqrt($BurstVarNum / (CAST(n AS DOUBLE) - 1.0)) END, 6) AS z"

  /** Top-[[BurstTopK]] burst HOURS per event type: hourly event counts
    * z-scored against the type's own hourly-rate distribution — the
    * RATE anomaly detector next to the VALUE detectors (anomaly_zscore/
    * anomaly_mad); what an ops pipeline pages on (traffic spike), and
    * what a curation pipeline reads to find scrape storms.
    *
    * The hour spine is COMPLETE (min..max hour × type, zeros filled):
    * moments over only-observed hours would bias the mean high and hide
    * bursts in sparse types. Determinism: counts are exact integers
    * over the spine, moments exact BIGINT sums, z one shared double
    * chain ([[BurstZExpr]]); the rank orders by (count, hour) — z is
    * monotone in the count within a type, so the rank never compares
    * doubles. Scale shape: one (type, hour) map-side-combined aggregate
    * (the key space is types × hours — calendar-bounded metadata at any
    * corpus size), spine exploded from a 1-row min/max aggregate,
    * broadcast joins only. */
  def burstHours(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val counts = ev.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
    val spine = ev.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .selectExpr("explode(sequence(hmin, hmax, interval 1 hour)) AS h")
    val types = ev.select(col("event_type")).distinct()
    val cells = spine.crossJoin(broadcast(types))
      .join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("c"), lit(0L)).as("c"))
    val moments = cells.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("c")).as("sc"),
      sum(col("c") * col("c")).as("scc"))
    cells.join(broadcast(moments), "event_type")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("c").desc, col("h"))))
      .filter(col("rk") <= BurstTopK)
      .selectExpr("event_type", "CAST(rk AS BIGINT) AS rank", "h AS burst_hour",
        "c AS n_events", BurstZExpr)
      .orderBy("event_type", "rank")
  }

  /** Trailing window length for [[rollingMedian]] (odd, so full windows
    * never interpolate; partial head windows may). */
  private[graft] val RollMedianW = 21

  /** Median derivation — ONE string for both engines over the exact
    * integer middles (cents): lo+hi is exact, /200.0 folds the cents
    * scale and the two-middle average into a single double chain. */
  private val RollingMedianExpr =
    "round((CAST(mlo AS DOUBLE) + CAST(mhi AS DOUBLE)) / 200.0, 6) AS rolling_median"

  /** Trailing exact MEDIAN of `value` per user ([[RollMedianW]]
    * observations) — the robust twin of [[ewmaSmooth]]: what a metrics
    * pipeline thresholds when the feed has spikes an EWMA would chase.
    *
    * Determinism: the same construction as the EWMA kernel — both
    * engines materialize the SORTED window list of exact cents
    * (`sort_array(collect_list)` / `list_sort(list)`), pick the two
    * middle elements by integer index (k odd ⇒ same element twice),
    * and share one double chain ([[RollingMedianExpr]]). Never a
    * native median()/percentile over doubles, whose interpolation
    * rules differ across engines.
    *
    * Scale shape: one user-partitioned window (users scale with data);
    * ≤ [[RollMedianW]] longs of frame state per row, the sort is
    * O(W log W) per row with W constant — the same
    * constant-state-per-row contract as ewma_smooth. */
  def rollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(RollMedianW - 1), Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("cents", expr("cast(round(value * 100, 0) as bigint)"))
      .withColumn("vals", sort_array(collect_list(col("cents")).over(w)))
      .selectExpr("user_id", "event_id", "ts", "value",
        "element_at(vals, cast((size(vals) + 1) div 2 as int)) AS mlo",
        "element_at(vals, cast(size(vals) div 2 + 1 as int)) AS mhi")
      .selectExpr("user_id", "event_id", "ts", "value", RollingMedianExpr)
      .orderBy("user_id", "ts", "event_id")
  }

  /** Share derivation for [[dowHourProfile]] — shared chain over exact
    * integers; rate_vs_uniform = share·7 states how far the cell sits
    * from a flat weekly profile. */
  private val DowShareExprs = Seq(
    "round(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS share",
    "round(CAST(n AS DOUBLE) * 7.0 / CAST(tn AS DOUBLE), 6) AS rate_vs_uniform")

  /** Day-of-week seasonality profile per event type: the (type, weekday)
    * count matrix with each cell's share of its type — the weekly
    * seasonal index a forecasting pipeline divides out before trend
    * fitting, and the complement of [[burstHours]] (which finds hour
    * ANOMALIES; this states the periodic BASELINE).
    *
    * Determinism: weekday is Spark's `weekday` (0 = Monday) = DuckDB's
    * `isodow − 1` — both pure integer functions of the timestamp; counts
    * are exact; shares one shared double chain. Scale shape: one
    * map-side-combined aggregate over a (types × 7)-cell key space —
    * calendar-bounded metadata at any corpus size. */
  def dowHourProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("weekday(ts)").cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("event_type")).agg(sum(col("n")).as("tn"))
    cells.join(broadcast(totals), "event_type")
      .selectExpr(Seq("event_type", "dow", "n") ++ DowShareExprs: _*)
      .orderBy("event_type", "dow")
  }

  /** SEASONALLY-ADJUSTED burst hours: [[burstHours]] with the z-score
    * baseline narrowed from the type's ALL-hours distribution to its
    * SAME-WEEKDAY hours — a Monday traffic peak that is normal for
    * Mondays stops paging, and a burst that is only anomalous relative
    * to its own weekday (the seasonal index [[dowHourProfile]] states)
    * surfaces. Same complete-spine discipline: moments over min..max
    * hours × type × weekday, zeros filled.
    *
    * Determinism: identical to burst_hours — exact integer counts and
    * moments, the shared [[BurstZExpr]] chain (n/sc/scc now per
    * (type, dow) — the same column names feed the same string), rank
    * on (count, hour). Scale shape: the (type, hour) aggregate is the
    * only corpus-scale work; spine cells carry their weekday as a pure
    * expression, and the moments key space is types × 7. */
  def burstHoursSeasonal(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val counts = ev.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
    val spine = ev.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .selectExpr("explode(sequence(hmin, hmax, interval 1 hour)) AS h")
    val types = ev.select(col("event_type")).distinct()
    val cells = spine.crossJoin(broadcast(types))
      .join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        expr("weekday(h)").cast("long").as("dow"),
        coalesce(col("c"), lit(0L)).as("c"))
    val moments = cells.groupBy(col("event_type"), col("dow")).agg(
      count(lit(1)).as("n"), sum(col("c")).as("sc"),
      sum(col("c") * col("c")).as("scc"))
    cells.join(broadcast(moments), Seq("event_type", "dow"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("c").desc, col("h"))))
      .filter(col("rk") <= BurstTopK)
      .selectExpr("event_type", "CAST(rk AS BIGINT) AS rank", "h AS burst_hour",
        "dow", "c AS n_events", BurstZExpr)
      .orderBy("event_type", "rank")
  }

  // --------------------------------------------------- robust trend / survival
  /** Theil–Sen trend of the daily event volume: the MEDIAN of all
    * pairwise slopes between daily counts (Theil 1950 / Sen 1968) — the
    * robust answer to "is traffic growing?" that a single outage day or
    * crawl burst cannot drag the way it drags OLS (29% breakdown point
    * vs 0%). Reports the OLS slope beside it: divergence between the
    * two IS the outlier signal.
    *
    * Scale shape: the pair explosion is over the DAILY spine — bounded
    * by the square of the calendar window (the burst_hours class),
    * never by event count; 100 TB of events still reduce to one
    * map-combined (day, count) aggregate before any pairing. The
    * median picks rows by row_number over slope VALUE order, so slope
    * ties are value-deterministic; both middles average for even pair
    * counts (exact-rational slopes from integer deltas, round-6 at the
    * end). */
  def theilSenTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
      .persist().transform(graft.api.Caches.tracked)
    daily.count()
    val slopes = daily.as("a")
      .join(broadcast(daily.as("b")), col("b.d") > col("a.d"))
      .select(((col("b.cnt") - col("a.cnt")).cast("double") /
        (col("b.d") - col("a.d")).cast("double")).as("slope"))
    val ranked = slopes
      .withColumn("rn", row_number().over(Window.orderBy(col("slope"))).cast("long"))
    val np = slopes.agg(count(lit(1)).as("np"))
    val med = ranked.crossJoin(broadcast(np))
      .filter(col("rn") === expr("(np + 1) div 2") || col("rn") === expr("np div 2 + 1"))
      .agg(round(avg(col("slope")), 6).as("ts_slope"))
    // OLS over the same exact-integer daily series (the zipf_slope chain)
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("d")).as("sx"),
      sum(col("cnt")).as("sy"), sum(col("d") * col("cnt")).as("sxy"),
      sum(col("d") * col("d")).as("sxx"))
    val nd = col("n").cast("double"); val sx = col("sx").cast("double")
    val sy = col("sy").cast("double"); val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double")
    val ols = stats.filter(col("n") >= 2)
      .select(col("n").as("n_days"),
        round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6).as("ols_slope"))
    ols.crossJoin(broadcast(np.select(col("np").as("n_pairs"))))
      .crossJoin(broadcast(med))
      .select(col("n_days"), col("n_pairs"), col("ts_slope"), col("ols_slope"))
  }

  /** Kaplan–Meier survival curve of user LIFETIME (hours between a
    * user's first and last event, all spells complete): for each
    * distinct lifetime t, the at-risk count n(t) = users with lifetime
    * ≥ t, the event count d(t), and the product-limit estimate
    * S(t) = Π_{t'≤t} (n−d)/n — the retention curve read off raw event
    * logs (Kaplan & Meier 1958).
    *
    * Determinism: the product runs in log space with each factor's ln
    * rounded to 6 dp and cast DECIMAL(18,6) BEFORE the cumulative
    * window sum — decimal addition is exact and associative, so the
    * running sum is engine- and order-independent (the bigram_entropy
    * discipline); the final S(t) is one exp + round-6. The terminal
    * point (n = d: everyone at risk exits) would be ln 0, so it carries
    * a NULL term and a cumulative zero-flag pins S = 0 from there on —
    * the estimator's own convention.
    *
    * Scale shape: one user-keyed map-combined aggregate reduces the
    * event log to lifetimes; the HOUR bucketing makes the curve's spine
    * value-domain-bounded (≤ hours in the observation window — the
    * burst_hours calendar-spine class), so the single-partition
    * cumulative window is bounded no matter the user count. */
  def survivalCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val durs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"))
      .agg(expr("(max(us) - min(us)) div 3600000000").as("dur_h"))
    val dd = durs.groupBy(col("dur_h")).agg(count(lit(1)).as("d"))
    val nu = durs.agg(count(lit(1)).as("nu"))
    val prevW = Window.orderBy(col("dur_h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumW = Window.orderBy(col("dur_h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dd.crossJoin(broadcast(nu))
      .withColumn("n", col("nu") - coalesce(sum(col("d")).over(prevW), lit(0L)))
      .withColumn("term", when(col("d") === col("n"), lit(null))
        .otherwise(round(log((col("n") - col("d")).cast("double") /
          col("n").cast("double")), 6).cast(DecimalType(18, 6))))
      .withColumn("zero",
        max(when(col("d") === col("n"), 1).otherwise(0)).over(cumW))
      .withColumn("survival", when(col("zero") === 1, lit(0.0))
        .otherwise(round(exp(sum(col("term")).over(cumW).cast("double")), 6)))
      .select(col("dur_h"), col("n").as("n_at_risk"), col("d").as("n_events"),
        col("survival"))
      .orderBy("dur_h")
  }

  /** Shared daily-count spine for the trend family ([[theilSenTrend]],
    * [[seasonalNaiveError]]): epoch day → event count, one map-combined
    * aggregate over the log. */
  private def dailyCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("cnt"))

  /** MASE-style forecastability check of the daily event volume
    * (Hyndman & Koehler 2006): the seasonal-naive forecast (repeat last
    * week's value, lag 7) scored against the one-step naive scale
    * (lag 1). MASE < 1 ⇒ weekly seasonality carries real signal beyond
    * short-term persistence; ≈1 ⇒ the weekly pattern adds nothing — the
    * first statistic a capacity-planning forecast reads before any
    * model is fit.
    *
    * Determinism: both error legs are |integer − integer|; three exact
    * sums close with one identical double chain (two divisions, one
    * ratio), round-6. Degenerate guard: an all-constant series has
    * naive MAE 0 — the query returns empty rather than ±∞ (the
    * theil_sen n≥2 convention). Scale: daily-spine joins — calendar-
    * bounded after one map-combined aggregate of the log. */
  def seasonalNaiveError(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
      .persist().transform(graft.api.Caches.tracked)
    daily.count()
    def maeLeg(lag: Int) = daily.as("a")
      .join(daily.as("b"), col("a.d") - lit(lag.toLong) === col("b.d"))
      .select(abs(col("a.cnt") - col("b.cnt")).as("e"))
      .agg(count(lit(1)).as(s"n$lag"), sum(col("e")).as(s"s$lag"))
    val mae7 = col("s7").cast("double") / col("n7").cast("double")
    val mae1 = col("s1").cast("double") / col("n1").cast("double")
    daily.agg(count(lit(1)).as("n_days"))
      .crossJoin(broadcast(maeLeg(7))).crossJoin(broadcast(maeLeg(1)))
      .filter(col("n7") >= 1 && col("n1") >= 1 && col("s1") > 0)
      .select(col("n_days"), col("n7").as("n_seasonal_terms"),
        round(mae7, 6).as("mae_seasonal"),
        round(mae1, 6).as("mae_naive"),
        round(mae7 / mae1, 6).as("mase"))
  }

  /** Index of dispersion (Fano factor) of each event type's hourly
    * arrivals over the COMPLETE hour spine: sample-variance / mean of
    * the hourly counts. 1 ⇒ Poisson-like arrivals; ≫1 ⇒ bursty
    * (overdispersed — the load-balancing hazard `burst_hours` localizes
    * in time, summarized here as one per-type number); <1 ⇒ regular.
    * Zeros on the spine COUNT, exactly as in the burst family —
    * observed-only moments would understate dispersion for sparse
    * types.
    *
    * Determinism: var/mean closes algebraically to
    * (n·Σc² − (Σc)²) / ((n−1)·Σc) — one double chain over exact
    * integer moments, round-6. Scale: the spine cross join is
    * calendar × types; moments are map-side combined; output is
    * types-sized. */
  def dispersionIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val counts = ev.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
    val spine = ev.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .selectExpr("explode(sequence(hmin, hmax, interval 1 hour)) AS h")
    val types = ev.select(col("event_type")).distinct()
    val cells = spine.crossJoin(broadcast(types))
      .join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), coalesce(col("c"), lit(0L)).as("c"))
    val nd = col("n").cast("double"); val scd = col("sc").cast("double")
    val sccd = col("scc").cast("double")
    cells.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .filter(col("n") >= 2 && col("sc") > 0)
      .select(col("event_type"), col("n").as("n_hours"),
        round(scd / nd, 6).as("mean_per_hour"),
        round((nd * sccd - scd * scd) / ((nd - 1.0) * scd), 6).as("dispersion"))
      .orderBy("event_type")
  }

  /** Weekday seasonal decomposition of the daily event volume: per
    * day-of-week, the seasonal mean and the mean absolute residual
    * around it — the additive-decomposition read (classical seasonal
    * means, the STL-lite a capacity planner fits first) that says how
    * much of daily variance the weekly cycle explains, weekday by
    * weekday. Complements [[seasonalNaiveError]] (which scores lag-7 as
    * a FORECAST) with the fitted per-weekday profile itself.
    *
    * Determinism: dow is pure integer arithmetic on the epoch day
    * ((d+3) mod 7, Monday=0 — epoch day 0 was a Thursday; no timezone
    * or date function in the chain); each |residual| is the exact
    * integer |cnt·n − Σcnt| so the only doubles are the two closing
    * divisions, round-6. Scale: the daily spine reduces to 7 rows with
    * map-combined exact-integer moments. */
  def seasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
      .withColumn("dow", pmod(col("d") + 3, lit(7L)))
      .persist().transform(graft.api.Caches.tracked)
    daily.count()
    val mom = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("sd"))
    daily.join(broadcast(mom), Seq("dow"))
      .select(col("dow"), col("n"), col("sd"),
        abs(col("cnt") * col("n") - col("sd")).as("ar"))
      .groupBy(col("dow"), col("n"), col("sd"))
      .agg(sum(col("ar")).as("sar"))
      .select(col("dow"), col("n").as("n_days"),
        round(col("sd").cast("double") / col("n").cast("double"), 6).as("dow_mean"),
        round(col("sar").cast("double") /
          (col("n").cast("double") * col("n").cast("double")), 6)
          .as("mean_abs_resid"))
      .orderBy("dow")
  }

  /** Single-level binary-segmentation changepoint over the daily
    * volume (the first split of the classic binseg recursion; Scott &
    * Knott's between-group maximization): the day boundary that
    * maximizes the between-segment sum-of-squares statistic
    * (s_l·n − S·k)² / (k·(n−k)) — CUSUM's [[cusumChangepoint]] locates
    * level shifts per TYPE at event grain; this reads the one corpus-
    * level "when did traffic change" day off the daily spine.
    *
    * Determinism: s_l·n − S·k is an exact integer (the cumulative and
    * total sums are BIGINT); the square and division are one identical
    * double chain; argmax orders by (stat DESC, day) so equal stats
    * break to the earliest boundary. Both segments must hold ≥ 2 days
    * (n < 4 → empty, the theil_sen degenerate convention). Scale: one
    * map-combined daily aggregate, then a calendar-bounded single-
    * partition cumulative window and a top-1 TakeOrderedAndProject. */
  def binsegSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = dailyCounts(spark, sfDir)
    val w = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, 0)
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("cnt")).as("s"))
    val diff = (col("sl") * col("n") - col("s") * col("k")).cast("double")
    val stat = diff * diff /
      (col("k").cast("double") * (col("n") - col("k")).cast("double"))
    daily
      .withColumn("k", row_number().over(Window.orderBy(col("d"))).cast("long"))
      .withColumn("sl", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("n") >= 4 && col("k") >= 2 && col("k") <= col("n") - 2)
      .select(col("d").as("split_day"), col("k").as("n_left"),
        (col("n") - col("k")).as("n_right"),
        round(col("sl").cast("double") / col("k").cast("double"), 6).as("mean_left"),
        round((col("s") - col("sl")).cast("double") /
          (col("n") - col("k")).cast("double"), 6).as("mean_right"),
        round(stat, 6).as("stat"))
      .orderBy(col("stat").desc, col("split_day"))
      .limit(1)
  }

  /** Entropy rate of the user-journey Markov chain (the
    * [[transitionMatrix]] summarized as one number): using the
    * empirical from-state distribution as the weight, H = −Σ_{u,v}
    * (c_uv/N)·ln(c_uv/c_u) nats/transition — how predictable the next
    * event type is given the current one. 0 ⇒ deterministic journeys;
    * ln(#types) ⇒ memoryless uniform noise. The one-number drift
    * monitor over journey structure (compare across releases).
    *
    * Determinism: every ln operand is a ratio of exact integers and
    * each cell's term is round-6 DECIMAL before the global sum — the
    * bigram_entropy discipline verbatim (this IS bigram conditional
    * entropy, over event transitions instead of tokens). Scale: one
    * user-keyed lag window + a (types×types)-bounded aggregate. */
  def markovEntropyRate(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cuv = Tables.events(spark, sfDir)
      .withColumn("from_type", lag(col("event_type"), 1).over(ord))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("c"))
      .persist().transform(graft.api.Caches.tracked)
    cuv.count()
    val cu = cuv.groupBy(col("from_type")).agg(sum(col("c")).as("cu"))
    val nb = cuv.agg(sum(col("c")).as("nb"))
    cuv.join(cu, Seq("from_type"))
      .crossJoin(broadcast(nb))
      .select(col("nb"),
        round(-(col("c").cast("double") / col("nb").cast("double")) *
          log(col("c").cast("double") / col("cu").cast("double")), 6)
          .cast("decimal(18,6)").as("term"))
      .groupBy(col("nb"))
      .agg(count(lit(1)).as("n_cells"), sum(col("term")).cast("double").as("entropy_rate"))
      .select(col("nb").as("n_transitions"), col("n_cells"), col("entropy_rate"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "burst_hours_seasonal" -> (burstHoursSeasonal _),
    "theil_sen_trend"  -> (theilSenTrend _),
    "survival_curve"   -> (survivalCurve _),
    "seasonal_naive_error" -> (seasonalNaiveError _),
    "seasonal_decompose" -> (seasonalDecompose _),
    "binseg_split"     -> (binsegSplit _),
    "dispersion_index" -> (dispersionIndex _),
    "markov_entropy_rate" -> (markovEntropyRate _),
    "rolling_median"   -> (rollingMedian _),
    "dow_hour_profile" -> (dowHourProfile _),
    "pivot_counts"     -> (pivotCounts _),
    "unpivot_metrics"  -> (unpivotMetrics _),
    "percentiles"      -> (percentiles _),
    "weighted_percentiles" -> (weightedPercentiles _),
    "rank_quartiles"   -> (rankQuartiles _),
    "string_collect"   -> (stringCollect _),
    "scalar_pack"      -> (scalarPack _),
    "json_path_pack"   -> (jsonPathPack _),
    "typed_payload"    -> (typedPayload _),
    "window_pack"      -> (windowPack _),
    "range_join"       -> (rangeJoin _),
    "above_avg_filter" -> (aboveAvgFilter _),
    "salted_agg"       -> (saltedAgg _),
    "salted_join"      -> (saltedJoin _),
    "heavy_hitters"    -> (heavyHitters _),
    "key_skew_profile" -> (keySkewProfile _),
    "approx_percentiles" -> (approxPercentiles _),
    "winsorize_values" -> (winsorizeValues _),
    "quantile_bins"    -> (quantileBins _),
    "interval_union_time" -> (intervalUnionTime _),
    "mode_per_group"   -> (modePerGroup _),
    "ewma_smooth"      -> (ewmaSmooth _),
    "cusum_changepoint" -> (cusumChangepoint _),
    "value_autocorr"   -> (valueAutocorr _),
    "burst_hours"      -> (burstHours _),
    "date_pack"        -> (datePack _),
    "pattern_filter"   -> (patternFilter _),
    "trailing_window"  -> (trailingWindow _),
    "having_filter"    -> (havingFilter _),
    "stats_pack"       -> (statsPack _),
    "array_pack"       -> (arrayPack _),
    "funnel_steps"     -> (funnelSteps _),
    "path_topk"        -> (pathTopk _),
    "gap_percentiles"  -> (gapPercentiles _),
    "anomaly_zscore"   -> (anomalyZscore _),
    "anomaly_mad"      -> (anomalyMad _),
    "transition_matrix" -> (transitionMatrix _),
    "column_profile"   -> (columnProfile _),
    "retention_cohort" -> (retentionCohort _),
    "gaps_islands"     -> (gapsIslands _))

  val oracles: Map[String, String] = Map(
    // pairwise slopes over the daily spine; median via row_number on
    // slope VALUE order (value-deterministic under ties), OLS beside it
    "theil_sen_trend" ->
      """WITH daily AS (
        | SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1),
        |pairs AS (
        | SELECT (CAST(b.cnt AS DOUBLE) - CAST(a.cnt AS DOUBLE)) /
        |        (CAST(b.d AS DOUBLE) - CAST(a.d AS DOUBLE)) AS slope
        | FROM daily a JOIN daily b ON b.d > a.d),
        |r AS (SELECT slope,
        |  CAST(row_number() OVER (ORDER BY slope) AS BIGINT) AS rn FROM pairs),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
        |med AS (SELECT round(avg(slope), 6) AS ts_slope FROM r, np
        | WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS sx,
        |  CAST(sum(cnt) AS BIGINT) AS sy, CAST(sum(d * cnt) AS BIGINT) AS sxy,
        |  CAST(sum(d * d) AS BIGINT) AS sxx FROM daily)
        |SELECT s.n AS n_days, np.np AS n_pairs, med.ts_slope,
        | round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS ols_slope
        |FROM s, np, med WHERE s.n >= 2""".stripMargin,
    // product-limit in log space: round-6 DECIMAL terms before the
    // cumulative sum (exact, order-independent), terminal n=d row pins
    // S=0 via the cumulative zero flag
    "survival_curve" ->
      """WITH ue AS (
        | SELECT user_id,
        |  (max(epoch_us(ts)) - min(epoch_us(ts))) // 3600000000 AS dur_h
        | FROM events GROUP BY user_id),
        |dd AS (SELECT dur_h, CAST(count(*) AS BIGINT) AS d FROM ue GROUP BY dur_h),
        |nu AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM ue),
        |base AS (SELECT dur_h, d,
        |  nu - coalesce(CAST(sum(d) OVER (ORDER BY dur_h
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n
        | FROM dd, nu),
        |t AS (SELECT dur_h, d, n,
        |  CASE WHEN d = n THEN NULL
        |   ELSE CAST(round(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) END AS term
        | FROM base),
        |sel AS (SELECT dur_h, d, n,
        |  max(CASE WHEN d = n THEN 1 ELSE 0 END) OVER cum AS zero,
        |  sum(term) OVER cum AS st
        | FROM t WINDOW cum AS (ORDER BY dur_h
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT dur_h, n AS n_at_risk, d AS n_events,
        | CASE WHEN zero = 1 THEN CAST(0.0 AS DOUBLE)
        |  ELSE round(exp(CAST(st AS DOUBLE)), 6) END AS survival
        |FROM sel ORDER BY dur_h""".stripMargin,
    // both error legs are |int - int|; one shared double chain closes
    "seasonal_naive_error" ->
      """WITH daily AS (
        | SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1),
        |e7 AS (SELECT CAST(count(*) AS BIGINT) AS n7,
        |  CAST(sum(abs(a.cnt - b.cnt)) AS BIGINT) AS s7
        | FROM daily a JOIN daily b ON a.d - 7 = b.d),
        |e1 AS (SELECT CAST(count(*) AS BIGINT) AS n1,
        |  CAST(sum(abs(a.cnt - b.cnt)) AS BIGINT) AS s1
        | FROM daily a JOIN daily b ON a.d - 1 = b.d),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        |SELECT n_days, n7 AS n_seasonal_terms,
        | round(CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE), 6) AS mae_seasonal,
        | round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mae_naive,
        | round((CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE))
        |   / (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)), 6) AS mase
        |FROM nd, e7, e1 WHERE n7 >= 1 AND n1 >= 1 AND s1 > 0""".stripMargin,
    // dow via integer (d+3) mod 7; |residual| as the exact integer
    // |cnt*n - sum| so only the two closing divisions are doubles
    "seasonal_decompose" ->
      """WITH daily AS (
        | SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1),
        |dd AS (SELECT (d + 3) % 7 AS dow, cnt FROM daily),
        |m AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cnt) AS BIGINT) AS sd FROM dd GROUP BY dow),
        |r AS (SELECT dd.dow, m.n, m.sd,
        |  CAST(sum(abs(dd.cnt * m.n - m.sd)) AS BIGINT) AS sar
        | FROM dd JOIN m USING (dow) GROUP BY dd.dow, m.n, m.sd)
        |SELECT dow, n AS n_days,
        | round(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS dow_mean,
        | round(CAST(sar AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
        |  AS mean_abs_resid
        |FROM r ORDER BY dow""".stripMargin,
    // exact integer cusum diff sl*n - S*k; argmax (stat DESC, day)
    "binseg_split" ->
      """WITH daily AS (
        | SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cnt) AS BIGINT) AS s FROM daily),
        |cum AS (SELECT d,
        |  CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
        |  CAST(sum(cnt) OVER (ORDER BY d
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sl
        | FROM daily),
        |st AS (SELECT d, k, sl, n, s,
        |  CAST(sl * n - s * k AS DOUBLE) * CAST(sl * n - s * k AS DOUBLE)
        |   / (CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)) AS stat
        | FROM cum, tot
        | WHERE n >= 4 AND k >= 2 AND k <= n - 2)
        |SELECT d AS split_day, k AS n_left, n - k AS n_right,
        | round(CAST(sl AS DOUBLE) / CAST(k AS DOUBLE), 6) AS mean_left,
        | round(CAST(s - sl AS DOUBLE) / CAST(n - k AS DOUBLE), 6) AS mean_right,
        | round(stat, 6) AS stat
        |FROM st ORDER BY stat DESC, split_day LIMIT 1""".stripMargin,
    // complete-spine moments (zeros count); var/mean closed to one
    // chain over exact integer moments
    "dispersion_index" ->
      """WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |cnt AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
        | FROM ev GROUP BY event_type, h),
        |mm AS (SELECT min(h) AS hmin, max(h) AS hmax FROM ev),
        |spine AS (SELECT unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
        | FROM mm),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |cells AS (SELECT t.event_type, coalesce(c.c, 0) AS c
        | FROM spine s CROSS JOIN types t
        | LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = s.h),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc
        | FROM cells GROUP BY event_type)
        |SELECT event_type, n AS n_hours,
        | round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_per_hour,
        | round((CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
        |    - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |   / ((CAST(n AS DOUBLE) - 1.0) * CAST(sc AS DOUBLE)), 6) AS dispersion
        |FROM m WHERE n >= 2 AND sc > 0 ORDER BY event_type""".stripMargin,
    // bigram_entropy's round-6 DECIMAL term discipline over event
    // transitions; the VARCHAR route forces DuckDB's DECIMAL sum to the
    // same correctly-rounded double Spark's cast produces
    "markov_entropy_rate" ->
      """WITH seq AS (
        | SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id) AS from_type
        | FROM events),
        |cuv AS MATERIALIZED (SELECT from_type, event_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM seq WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
        |cu AS (SELECT from_type, CAST(sum(c) AS BIGINT) AS cu
        | FROM cuv GROUP BY from_type),
        |nbt AS (SELECT CAST(sum(c) AS BIGINT) AS nb FROM cuv)
        |SELECT nb AS n_transitions, CAST(count(*) AS BIGINT) AS n_cells,
        | CAST(CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / CAST(nb AS DOUBLE)) *
        |   ln(CAST(c AS DOUBLE) / CAST(cu AS DOUBLE)), 6) AS DECIMAL(18,6)))
        |  AS VARCHAR) AS DOUBLE) AS entropy_rate
        |FROM cuv JOIN cu USING (from_type), nbt GROUP BY nb""".stripMargin,
    "burst_hours_seasonal" ->
      s"""WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |cnt AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
        | FROM ev GROUP BY event_type, h),
        |mm AS (SELECT min(h) AS hmin, max(h) AS hmax FROM ev),
        |spine AS (SELECT unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
        | FROM mm),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |cells AS (SELECT t.event_type, s.h,
        |  CAST(isodow(s.h) - 1 AS BIGINT) AS dow, coalesce(c.c, 0) AS c
        | FROM spine s CROSS JOIN types t
        | LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = s.h),
        |m AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc
        | FROM cells GROUP BY event_type, dow),
        |r AS (SELECT cells.event_type, h, cells.dow, c, n, sc, scc,
        |  CAST(row_number() OVER (PARTITION BY cells.event_type
        |    ORDER BY c DESC, h) AS BIGINT) AS rank
        | FROM cells JOIN m USING (event_type, dow))
        |SELECT event_type, rank, h AS burst_hour, dow, c AS n_events, $BurstZExpr
        |FROM r WHERE rank <= $BurstTopK ORDER BY event_type, rank""".stripMargin,
    "rolling_median" ->
      s"""WITH c AS (SELECT user_id, event_id, ts, value,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |l AS (SELECT user_id, event_id, ts, value,
        |  list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN ${RollMedianW - 1} PRECEDING AND CURRENT ROW)) AS vals
        | FROM c),
        |s AS (SELECT user_id, event_id, ts, value,
        |  vals[(array_length(vals) + 1) // 2] AS mlo,
        |  vals[array_length(vals) // 2 + 1] AS mhi
        | FROM l)
        |SELECT user_id, event_id, ts, value, $RollingMedianExpr
        |FROM s ORDER BY user_id, ts, event_id""".stripMargin,
    "dow_hour_profile" ->
      s"""WITH cells AS (SELECT event_type, CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tn FROM cells GROUP BY 1)
        |SELECT event_type, dow, n, ${DowShareExprs.mkString(", ")}
        |FROM cells JOIN t USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,
    "pivot_counts" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "unpivot_metrics" ->
      """SELECT event_id, 'value' AS metric, value AS metric_value FROM events
        |UNION ALL
        |SELECT event_id, 'user_id_d' AS metric, CAST(user_id AS DOUBLE) FROM events
        |ORDER BY event_id, metric""".stripMargin,
    "percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.25), 6) AS p25,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "weighted_percentiles" ->
      """WITH ex AS (SELECT l_returnflag,
        |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |  CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |expanded AS (SELECT l_returnflag, cents FROM (
        | SELECT l_returnflag, cents, unnest(generate_series(1, w)) AS r
        | FROM ex) t)
        |SELECT l_returnflag,
        | CAST(count(*) AS BIGINT) AS weight_total,
        | round(quantile_cont(cents, 0.5) / 100.0, 6) AS wp50,
        | round(quantile_cont(cents, 0.9) / 100.0, 6) AS wp90,
        | round(quantile_cont(cents, 0.99) / 100.0, 6) AS wp99
        |FROM expanded GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "mode_per_group" ->
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY user_id, event_type),
        |r AS (SELECT user_id, event_type, n,
        |  row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn,
        |  CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS total
        | FROM c)
        |SELECT user_id, event_type AS mode_event_type, n,
        | round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "ewma_smooth" ->
      s"""WITH c AS (SELECT user_id, event_id, ts, value,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |l AS (SELECT user_id, event_id, ts, value,
        |  list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN ${EwmaWindow - 1} PRECEDING AND CURRENT ROW) AS vals
        | FROM c),
        |s AS (SELECT user_id, event_id, ts, value,
        |  CAST(list_sum(list_transform(vals,
        |    (x, i) -> x * (CAST(1 AS BIGINT) << (i - 1)))) AS BIGINT) AS wsum,
        |  CAST(1 AS BIGINT) << array_length(vals) AS p2k
        | FROM l)
        |SELECT user_id, event_id, ts, value, $EwmaExpr
        |FROM s ORDER BY user_id, ts, event_id""".stripMargin,
    "cusum_changepoint" ->
      s"""WITH c AS (SELECT event_type, event_id, ts,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS DOUBLE) AS sx,
        |  CAST(sum(cents * cents) AS DOUBLE) AS sxx
        | FROM c GROUP BY event_type),
        |s AS (SELECT c.event_type, c.event_id, c.ts, m.n,
        |  CAST(row_number() OVER (PARTITION BY c.event_type
        |    ORDER BY c.ts, c.event_id) AS BIGINT) AS t,
        |  CAST(sum(c.cents) OVER (PARTITION BY c.event_type
        |    ORDER BY c.ts, c.event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum,
        |  m.sx, m.sxx
        | FROM c JOIN m USING (event_type)),
        |st AS (SELECT event_type, event_id, ts, n, t,
        |  $CusumStatExpr AS stat FROM s),
        |r AS (SELECT event_type, event_id, ts, n, t, stat,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(stat) DESC, t) AS rk FROM st)
        |SELECT event_type, n, t AS change_pos, event_id AS change_event_id,
        | ts AS change_ts, round(stat, 6) AS cusum_stat
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "value_autocorr" -> {
      val lagCols = AcfLags
        .map(k => s"lag(cents, $k) OVER w AS l$k").mkString(",\n  ")
      val aggCols = AcfLags.map(k =>
        s"CAST(sum(cents * l$k) AS BIGINT) AS sp$k,\n  " +
          s"CAST(sum(CASE WHEN l$k IS NOT NULL THEN cents END) AS BIGINT) AS a$k,\n  " +
          s"CAST(sum(l$k) AS BIGINT) AS b$k").mkString(",\n  ")
      val arms = AcfLags.map(k =>
        s"SELECT event_type, CAST($k AS BIGINT) AS lag, ${acfExpr(k)} FROM a")
        .mkString("\n UNION ALL\n ")
      s"""WITH c AS (SELECT event_type, event_id, ts,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |l AS (SELECT event_type, cents,
        |  $lagCols
        | FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sx,
        |  CAST(sum(cents * cents) AS BIGINT) AS sxx,
        |  $aggCols
        | FROM l GROUP BY event_type)
        |$arms
        |ORDER BY event_type, lag""".stripMargin
    },
    "burst_hours" ->
      s"""WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |cnt AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
        | FROM ev GROUP BY event_type, h),
        |mm AS (SELECT min(h) AS hmin, max(h) AS hmax FROM ev),
        |spine AS (SELECT unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
        | FROM mm),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |cells AS (SELECT t.event_type, s.h, coalesce(c.c, 0) AS c
        | FROM spine s CROSS JOIN types t
        | LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = s.h),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc
        | FROM cells GROUP BY event_type),
        |r AS (SELECT cells.event_type, h, c, n, sc, scc,
        |  CAST(row_number() OVER (PARTITION BY cells.event_type
        |    ORDER BY c DESC, h) AS BIGINT) AS rank
        | FROM cells JOIN m USING (event_type))
        |SELECT event_type, rank, h AS burst_hour, c AS n_events, $BurstZExpr
        |FROM r WHERE rank <= $BurstTopK ORDER BY event_type, rank""".stripMargin,
    "interval_union_time" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
        | FROM events),
        |m AS (SELECT user_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM b),
        |i AS (SELECT user_id, s, e,
        |  CAST(sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS isl
        | FROM m),
        |g AS (SELECT user_id, isl, min(s) AS ms, max(e) AS me
        | FROM i GROUP BY user_id, isl)
        |SELECT user_id, count(*) AS n_islands,
        | CAST(sum(me - ms) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "winsorize_values" ->
      """WITH cuts AS (SELECT event_type,
        |  round(quantile_cont(value, 0.01), 6) AS p01,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        | FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        | round(least(greatest(value, p01), p99), 6) AS value_winsorized
        |FROM events e JOIN cuts USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "quantile_bins" ->
      s"""WITH cuts AS (
        | SELECT ${(1 to 9).map(i =>
             s"round(quantile_cont(value, 0.${i}), 6) AS c$i").mkString(", ")}
        | FROM events),
        |b AS (SELECT CAST(${(1 to 9).map(i =>
             s"(CASE WHEN value > c$i THEN 1 ELSE 0 END)").mkString(" + ")}
        |   AS INTEGER) AS bin, value
        | FROM events, cuts WHERE c1 IS NOT NULL)
        |SELECT bin, count(*) AS n,
        | round(min(value), 6) AS vmin, round(max(value), 6) AS vmax,
        | CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS vsum
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    // ann_recall shape: the exact side re-stated, the sketch's rank-window
    // verdict as a boolean the deterministic GK sketch must clear
    "approx_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.25), 6) AS p25,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.75), 6) AS p75,
        | TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "rank_quartiles" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, quartile, pct_rank, drank FROM (
        | SELECT c_mktsegment, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drank
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | WINDOW w AS (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey)) t
        |WHERE quartile = 1 ORDER BY c_mktsegment, pct_rank, o_orderkey""".stripMargin,
    "string_collect" ->
      """SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "json_path_pack" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
        | json_extract_string(props, '$.missing') AS absent
        |FROM events ORDER BY event_id""".stripMargin,
    "typed_payload" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) > 50 AS k_big
        |FROM events ORDER BY event_id""".stripMargin,
    "window_pack" ->
      """SELECT event_type, event_id,
        | first_value(event_id) OVER w AS first_id,
        | last_value(event_id) OVER
        |  (PARTITION BY event_type ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id,
        | nth_value(event_id, 2) OVER w AS second_id,
        | round(cume_dist() OVER w, 6) AS cdist
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |ORDER BY event_type, event_id""".stripMargin,
    "scalar_pack" ->
      """SELECT event_id,
        | upper(event_type) AS type_upper,
        | lpad(event_type, 10, '_') AS type_pad,
        | substr(event_type, 1, 3) AS type_pre,
        | event_type || '|' || CAST(user_id AS VARCHAR) AS tag,
        | strftime(ts, '%Y-%m-%d %H') AS hour_str,
        | CAST(year(ts) AS INTEGER) AS y,
        | CAST(month(ts) AS INTEGER) AS m,
        | CAST(hour(ts) AS INTEGER) AS h,
        | round(abs(value * -1) + 0.0, 2) AS value_abs,
        | CAST(ceil(value) AS BIGINT) AS value_ceil,
        | CAST(floor(value) AS BIGINT) AS value_floor,
        | round(sqrt(abs(value)), 6) AS value_sqrt,
        | greatest(value, 50.0) AS value_hi,
        | coalesce(nullif(event_type, 'error'), 'quarantine') AS routed
        |FROM events ORDER BY event_id""".stripMargin,
    "range_join" ->
      """SELECT event_id, count(*) AS n_orders,
        | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM events JOIN orders
        | ON o_custkey % 50 = user_id
        | AND o_orderdate >= ts - INTERVAL 3 DAY
        | AND o_orderdate <= ts + INTERVAL 3 DAY
        |WHERE event_type = 'purchase'
        |GROUP BY event_id ORDER BY event_id""".stripMargin,
    "above_avg_filter" ->
      """SELECT o_orderkey, c_mktsegment, o_totalprice, round(seg_avg, 6) AS seg_avg FROM (
        | SELECT o_orderkey, c_mktsegment, o_totalprice,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY c_mktsegment) AS VARCHAR) AS DOUBLE)
        |    / CAST(count(*) OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS seg_avg
        | FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE o_totalprice > seg_avg ORDER BY o_orderkey""".stripMargin,
    "having_filter" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id HAVING count(*) >= 250 ORDER BY user_id""".stripMargin,
    "date_pack" ->
      """SELECT o_orderkey,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2024-06-01') AS INTEGER) AS days_to_cutoff,
        | CAST(o_orderdate AS DATE) + 30 AS due_date,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
        | CAST(day(o_orderdate) AS INTEGER) AS dom,
        | CAST(quarter(o_orderdate) AS INTEGER) AS q
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "pattern_filter" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_type LIKE '%ECONOMY%' OR regexp_matches(p_name, '^(red|blue) .*(bolt|widget)')
        |ORDER BY p_partkey""".stripMargin,
    "trailing_window" ->
      """SELECT user_id, event_id, ts,
        | count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_trailing_1h
        |FROM events ORDER BY user_id, ts, event_id""".stripMargin,
    "salted_agg" ->
      """SELECT event_type, count(*) AS n,
        | CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "salted_join" ->
      """WITH dim AS (SELECT user_id, CAST(count(*) AS BIGINT) AS user_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS user_value
        | FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, e.event_type, d.user_events,
        | round(d.user_value, 6) AS user_value
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |ORDER BY e.event_id""".stripMargin,
    "heavy_hitters" ->
      s"""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |           FROM events GROUP BY user_id),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM events)
        |SELECT user_id, n_events,
        | round(n_events * 100.0 / total, 6) AS pct
        |FROM c, t ORDER BY n_events DESC, user_id LIMIT $HeavyHittersK""".stripMargin,
    "key_skew_profile" ->
      s"""SELECT (c // $SkewBucketWidth) * $SkewBucketWidth AS events_lo,
        | CAST(count(*) AS BIGINT) AS n_users,
        | min(c) AS min_events, max(c) AS max_events
        |FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |      FROM events GROUP BY user_id) t
        |GROUP BY events_lo ORDER BY events_lo""".stripMargin,
    "stats_pack" ->
      s"""WITH m AS (
        | SELECT event_type, count(*) AS n,
        |  sum(CAST(value AS DECIMAL(18,2))) AS sx,
        |  sum(CAST(user_id AS DECIMAL(18,2))) AS sy,
        |  sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx,
        |  sum(CAST(user_id AS DECIMAL(18,2)) * CAST(user_id AS DECIMAL(18,2))) AS syy,
        |  sum(CAST(value AS DECIMAL(18,2)) * CAST(user_id AS DECIMAL(18,2))) AS sxy
        | FROM events GROUP BY event_type)
        |SELECT event_type, n, ${statsExprs.mkString(", ")}
        |FROM m ORDER BY event_type""".stripMargin,
    "array_pack" ->
      """SELECT doc_id,
        | CAST(len(toks) AS INTEGER) AS n_toks,
        | CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, b) -> a + b) AS INTEGER) AS total_chars,
        | CAST(len(list_filter(toks, t -> length(t) >= 6)) AS INTEGER) AS n_long,
        | CAST(list_max(list_transform(toks, t -> length(t))) AS INTEGER) AS max_len,
        | array_to_string(list_sort(list_distinct(toks))[1:5], ',') AS top5
        |FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "anomaly_mad" ->
      """WITH ev AS (SELECT event_id, user_id, value FROM events),
        |med AS (SELECT user_id, round(quantile_cont(value, 0.5), 6) AS med
        | FROM ev GROUP BY user_id),
        |dev AS (SELECT e.event_id, e.user_id, e.value, m.med,
        |  abs(e.value - m.med) AS adev
        | FROM ev e JOIN med m USING (user_id)),
        |mad AS (SELECT user_id, round(quantile_cont(adev, 0.5), 6) AS mad
        | FROM dev GROUP BY user_id)
        |SELECT d.event_id, d.user_id, round(d.value, 6) AS value, d.med, m.mad,
        | round(d.adev / (CAST(1.4826 AS DOUBLE) * m.mad), 6) AS score
        |FROM dev d JOIN mad m USING (user_id)
        |WHERE m.mad > 0.0
        | AND round(d.adev / (CAST(1.4826 AS DOUBLE) * m.mad), 6) > 3.0
        |ORDER BY event_id""".stripMargin,
    "anomaly_zscore" ->
      """SELECT event_id, event_type, value,
        | round(mean, 6) AS mean, round(z, 6) AS z
        |FROM (
        | SELECT event_id, event_type, value, n, s1 / n AS mean,
        |  (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / n) AS z
        | FROM (
        |  SELECT event_id, event_type, value,
        |   count(*) OVER w AS n,
        |   CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
        |   CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |   ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)) f
        | WHERE n = 50 AND (s2 - s1 * s1 / n) / n > 1e-12) g
        |WHERE abs(z) > 3.0
        |ORDER BY event_id""".stripMargin,
    "column_profile" ->
      """SELECT * FROM (
        | SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
        |  count(l_orderkey) AS n_nonnull, count(DISTINCT l_orderkey) AS n_distinct,
        |  CAST(min(l_orderkey) AS DOUBLE) AS min_num, CAST(max(l_orderkey) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM lineitem
        | UNION ALL
        | SELECT 'l_quantity', count(*), count(l_quantity), count(DISTINCT l_quantity),
        |  min(l_quantity), max(l_quantity), NULL, NULL FROM lineitem
        | UNION ALL
        | SELECT 'l_discount', count(*), count(l_discount), count(DISTINCT l_discount),
        |  min(l_discount), max(l_discount), NULL, NULL FROM lineitem
        | UNION ALL
        | SELECT 'l_returnflag', count(*), count(l_returnflag), count(DISTINCT l_returnflag),
        |  NULL, NULL, min(l_returnflag), max(l_returnflag) FROM lineitem
        | UNION ALL
        | SELECT 'l_linestatus', count(*), count(l_linestatus), count(DISTINCT l_linestatus),
        |  NULL, NULL, min(l_linestatus), max(l_linestatus) FROM lineitem) p
        |ORDER BY col_name""".stripMargin,
    "transition_matrix" ->
      """SELECT from_type, to_type, n,
        | round(CAST(n AS DOUBLE) /
        |  CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM (
        | SELECT from_type, event_type AS to_type, CAST(count(*) AS BIGINT) AS n
        | FROM (
        |  SELECT event_type,
        |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events) s
        | WHERE from_type IS NOT NULL
        | GROUP BY 1, 2) c
        |ORDER BY from_type, to_type""".stripMargin,
    "gap_percentiles" ->
      """WITH g AS (SELECT event_type,
        |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        | FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        | round(quantile_cont(gap_ms, 0.5), 6) AS p50,
        | round(quantile_cont(gap_ms, 0.9), 6) AS p90,
        | round(quantile_cont(gap_ms, 0.99), 6) AS p99
        |FROM g WHERE gap_ms IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "path_topk" ->
      """WITH r AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events),
        |p AS (SELECT user_id, array_to_string(list(event_type ORDER BY rn), '>') AS path
        | FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 10""".stripMargin,
    "funnel_steps" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |  JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id)
        |SELECT 1 AS stage, 'signup' AS step, count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'view', count(*) FROM s2
        |UNION ALL SELECT 3, 'click', count(*) FROM s3
        |UNION ALL SELECT 4, 'purchase', count(*) FROM s4
        |ORDER BY stage""".stripMargin,
    "retention_cohort" ->
      """WITH fw AS (
        | SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        | FROM events GROUP BY user_id)
        |SELECT cohort_week,
        | CAST(date_diff('day', cohort_week,
        |   CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT) AS week_offset,
        | count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN fw ON e.user_id = fw.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    "gaps_islands" ->
      """WITH days AS (
        | SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |g AS (SELECT user_id, d,
        | d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS grp
        | FROM days)
        |SELECT user_id, count(*) AS n_days,
        | min(d) AS island_start, max(d) AS island_end
        |FROM g GROUP BY user_id, grp ORDER BY user_id, island_start""".stripMargin)
}
