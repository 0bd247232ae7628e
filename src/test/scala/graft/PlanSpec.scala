package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnalyticOps, CorpusOps, PipelineOps, RelationalOps, SimilarityOps, TextOps}

/** Physical-plan shape guards — the scale contract as assertions.
  *
  * CORRECTNESS is gated by the DuckDB oracle; these tests gate the plan
  * PROPERTIES that make the same queries viable at 100 TB (broadcast
  * stays broadcast, map-only stays shuffle-free, windows stay
  * partitioned, aggregation stays partial). A regression here wouldn't
  * flip a single output row — it would flip the cost model, which no
  * row-level check can see. Plans are inspected pre-execution
  * (`executedPlan` under AQE still exposes exchanges and join modes).
  */
class PlanSpec extends AnyFunSuite with SparkTest {

  /** Spark's CacheManager substitutes InMemoryTableScan for any plan
    * fragment a PREVIOUS suite's query left persisted (e.g. ann_ivf's
    * centroid cache), which changes these plans' shapes depending on
    * suite order — release everything before building each plan so the
    * assertions always see the cold-session shape. */
  private def plan(df: DataFrame): String = {
    graft.api.Caches.release(spark)
    df.queryExecution.executedPlan.toString
  }
  private def exchanges(p: String): Int = "(?m)^.*\\bExchange\\b".r.findAllIn(p).size

  test("join_broadcast builds a broadcast relation, never a shuffle join") {
    val p = plan(RelationalOps.joinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("sample_stratified is map-only: the only exchange is the presentation sort") {
    val p = plan(PipelineOps.sampleStratified(spark, sf))
    assert(exchanges(p) == 1, s"expected 1 exchange, plan:\n$p")
    assert(p.contains("rangepartitioning"))
  }

  test("sequence_pack windows are partitioned by shard, never one global partition") {
    val p = plan(PipelineOps.sequencePack(spark, sf))
    // the running-sum window must carry a PARTITION BY (shard) — a global
    // window shows windowspecdefinition(doc_id ASC ...) with no partition
    // and collapses all rows into a single task at scale
    assert("windowspecdefinition\\(shard#\\d+L, doc_id".r.findFirstIn(p).isDefined,
      s"window not partitioned by shard:\n$p")
  }

  test("corpus_shuffle position window is partitioned by shard, never global") {
    val p = plan(PipelineOps.corpusShuffle(spark, sf))
    assert("windowspecdefinition\\(shard#\\d+L, hk#\\d+L".r.findFirstIn(p).isDefined,
      s"window not partitioned by shard:\n$p")
  }

  test("q1_agg aggregates map-side before the shuffle (partial_sum)") {
    val p = plan(RelationalOps.q1Agg(spark, sf))
    assert(p.contains("partial_sum"))
  }

  test("salted_join: the equi-join key carries the salt; replication is a 16-row broadcast") {
    val p = plan(AnalyticOps.saltedJoin(spark, sf))
    // the join condition must include the salt column — that IS the
    // skew fix (a hot user splits across 16 reducers); matches either
    // join impl (broadcast at test SF, shuffle at scale)
    assert("(?i)join.*\\bsalt#\\d+".r.findFirstIn(p).isDefined,
      s"join key does not carry the salt:\n$p")
    // the dim side replicates via a broadcast of the 16-row salt frame
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"salt replication not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  test("l_diversity: pruned scan, partial distinct-count, broadcast threshold sweep") {
    val p = plan(PipelineOps.lDiversity(spark, sf))
    // column pruning reaches the parquet scan — the class table needs
    // only the two QI columns + the sensitive attribute
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read.exists(s => s.contains("lang") && s.contains("source") &&
      s.contains("n_chars") && !s.contains("text")),
      s"scan not pruned to (lang, source, n_chars):\n$p")
    // the distinct count aggregates map-side (two-level partial)
    assert(p.contains("partial_count"), s"no map-side partials:\n$p")
    // the l sweep joins the metadata-sized class table via broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"threshold sweep not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  test("t_closeness: pruned scan, one corpus aggregate, broadcast cells frame") {
    val p = plan(PipelineOps.tCloseness(spark, sf))
    // the base is persisted pre-projected to (source, len_bucket, lang):
    // the final plan reads the 3-column InMemoryRelation — document text
    // never appears anywhere downstream of the scan
    assert(!p.contains("text#"), s"document text leaked past the base projection:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"no map-side partials:\n$p")
    // lang/total/threshold frames broadcast against metadata-sized tables
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"cells frame not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  test("the dedup/similarity family never degenerates to a cartesian product") {
    Seq[DataFrame](
      TextOps.dedupMinhashPairs(spark, sf),
      TextOps.ngramJaccard(spark, sf),
      TextOps.simhashNeardup(spark, sf),
      TextOps.decontaminate(spark, sf),
      TextOps.decontaminateBloom(spark, sf),
      TextOps.editDistancePairs(spark, sf),
      operators.CorpusOps.passageDedup(spark, sf),
      operators.CorpusOps.boilerplateStrip(spark, sf),
      SimilarityOps.embeddingNeardup(spark, sf),
      operators.GraphOps.triangleCount(spark, sf))
      .foreach { df =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct"),
          s"cartesian product in:\n${p.linesIterator.take(5).mkString("\n")}")
      }
  }

  test("dedup group labeling ends as a broadcast of the labels at runtime") {
    // the corpus side of the final left_outer join is the 100 TB side;
    // the labels side is the edge-touched subgraph, whose size is
    // data-dependent (worst case corpus-sized), so the size decision is
    // deliberately left to AQE rather than a static broadcast hint — the
    // checkpointed labels arrive as a stats-less LogicalRDD and the
    // static plan is a SortMergeJoin. Assert the FINAL adaptive plan:
    // AQE must see the small labels exchange and demote the join to a
    // broadcast, leaving the corpus un-shuffled
    val df = SimilarityOps.embedDedupGroups(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("BroadcastHashJoin"), s"labels join not broadcast at runtime:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("decontaminate_bloom probes a scalar-subquery sketch inside the scan stage") {
    // the bloom probe must sit on the train side BEFORE the shingle
    // equi-join — as a codegen'd might_contain fed by a SCALAR SUBQUERY
    // (Spark's InjectRuntimeFilter shape), not a UDF, not after the
    // shuffle, and NOT a serialized sketch embedded as a foldable
    // binary literal (round-8 shape: a multi-MB literal in every task's
    // generated code once the eval split carries 10⁸+ shingles)
    val p = plan(TextOps.decontaminateBloom(spark, sf))
    assert(p.contains("might_contain"), s"no bloom probe in plan:\n$p")
    assert(p.toLowerCase.contains("subquery"),
      s"bloom sketch is not a scalar subquery:\n$p")
    assert(p.length < 100000,
      s"plan string is ${p.length} chars — a sketch literal leaked into the plan")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF"),
      "bloom probe left whole-stage codegen")
  }

  test("vocab_topk takes the global top-k with per-partition heaps, not a global sort") {
    val p = plan(operators.CorpusOps.vocabTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k became a global sort:\n$p")
  }

  test("bm25_topk: heap-based top-k, no cartesian outside broadcast one-row stats") {
    val p = plan(operators.CorpusOps.bm25Topk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k became a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("source_mix windows are partitioned by source, never one global partition") {
    val p = plan(operators.CorpusOps.sourceMix(spark, sf))
    assert(p.contains("hashpartitioning(source"), s"window not partitioned by source:\n$p")
    assert(!p.contains("SinglePartition"), s"global single-partition window:\n$p")
  }

  test("agg_grouping_sets is one scan + Expand, never one scan per set") {
    val p = plan(RelationalOps.aggGroupingSets(spark, sf))
    assert(p.contains("Expand"), s"no Expand in plan:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1, s"expected a single scan:\n$p")
    assert(p.contains("partial_count"), "aggregation lost its map-side phase")
  }

  test("kmeans_assign combines map-side: centroids broadcast, one row per vector shuffles") {
    val p = plan(operators.SimilarityOps.kmeansAssign(spark, sf))
    // both assignment rounds: corpus ⨯ broadcast(K centroids), nearest
    // centroid folded by a partial min BEFORE the vec_id exchange — the
    // shuffle carries one row per vector, never K
    assert("partial_min".r.findAllIn(p).size == 2, s"missing map-side min:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"))
    assert(!p.contains("SortMergeJoin"), s"corpus-sized join appeared:\n$p")
  }

  test("topk_similarity scans without any pre-aggregation shuffle of the corpus") {
    val p = plan(SimilarityOps.topkSimilarity(spark, sf))
    // scan → project(dot) → top-k: the only exchanges are the final
    // ordering/limit, never a hash repartition of the embeddings table
    assert(!p.contains("hashpartitioning"), s"unexpected hash shuffle:\n$p")
  }

  test("exists_subquery decorrelates to semi + anti hash joins, never a per-row probe") {
    // Catalyst's RewritePredicateSubquery must turn the correlated
    // EXISTS into a left-semi and the NOT EXISTS into a left-anti join
    // — at 100 TB these are two shuffles (or broadcasts) on o_custkey,
    // not a re-executed subquery per customer row
    val p = plan(RelationalOps.existsSubquery(spark, sf))
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("subquery_pack rewrites scalar subqueries to aggregate joins") {
    // each correlated scalar aggregate becomes ONE aggregate-then-join;
    // the IN predicate becomes a semi join — no nested-loop re-execution
    val p = plan(RelationalOps.subqueryPack(spark, sf))
    assert(p.contains("LeftSemi"), s"IN did not become a semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"scalar subquery left as a nested-loop probe:\n$p")
  }

  test("winnow_fingerprints window is partitioned by doc_id, never global") {
    val p = plan(operators.CorpusOps.winnowFingerprints(spark, sf))
    assert("windowspecdefinition\\(doc_id#\\d+L, pos#\\d+".r.findFirstIn(p).isDefined,
      s"winnow window not partitioned by doc_id:\n$p")
  }

  test("stats_pack collects all six moments in one scan with map-side partials") {
    val p = plan(AnalyticOps.statsPack(spark, sf))
    assert(p.contains("partial_sum"), "moment sums lost their map-side phase")
    assert("FileScan".r.findAllIn(p).size == 1, s"expected a single events scan:\n$p")
  }

  test("pii_scrub counts and redacts inside the scan stage: map-only to the sort") {
    val p = plan(TextOps.piiScrub(spark, sf))
    assert(exchanges(p) == 1, s"expected only the presentation sort exchange:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF"),
      "regex pipeline left whole-stage codegen")
  }

  test("q3_sql via spark.sql plans like the DataFrame path: pushed filter, top-k, no global sort") {
    val p = plan(RelationalOps.q3Sql(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"LIMIT 10 became a global sort:\n$p")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed into the customer scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("array_pack evaluates its lambdas in-row: no explode, map-only to the sort") {
    val p = plan(AnalyticOps.arrayPack(spark, sf))
    assert(!p.contains("Generate "), s"higher-order fns fell back to explode:\n$p")
    assert(exchanges(p) == 1, s"expected only the presentation sort exchange:\n$p")
  }

  test("tfidf_embedding runs ONE token explode, not one per consuming branch") {
    // tf feeds both the df aggregate and the final join; without the
    // eager persist Catalyst plans two full scan+explode+agg pipelines
    // (no exchange reuse across the branches) — at 100 TB that doubles
    // the dominant corpus scan. Walk the plan TREE, not its string: the
    // InMemoryRelation pretty-print embeds its cached plan (which holds
    // the one legitimate explode), but InMemoryTableScanExec is a leaf,
    // so any GenerateExec reachable by collect() is a real re-explode.
    graft.api.Caches.release(spark) // cold-session shape (see plan())
    val exec = PipelineOps.tfidfEmbedding(spark, sf).queryExecution.executedPlan
    val generates = exec.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.isEmpty,
      s"token explode planned outside the cached tf:\n$exec")
    assert(exec.toString.contains("InMemoryTableScan"), "tf cache not used")
  }

  test("lateral_topk decorrelates: hash join + window rank, never a nested loop") {
    val p = plan(RelationalOps.lateralTopk(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral join did not decorrelate:\n$p")
    assert(p.contains("Window"), "expected the rank window in the decorrelated plan")
  }

  test("scd2_intervals shares one user_id exchange across both window passes") {
    val p = plan(graft.operators.EventOps.scd2Intervals(spark, sf))
    // change-detect (lag) + stitch (lead/row_number) + presentation sort:
    // anything beyond [user_id hash, final range] means the windows
    // stopped reusing the child partitioning
    assert(exchanges(p) == 2, s"expected 2 exchanges, plan:\n$p")
  }

  test("hard_negatives broadcasts the anchors and salts the first top-k phase") {
    val p = plan(SimilarityOps.hardNegatives(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"anchor side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus×anchors went cartesian:\n$p")
    // two Window operators: the salted local rank and the final rank
    assert("\\bWindow\\b".r.findAllIn(p).size == 2,
      s"expected the two-phase top-k windows:\n$p")
  }

  test("data-dependent broadcasts fall back to shuffle above the row gate (round-10 #3)") {
    // The candidate-doc semi-filter lists and the hard-negative anchors
    // are the library's only forced broadcasts whose size is
    // corpus-dependent; they must adopt the CC local-ceiling pattern —
    // broadcast under the conf gate, shuffle above it. Spark's
    // autoBroadcastJoinThreshold is disabled for both shapes so the
    // assertion sees OUR hint (or its absence), not the optimizer's own
    // small-table choice at toy SF.
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val autoPrev = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "-1")
    try {
      // under the gate (default 1M rows): the hint fires
      val pOn = plan(TextOps.docEmbedSimilarity(spark, sf))
      assert(pOn.contains("BroadcastExchange"),
        s"candidate lists not broadcast under the gate:\n$pOn")
      val hOn = plan(SimilarityOps.hardNegatives(spark, sf))
      assert(hOn.contains("BroadcastNestedLoopJoin") || hOn.contains("BroadcastHashJoin"),
        s"anchors not broadcast under the gate:\n$hOn")
      // gate forced to 0: no forced broadcast anywhere — the semi-joins
      // shuffle, the anchor cross join distributes both sides
      spark.conf.set(graft.api.GraftConfig.BroadcastGateKey, "0")
      val pOff = plan(TextOps.docEmbedSimilarity(spark, sf))
      assert(!pOff.contains("BroadcastExchange"),
        s"gate=0 must strip the candidate-list broadcast:\n$pOff")
      val hOff = plan(SimilarityOps.hardNegatives(spark, sf))
      assert(!hOff.contains("BroadcastNestedLoopJoin") && !hOff.contains("BroadcastExchange"),
        s"gate=0 must strip the anchor broadcast:\n$hOff")
    } finally {
      spark.conf.unset(graft.api.GraftConfig.BroadcastGateKey)
      spark.conf.set(autoKey, autoPrev)
    }
  }

  test("perplexity vocab broadcast is gated: hint under the gate, token-keyed shuffle above") {
    // r17 verdict item 2: vocab is data-dependent (type count grows with
    // web noise), so its broadcast must ride the shared row gate like
    // hard_negatives' anchors — never a forced broadcast at any size.
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val autoPrev = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "-1")
    try {
      val pOn = plan(CorpusOps.perplexityScore(spark, sf))
      assert(pOn.contains("BroadcastExchange"),
        s"vocab not broadcast under the gate:\n$pOn")
      spark.conf.set(graft.api.GraftConfig.BroadcastGateKey, "0")
      val pOff = plan(CorpusOps.perplexityScore(spark, sf))
      assert(!pOff.contains("BroadcastExchange"),
        s"gate=0 must degrade the vocab join to a token-keyed shuffle:\n$pOff")
    } finally {
      spark.conf.unset(graft.api.GraftConfig.BroadcastGateKey)
      spark.conf.set(autoKey, autoPrev)
    }
  }

  test("q5_revenue: date filter pushed to the orders scan, no cartesian in the 6-way tree") {
    val p = plan(RelationalOps.q5RevenueByNation(spark, sf))
    assert(!p.contains("CartesianProduct"), s"6-way join went cartesian:\n$p")
    // the one-year window must reach the orders parquet scan as a pushed
    // filter, not evaluate post-join
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"date filter not pushed into the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"fixed dims not broadcast:\n$p")
  }

  test("cdc_chunk is map-only: the only exchange is the presentation sort") {
    val p = plan(graft.operators.MiningOps.cdcChunk(spark, sf))
    assert(exchanges(p) == 1, s"expected only the sort exchange, plan:\n$p")
    assert(!p.contains("Generate"),
      s"chunk geometry must stay in-row (no explode of the token array):\n$p")
  }

  test("cdc_dedup explodes only chunk hashes and takes a heap-based top-k") {
    val p = plan(graft.operators.MiningOps.cdcDedup(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be per-partition heaps, not a global sort:\n$p")
  }

  test("temperature_mix collapses to per-source rows before any float math") {
    val p = plan(graft.operators.MiningOps.temperatureMix(spark, sf))
    // partial aggregation on the scan side of the one data shuffle
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"expected map-side partial aggregation:\n$p")
  }

  test("winsorize_values clips via a broadcast cuts join, never a shuffle join") {
    val p = plan(AnalyticOps.winsorizeValues(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"cuts must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join for 5 cut rows:\n$p")
  }

  test("quantile_bins never globally sorts the data side (cuts broadcast, bins aggregate)") {
    val p = plan(AnalyticOps.quantileBins(spark, sf))
    // the one rangepartitioning exchange is the ≤10-row presentation
    // sort; an ntile spelling would range-partition the full data side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"1-row cuts must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"per-bin stats must map-side combine:\n$p")
  }

  test("autoSalt rule: diagnostic registers the hot key, rewrite salts the join, output bit-identical") {
    import org.apache.spark.sql.functions._
    import graft.plans.{AutoSalt, AutoSaltRule}
    // production wiring goes through GraftExtensions.injectOptimizerRule;
    // the shared test session predates extension install, so inject the
    // SAME rule instance through experimental.extraOptimizations (both
    // paths land in the one user-rule optimizer batch)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ AutoSaltRule(spark)
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // constructed hot key: 80% of fact rows carry user_id=7
      val fact = spark.range(50000).select(
        when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id") % 97).as("user_id"),
        col("id").as("event_id"))
      val dim = spark.range(97).select(col("id").as("user_id"),
        (col("id") * 3).as("weight"))
      // the heavy_hitters-shaped diagnostic measures the share and registers
      val share = AutoSalt.analyzeAndRegister(spark, fact, "user_id")
      assert(share > 50.0, s"constructed skew should exceed 50%, got $share")
      assert(spark.conf.get(AutoSalt.KeyPrefix + "user_id") ==
        AutoSalt.DefaultBuckets.toString)
      def q() = fact.join(dim, "user_id")
        .groupBy("user_id").agg(sum("weight").as("w"), count(lit(1)).as("n"))
      // flag off: plans untouched even with the key registered
      val off = q()
      assert(!off.queryExecution.optimizedPlan.toString.contains("__graft_salt"))
      val offRows = off.collect().map(_.toString).sorted.toSeq
      spark.conf.set(AutoSalt.EnabledKey, "true")
      val on = q()
      val p = on.queryExecution.optimizedPlan.toString
      assert(p.contains("__graft_salt_f"), s"fact salt missing:\n$p")
      assert(p.contains("__graft_salt_d"), s"dim replication missing:\n$p")
      assert(p.toLowerCase.contains("explode"), s"dim must replicate via explode:\n$p")
      // the physical join keys must WIDEN to (user_id, salt) — that is
      // the whole point: the hot key spreads over the salt buckets
      val phys = on.queryExecution.executedPlan.toString
      assert("(SortMergeJoin|ShuffledHashJoin) \\[user_id#\\d+L, __graft_salt_f#\\d+L\\]".r
        .findFirstIn(phys).isDefined, s"join keys not widened:\n$phys")
      // bit parity: the salted plan is the same query
      assert(on.collect().map(_.toString).sorted.toSeq == offRows)
      // an UNregistered key stays untouched even with the flag on
      val other = fact.withColumnRenamed("user_id", "uid")
        .join(dim.withColumnRenamed("user_id", "uid"), "uid")
      assert(!other.queryExecution.optimizedPlan.toString.contains("__graft_salt"))
      // a broadcast-sized dim never salts: no shuffle exists to skew
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1L << 30).toString)
      assert(!q().queryExecution.optimizedPlan.toString.contains("__graft_salt"))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[AutoSaltRule])
      spark.conf.unset(AutoSalt.EnabledKey)
      spark.conf.unset(AutoSalt.KeyPrefix + "user_id")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("autoSalt aggregate rewrite: two-phase (key, salt) partial + final merge, bit-identical") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import graft.plans.{AutoSalt, AutoSaltRule}
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ AutoSaltRule(spark)
    try {
      // constructed hot key: 80% of rows carry user_id=7
      val fact = spark.range(50000).select(
        when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id") % 97).as("user_id"),
        col("id").as("event_id"),
        (col("id") % 1000).cast("decimal(18,2)").as("amount"))
      spark.conf.set(AutoSalt.KeyPrefix + "user_id", "16")
      // collect_list is THE case the rewrite exists for: its partial
      // state is the data itself, so a hot key funnels every element
      // through one reducer; count/sum/min/max ride along exactly
      def q() = fact.groupBy("user_id").agg(
        count(lit(1)).as("n"), sum(col("event_id")).as("s"),
        min(col("event_id")).as("mn"), max(col("event_id")).as("mx"),
        sum(col("amount")).as("amt"), collect_list(col("event_id")).as("cl"))
        .select(col("user_id"), col("n"), col("s"), col("mn"), col("mx"),
          col("amt"), sort_array(col("cl")).as("cl"))
      val offRows = q().collect().map(_.toString).sorted.toSeq
      spark.conf.set(AutoSalt.EnabledKey, "true")
      val on = q()
      val optimized = on.queryExecution.optimizedPlan
      assert(optimized.toString.contains("__graft_salt_a"),
        s"aggregate not salted:\n$optimized")
      val aggs = optimized.collect { case a: Aggregate => a }
      assert(aggs.size == 2, s"expected partial+final Aggregate pair:\n$optimized")
      assert(aggs.exists(_.groupingExpressions.size == 2),
        s"partial must group by (user_id, salt):\n$optimized")
      assert(on.collect().map(_.toString).sorted.toSeq == offRows,
        "salted two-phase aggregate diverged from the plain group-by")
      // double sums are excluded (order-sensitive addition) even when a
      // holistic agg qualifies the node: untouched
      val dbl = fact.groupBy("user_id")
        .agg(sum(col("event_id").cast("double")).as("ds"),
          collect_list(col("event_id")).as("cl"))
      assert(!dbl.queryExecution.optimizedPlan.toString.contains("__graft_salt"),
        "sum(double) must not be re-associated by the salted rewrite")
      // DISTINCT aggregates are excluded: untouched
      val dst = fact.groupBy("user_id").agg(countDistinct(col("event_id")).as("d"),
        collect_list(col("event_id")).as("cl"))
      assert(!dst.queryExecution.optimizedPlan.toString.contains("__graft_salt"))
      // purely ALGEBRAIC aggregates never rewrite: map-side combine
      // already collapses the hot key, salting would be pure overhead
      val alg = fact.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      assert(!alg.queryExecution.optimizedPlan.toString.contains("__graft_salt"),
        "algebraic-only aggregates must stay untouched")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[AutoSaltRule])
      spark.conf.unset(AutoSalt.EnabledKey)
      spark.conf.unset(AutoSalt.KeyPrefix + "user_id")
    }
  }

  test("autoSalt outer joins: inner-union-anti decomposition, parity on left/right/full") {
    import org.apache.spark.sql.functions._
    import graft.plans.{AutoSalt, AutoSaltRule}
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ AutoSaltRule(spark)
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // hot key 7; fact keys 999xx have NO dim match (left null-extension);
      // dim key 5000 has NO fact rows (right null-extension)
      val fact = spark.range(40000).select(
        when(col("id") % 5 =!= 0, lit(7L))
          .when(col("id") % 5 === 0 && col("id") % 25 === 0, col("id") % 7 + 99900L)
          .otherwise(col("id") % 97).as("user_id"),
        col("id").as("event_id"))
      val dim = spark.range(98).select(
        when(col("id") === 97, lit(5000L)).otherwise(col("id")).as("user_id"),
        (col("id") * 3).as("weight"))
      spark.conf.set(AutoSalt.KeyPrefix + "user_id", "16")
      for (jt <- Seq("left_outer", "right_outer", "full_outer")) {
        def q() = fact.join(dim, fact("user_id") === dim("user_id"), jt)
          .select(fact("user_id").as("fu"), col("event_id"),
            dim("user_id").as("du"), col("weight"))
        spark.conf.set(AutoSalt.EnabledKey, "false")
        val offRows = q().collect().map(_.toString).sorted.toSeq
        spark.conf.set(AutoSalt.EnabledKey, "true")
        val on = q()
        val p = on.queryExecution.optimizedPlan.toString
        assert(p.contains("__graft_salt"), s"$jt not salted:\n$p")
        assert(p.contains("Union"), s"$jt missing the anti-union decomposition:\n$p")
        assert(p.contains("LeftAnti") || p.contains("left_anti"),
          s"$jt missing the salted anti branch:\n$p")
        val onRows = on.collect().map(_.toString).sorted.toSeq
        assert(onRows == offRows,
          s"salted $jt diverged: ${onRows.size} vs ${offRows.size} rows")
      }
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[AutoSaltRule])
      spark.conf.unset(AutoSalt.EnabledKey)
      spark.conf.unset(AutoSalt.KeyPrefix + "user_id")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("autoSalt sketch registration decides exactly like the exact pass") {
    import org.apache.spark.sql.functions._
    import graft.plans.AutoSalt
    def cleanup(): Unit = Seq("user_id", "event_type", "uid").foreach(k =>
      spark.conf.unset(AutoSalt.KeyPrefix + k))
    try {
      // constructed skew: far above threshold — both must register
      val hot = spark.range(60000).select(
        when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id") % 997).as("uid"))
      val exactShare = AutoSalt.analyzeAndRegister(spark, hot, "uid")
      val exactReg = spark.conf.getOption(AutoSalt.KeyPrefix + "uid").isDefined
      cleanup()
      val skShare = AutoSalt.analyzeAndRegisterSketch(spark, hot, "uid")
      val skReg = spark.conf.getOption(AutoSalt.KeyPrefix + "uid").isDefined
      assert(exactReg && skReg, "hot fixture must register under both passes")
      // Misra-Gries underestimates by at most N/counters (100/512 pct)
      assert(skShare <= exactShare + 1e-9 && skShare >= exactShare - 100.0 / 512 - 1e-9,
        s"sketch share $skShare outside MG bound of exact $exactShare")
      cleanup()
      // uniform fixture: far below threshold — neither registers
      val flat = spark.range(50000).select(col("id").as("uid"))
      AutoSalt.analyzeAndRegister(spark, flat, "uid")
      val exactFlat = spark.conf.getOption(AutoSalt.KeyPrefix + "uid").isDefined
      AutoSalt.analyzeAndRegisterSketch(spark, flat, "uid")
      val skFlat = spark.conf.getOption(AutoSalt.KeyPrefix + "uid").isDefined
      assert(!exactFlat && !skFlat, "uniform fixture must register under neither")
      cleanup()
      // driver tables: the two passes agree on both event columns
      val ev = graft.model.Tables.events(spark, sf)
      for (c <- Seq("user_id", "event_type")) {
        AutoSalt.analyzeAndRegister(spark, ev, c)
        val e = spark.conf.getOption(AutoSalt.KeyPrefix + c).isDefined
        spark.conf.unset(AutoSalt.KeyPrefix + c)
        AutoSalt.analyzeAndRegisterSketch(spark, ev, c)
        val s = spark.conf.getOption(AutoSalt.KeyPrefix + c).isDefined
        assert(e == s, s"sketch and exact disagree on events.$c: exact=$e sketch=$s")
        spark.conf.unset(AutoSalt.KeyPrefix + c)
      }
    } finally cleanup()
  }

  test("autoSalt registration is RELATION-scoped: a same-named key on another table never salts") {
    import org.apache.spark.sql.functions._
    import graft.plans.{AutoSalt, AutoSaltRule}
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ AutoSaltRule(spark)
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val base = java.nio.file.Files.createTempDirectory("autosalt_scope").toString
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // two FILE-backed tables sharing the key name: `hot` is 80% one key,
      // `flat` is uniform — the skew lives in ONE relation only
      spark.range(50000).select(
          when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id") % 97).as("user_id"),
          col("id").as("event_id"))
        .write.parquet(s"$base/hot")
      spark.range(50000).select((col("id") % 997).as("user_id"),
          col("id").as("event_id"))
        .write.parquet(s"$base/flat")
      val hot = spark.read.parquet(s"$base/hot")
      val flat = spark.read.parquet(s"$base/flat")
      val dim = spark.range(997).select(col("id").as("user_id"),
        (col("id") * 3).as("weight"))
      val share = AutoSalt.analyzeAndRegister(spark, hot, "user_id")
      assert(share > 50.0)
      // the registration must carry the relation fingerprint
      val reg = spark.conf.get(AutoSalt.KeyPrefix + "user_id")
      assert(reg.contains("@"), s"file-backed registration must be fingerprinted, got: $reg")
      spark.conf.set(AutoSalt.EnabledKey, "true")
      // the MEASURED table's join salts...
      val pHot = hot.join(dim, "user_id").groupBy("user_id")
        .agg(sum("weight").as("w")).queryExecution.optimizedPlan.toString
      assert(pHot.contains("__graft_salt"), s"registered relation must salt:\n$pHot")
      // ...the other table's same-named join does NOT (the S× dim
      // replication it would pay was never measured as needed)
      val pFlat = flat.join(dim, "user_id").groupBy("user_id")
        .agg(sum("weight").as("w")).queryExecution.optimizedPlan.toString
      assert(!pFlat.contains("__graft_salt"),
        s"unmeasured relation with same key name must stay unsalted:\n$pFlat")
      // a RE-READ of the measured table (new DataFrame, new expr ids)
      // still matches: the fingerprint is the table identity, not the df
      val pHot2 = spark.read.parquet(s"$base/hot").join(dim, "user_id")
        .groupBy("user_id").agg(sum("weight").as("w"))
        .queryExecution.optimizedPlan.toString
      assert(pHot2.contains("__graft_salt"), s"re-read of measured table must salt:\n$pHot2")
      // a manual (fingerprint-less) registration keeps legacy name scope
      spark.conf.set(AutoSalt.KeyPrefix + "user_id", "16")
      val pFlatLegacy = flat.join(dim, "user_id").groupBy("user_id")
        .agg(sum("weight").as("w")).queryExecution.optimizedPlan.toString
      assert(pFlatLegacy.contains("__graft_salt"),
        "manual bare-buckets registration must keep name scope")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[AutoSaltRule])
      spark.conf.unset(AutoSalt.EnabledKey)
      spark.conf.unset(AutoSalt.KeyPrefix + "user_id")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
