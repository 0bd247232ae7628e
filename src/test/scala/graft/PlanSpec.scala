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
}
