package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.api.Caches
import graft.model.Tables

/** Training-data pipeline ASSEMBLY operators (north-star extensions,
  * SURVEY.md §2.3 family): the steps that turn a deduplicated corpus into
  * a training set — deterministic stratified sampling, hash-based
  * train/val/test splits, TF-IDF featurization, and fixed-budget sequence
  * packing.
  *
  * Everything is hash-deterministic rather than RNG-based: at 100 TB a
  * sample/split must be stable under task retries, re-runs, and
  * repartitioning, so membership is a pure function of the row key
  * (`md5(seed || doc_id)`), never `rand()`. That also makes every one of
  * these oracle-checkable in DuckDB with the same expression.
  */
object PipelineOps {

  /** First 7 md5 hex digits of `seed:doc_id` as a bigint in [0, 2^28) —
    * the same 28-bit construction as TextOps token hashes (fits i32 in
    * both engines). */
  private[operators] def keyHash(seed: String, idCol: String = "doc_id"): Column =
    expr(s"cast(conv(substring(md5(concat('$seed:', cast($idCol as string))), 1, 7), 16, 10) as bigint)")

  private[operators] def keyHashSql(seed: String, idCol: String = "doc_id"): String =
    s"CAST(CAST('0x' || substr(md5('$seed:' || CAST($idCol AS VARCHAR)), 1, 7) AS INTEGER) AS BIGINT)"

  // ------------------------------------------------------------- sampling
  /** Per-language keep-rates (percent). Downsamples the dominant
    * languages — the standard corpus-rebalancing move. The SQL oracle is
    * GENERATED from this map, so the two engines cannot drift. */
  private[operators] val SampleRates: Seq[(String, Int)] =
    Seq("en" -> 30, "zh" -> 50)
  private val SampleDefaultRate = 80

  /** Deterministic stratified sampling: keep a doc iff
    * `hash(doc_id) % 100 < rate(lang)`. A pure per-row filter — no
    * shuffle, no RNG state, retry-stable, pushed down to the scan;
    * at 100 TB this is a map-only pass. */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = SampleRates.foldRight(lit(SampleDefaultRate): Column) {
      case ((lang, r), other) => when(col("lang") === lang, lit(r)).otherwise(other)
    }
    Tables.fannedDocuments(spark, sfDir)
      .filter((keyHash("smp") % 100) < rate)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- quota sample
  /** Docs kept per source by [[quotaSample]]. */
  private[operators] val QuotaPerSource = 10

  /** Salt buckets for the local top-k phase — parallelism during the
    * first pass is sources × salts, not just sources. */
  private val QuotaSalts = 4

  /** EXACT per-group quota sampling: the [[QuotaPerSource]] docs with the
    * smallest `md5(seed:doc_id)` per source — uniform-without-replacement
    * with an exact group budget, where [[sampleStratified]]'s Bernoulli
    * filter only hits its rate in expectation. The complement pair every
    * corpus builder needs: rates when proportions matter, quotas when
    * budgets do.
    *
    * Scale shape: a window partitioned by source alone would bound
    * parallelism at the source count (the trailing-window lesson), so
    * rank runs in TWO phases — local top-k per (source, salt) keeps
    * ≤ quota rows per bucket, the global rank sees at most
    * sources × salts × quota survivors. Any doc in a source's true
    * top-k is also in its salt bucket's top-k, so the two-phase result
    * is exactly the one-window result — which is what the oracle
    * states. */
  def quotaSample(spark: SparkSession, sfDir: String): DataFrame = {
    val local = Window
      .partitionBy(col("source"), pmod(col("doc_id"), lit(QuotaSalts.toLong)))
      .orderBy(col("hk"), col("doc_id"))
    val global = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
    Tables.fannedDocuments(spark, sfDir)
      .select(col("doc_id"), col("source"), keyHash("qta").as("hk"))
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= QuotaPerSource)
      .withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= QuotaPerSource)
      .select(col("doc_id"), col("source"), col("rank"))
      .orderBy("source", "rank")
  }

  // ------------------------------------------------------ bottom-k sample
  /** Rows kept by [[bottomkSample]]. */
  private[operators] val BottomK = 100

  /** Bottom-k hash sampling: the k docs with the SMALLEST seeded hash —
    * an exact uniform sample WITHOUT replacement (each doc's hash is a
    * fixed uniform draw, so the k smallest are a uniform k-subset),
    * reproducible under retries/re-runs and MERGEABLE: the bottom-k of
    * a union is the bottom-k of the parts' bottom-ks, which is why this
    * is the sampling shape a 100 TB pipeline ships (per-shard heaps +
    * one k-row driver merge — here literally Spark's
    * TakeOrderedAndProject, no global sort, no second scan; contrast
    * `sample_stratified`'s rate filter, which needs no k but only hits
    * its size in expectation). doc_id tiebreak makes the cut total. */
  def bottomkSample(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("hk"), col("doc_id"))
    Tables.fannedDocuments(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"), keyHash("btk").as("hk"))
      .orderBy(col("hk"), col("doc_id"))
      .limit(BottomK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("lang"), col("hk"))
      .orderBy("rank")
  }

  // -------------------------------------------- weighted (A-Res) sampling
  /** Rows kept by [[weightedSample]]. */
  private[operators] val WeightedK = 100

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-Res):
    * each doc draws key = u^(1/w), u its fixed hash-uniform draw and
    * w = n_chars; the k LARGEST keys are a weighted k-subset whose
    * inclusion probability rises with w — the "sample by length/token
    * budget" cut a curation pipeline uses when long documents should
    * anchor an eval slice ([[bottomkSample]] is the unweighted special
    * case w ≡ const). Same deployment virtues as bottom-k:
    * deterministic under retries/re-runs, and MERGEABLE — the A-Res
    * keys make top-k of a union = top-k of the parts' top-ks, so the
    * plan is per-shard heaps + one k-row driver merge (literally
    * TakeOrderedAndProject; no global sort, no RNG state). Cross-engine
    * determinism: the key is the IDENTICAL exp(ln(u)/w) chain both
    * sides, round-6, doc_id tiebreak. */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val u = (keyHash("wks") + lit(0.5)) / lit(268435456.0)
    val wkey = round(exp(log(u) / col("n_chars").cast("double")), 6)
    val w = Window.orderBy(col("wkey").desc, col("doc_id"))
    Tables.fannedDocuments(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), wkey.as("wkey"))
      .orderBy(col("wkey").desc, col("doc_id"))
      .limit(WeightedK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_chars"), col("wkey"))
      .orderBy("rank")
  }

  // ---------------------------------------------------- dp stats release
  /** Laplace scale for [[dpCounts]] — sensitivity 1 (one doc moves one
    * per-source count by one) over ε = 0.1. */
  private[operators] val DpLaplaceScale = 10.0

  /** Laplace-noised corpus stats release: per-source doc counts with
    * Laplace(Δ/ε)-SHAPED noise — the MECHANISM of a differentially
    * private release (what a data owner publishes about a 100 TB corpus
    * without exposing exact membership), demonstrated with a noise
    * source that is deliberately NOT private. The noise is
    * DETERMINISTIC — inverse-CDF over a hash-uniform
    * `u = (md5₂₈(seed:source) + 0.5) / 2²⁸` with the PUBLIC seed "dp" —
    * so the release is reproducible under task retries and re-runs (a
    * re-sampled release would leak through averaging) and
    * oracle-checkable. THE PRIVACY CAVEAT (ADVICE round 10): noise that
    * is a deterministic function of public constants provides ZERO
    * actual privacy — any reader can recompute `u` and subtract the
    * noise exactly. A production ε = 0.1 deployment keeps this exact
    * pipeline shape and swaps the literal seed for a SECRET key held by
    * the data owner (deterministic noise is private iff its seed is
    * private — a keyed PRF is the standard construction); the query is
    * the plumbing + determinism demonstration, not a privacy guarantee.
    * u is a dyadic rational, so every step before the final `ln` is
    * exact in double on both engines. One map-side-combined aggregate
    * (one row per source shuffles) + a per-row noise expression. */
  def dpCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fannedDocuments(spark, sfDir)
      .groupBy(col("source")).agg(count(lit(1)).cast("double").as("n"))
      .withColumn("u", (keyHash("dp", "source") + lit(0.5)) / lit(268435456.0))
      .select(col("source"),
        round(col("n") - lit(DpLaplaceScale) * signum(col("u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)), 6).as("dp_n_docs"))
      .orderBy("source")

  /** K-anonymity thresholds swept by [[kAnonymity]]; both oracle sides
    * are generated from this list. */
  private[operators] val KAnonThresholds = Seq(2, 5, 10)

  /** K-ANONYMITY release report — the check run before publishing a
    * dataset with quasi-identifier columns: under the quasi-identifier
    * tuple (lang, source, length bucket), how many equivalence classes
    * have fewer than k members and how many records would need
    * suppression to reach each k. One groupBy builds the class-size
    * table (map-side combinable, classes ≤ |lang|×|source|×buckets —
    * metadata-sized); the k sweep is a ≤3-row broadcast cross joined
    * against it, and the total is a 1-row broadcast — the whole report
    * costs one corpus aggregate at any scale. Thresholds LEFT-join the
    * verdict so a fully-anonymous corpus still reports its zero rows. */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val classes = Tables.fannedDocuments(spark, sfDir)
      .groupBy(col("lang"), col("source"),
        floor(col("n_chars") / 100L).as("len_bucket"))
      .agg(count(lit(1)).as("sz"))
    val total = classes.agg(sum(col("sz")).as("n_total"))
    val ks = KAnonThresholds.toDF("k")
    val viol = ks.crossJoin(classes)
      .filter(col("sz") < col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("violating_classes"),
        sum(col("sz")).as("suppressed_records"))
    ks.join(viol, Seq("k"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("k"),
        coalesce(col("violating_classes"), lit(0L)).as("violating_classes"),
        coalesce(col("suppressed_records"), lit(0L)).as("suppressed_records"),
        round(coalesce(col("suppressed_records"), lit(0L)).cast("double") /
          col("n_total").cast("double"), 6).as("suppressed_frac"))
      .orderBy("k")
  }

  /** L-diversity thresholds swept by [[lDiversity]]; both oracle sides
    * are generated from this list. */
  private[operators] val LDivThresholds = Seq(2, 3)

  /** L-DIVERSITY release report — [[kAnonymity]]'s companion privacy
    * gate (round-13 VERDICT #6): a class can be k-anonymous yet still
    * reveal its members' sensitive value when every member SHARES it
    * (the homogeneity attack k-anonymity misses). Under the
    * quasi-identifier pair (source, length bucket) with `lang` as the
    * sensitive attribute, a class is l-diverse when its members span
    * ≥ l distinct langs; the report counts classes below each
    * l ∈ [[LDivThresholds]] and the records they expose. Same scale
    * shape as kAnonymity: ONE corpus aggregate builds the class table
    * (the distinct-count partials collapse over (QI, lang) map-side;
    * classes ≤ |source|×buckets — metadata-sized), the l sweep is a
    * 2-row broadcast against it, the total a 1-row broadcast.
    * Thresholds LEFT-join the verdict so a fully-diverse corpus still
    * reports its zero rows. */
  def lDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val classes = Tables.fannedDocuments(spark, sfDir)
      .groupBy(col("source"), floor(col("n_chars") / 100L).as("len_bucket"))
      .agg(count(lit(1)).as("sz"), countDistinct(col("lang")).as("n_langs"))
    val total = classes.agg(sum(col("sz")).as("n_total"))
    val ls = LDivThresholds.toDF("l")
    val viol = ls.crossJoin(classes)
      .filter(col("n_langs") < col("l"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("violating_classes"),
        sum(col("sz")).as("exposed_records"))
    ls.join(viol, Seq("l"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("l"),
        coalesce(col("violating_classes"), lit(0L)).as("violating_classes"),
        coalesce(col("exposed_records"), lit(0L)).as("exposed_records"),
        round(coalesce(col("exposed_records"), lit(0L)).cast("double") /
          col("n_total").cast("double"), 6).as("exposed_frac"))
      .orderBy("l")
  }

  /** T-closeness thresholds swept by [[tCloseness]]. */
  private[operators] val TCloseThresholds = Seq(0.2, 0.35, 0.5)

  /** T-CLOSENESS release report — the third gate of the privacy trio
    * (k-anonymity → l-diversity → t-closeness): l-diversity can hold
    * while a class's sensitive-value DISTRIBUTION still leaks (a class
    * that is 99% one lang is 2-diverse yet nearly homogeneous).
    * Per equivalence class under (source, length-bucket), the total
    * variation distance between the class's `lang` distribution and the
    * corpus-wide one — TVD = ½ Σ|p−q|, the categorical Earth-Mover
    * distance under a uniform ground metric (Li et al.'s t-closeness);
    * report classes with TVD > t per t ∈ [[TCloseThresholds]].
    *
    * Determinism (the kmeans-inertia discipline): each |p−q| term is
    * round-6 then summed as exact DECIMAL — double sums are
    * order-dependent, decimal sums are not, so both engines agree
    * bit-for-bit. Scale shape: one (QI, lang) aggregate (map-side
    * combined; output ≤ classes×|lang| — metadata), the global lang
    * frame and the 3-row threshold frame broadcast; absent (class,
    * lang) combinations are restored by a broadcast lang×class join so
    * a missing lang contributes its full q mass to the distance. */
  def tCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val base = Tables.fannedDocuments(spark, sfDir)
      .select(col("source"), floor(col("n_chars") / 100L).as("len_bucket"),
        col("lang"))
      .transform(Caches.materialize)
    val clsLang = base.groupBy(col("source"), col("len_bucket"), col("lang"))
      .agg(count(lit(1)).as("n_cl"))
    val cls = base.groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_c"))
    val globalLang = base.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    // sum over the class table (NULL on empty input → null fractions,
    // the k_anonymity empty-corpus convention, stated identically in SQL)
    val totalN = cls.agg(sum(col("n_c")).as("n_total"))
    // every (class, lang) cell — langs a class lacks contribute |0 − q|
    val cells = cls.crossJoin(broadcast(globalLang)).crossJoin(broadcast(totalN))
      .join(clsLang, Seq("source", "len_bucket", "lang"), "left_outer")
      .select(col("source"), col("len_bucket"), col("n_c"),
        round(abs(coalesce(col("n_cl"), lit(0L)).cast("double") / col("n_c").cast("double")
          - col("n_l").cast("double") / col("n_total").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("d"))
    val tvd = cells.groupBy(col("source"), col("len_bucket"), col("n_c"))
      .agg((sum(col("d")).cast("double") / lit(2.0)).as("tvd"))
    val ts = TCloseThresholds.toDF("t")
    val viol = ts.crossJoin(tvd)
      .filter(col("tvd") > col("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("violating_classes"),
        sum(col("n_c")).as("exposed_records"))
    ts.join(viol, Seq("t"), "left_outer")
      .crossJoin(broadcast(totalN))
      .select(col("t"),
        coalesce(col("violating_classes"), lit(0L)).as("violating_classes"),
        coalesce(col("exposed_records"), lit(0L)).as("exposed_records"),
        round(coalesce(col("exposed_records"), lit(0L)).cast("double") /
          col("n_total").cast("double"), 6).as("exposed_frac"))
      .orderBy("t")
  }

  // -------------------------------------------------------------- splits
  /** Hash-based train/val/test assignment (900/50/50 per mille) with
    * per-split counts — membership is a function of doc_id alone, so a
    * doc never migrates between splits as the corpus grows (the property
    * random splits lack). Aggregation output is 3 rows. */
  def datasetSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = keyHash("spl") % 1000
    Tables.fannedDocuments(spark, sfDir)
      .select(when(bucket < 900, "train").when(bucket < 950, "val")
        .otherwise("test").as("split"))
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .orderBy("split")
  }

  // ------------------------------------------------------ fold balance
  /** Fold count for [[foldBalanceChi2]]. */
  private[operators] val ChiFolds = 5

  /** Per-cell χ² derivations — ONE string list for both engines over
    * exact integer inputs (o, r, c, n, num = o·N − r·c): expected count
    * e = r·c/N and the independence term (o−e)²/e = num²/(N·r·c). */
  private val ChiExprs = Seq(
    "round(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected",
    "round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)" +
      " / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)), 6) AS chi_term")

  /** K-FOLD balance audit: assign every doc to one of [[ChiFolds]] folds
    * by doc hash (the `dataset_split` fence construction), build the
    * fold × language contingency table, and report each cell's observed
    * count, expected count under independence, and χ² term — the
    * split-balance check a cross-validation pipeline runs before
    * trusting per-fold metrics (a fold that over-draws one language
    * biases its eval; Σ chi_term vs the χ² critical value at
    * (folds−1)(langs−1) df is the test).
    *
    * Determinism: counts and margins are exact integers; num = o·N −
    * r·c is computed in DECIMAL and re-narrowed to BIGINT (caps at
    * N ≈ 3·10⁹ docs — the value_autocorr headroom discipline), and
    * both derived columns are one shared double chain ([[ChiExprs]]).
    * Scale shape: one (fold, lang) map-side-combined aggregate —
    * folds × langs cells, metadata at any corpus size; margins and the
    * total derive FROM the cells (no second corpus pass); broadcast
    * joins only. */
  def foldBalanceChi2(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = Tables.fannedDocuments(spark, sfDir)
      .select((keyHash("fold") % ChiFolds).as("fold"), col("lang"))
      .groupBy(col("fold"), col("lang")).agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col("fold")).agg(sum(col("o")).as("r"))
    val ct = cells.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    cells.join(broadcast(rt), "fold").join(broadcast(ct), "lang")
      .crossJoin(broadcast(cells.agg(sum(col("o")).as("n"))))
      .withColumn("num",
        (col("o").cast(dec) * col("n") - col("r").cast(dec) * col("c")).cast("long"))
      .selectExpr(Seq("fold", "lang", "o AS n_docs") ++ ChiExprs: _*)
      .orderBy("fold", "lang")
  }

  // ------------------------------------------------------- split leakage
  /** Cross-split contamination audit: counts NEAR-duplicate pairs
    * (MinHash-LSH candidates — the corpus's actual duplicate signal;
    * exact-hash dups don't exist here, every clone is mutated) that
    * `dataset_split`'s doc-hash fence puts on opposite sides — the
    * leakage `group_split` exists to prevent (a val/test doc whose
    * near-clone sits in train silently inflates eval).
    *
    * Scale shape: the split of each endpoint is a pure EXPRESSION of
    * its doc_id (the same seeded md5 bucket dataset_split uses), so the
    * audit is one projection + aggregate over the candidate-pair table
    * — no join back to the corpus at all, and the pair table is the
    * LSH output, a vanishing fraction of the corpus at 100 TB. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    def splitOf(idCol: String): Column = {
      val b = keyHash("spl", idCol) % 1000
      when(b < 900, "train").when(b < 950, "val").otherwise("test")
    }
    TextOps.candidatePairs(spark, sfDir)
      .select(splitOf("doc_a").as("sa"), splitOf("doc_b").as("sb"))
      .filter(col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("leaked_pairs"))
      .orderBy("split_a", "split_b")
  }

  // -------------------------------------------------------------- TF-IDF
  /** TF-IDF over the hashing-trick TF embedding: idf = ln((N+1)/(df+1))+1
    * (smoothed), value = tf·idf. The document-frequency table is one row
    * per dim (64 rows) — broadcast to the TF table, so the only shuffle
    * is the TF groupBy itself; N arrives via a broadcast single-row
    * aggregate, never a driver-side action. */
  def tfidfEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    // Eager persist: tf feeds BOTH the df aggregate and the final join,
    // and Catalyst does NOT reuse the exchange across the two branches
    // (verified: the unpersisted plan carries two full scan+explode+agg
    // pipelines, zero ReusedExchange). One token explode over the corpus,
    // not two — the file-family's one-base-per-query rule; released by
    // Caches.release like its siblings.
    val tf = Caches.materialize(TextOps.tfUnsorted(spark, sfDir))
    val df = tf.groupBy(col("dim")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n"))
    tf.join(broadcast(df), Seq("dim"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("dim"),
        round(col("tf").cast("double") *
          (log((col("n") + 1).cast("double") / (col("df") + 1).cast("double")) + 1.0), 6)
          .as("tfidf"))
      .orderBy("doc_id", "dim")
  }

  // ------------------------------------------------------------- packing
  val PackShards = 8
  val PackBudget = 2048

  /** Fixed-budget sequence packing (concat-and-chunk): docs are laid out
    * in doc_id order and each doc joins the pack where its START offset
    * falls — `pack = start_tokens div budget`. Packing runs WITHIN
    * [[PackShards]] hash shards, not globally: a global running sum is a
    * one-partition window (the classic scale killer), while per-shard
    * windows parallelize freely — at 100 TB you set the shard count to
    * the cluster's parallelism, and training never needed one global
    * order anyway. pack_id = shard · 10^6 + pack keeps ids disjoint. */
  def sequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    val nTokens = size(split(trim(col("text")), "\\s+"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.fannedDocuments(spark, sfDir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(PackShards)).as("shard"),
        nTokens.cast("long").as("n_tokens"))
      .withColumn("start_tokens", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard").cast("long").as("shard"), col("n_tokens"),
        (col("shard").cast("long") * 1000000L +
          expr(s"start_tokens div ${PackBudget}L")).as("pack_id"))
      .orderBy("doc_id")
  }

  /** Packing-efficiency report over [[sequencePack]]'s layout: per
    * shard, how many packs, how full they are against [[PackBudget]],
    * and the worst overflow — the batch-utilization numbers a training
    * job reports (fill percent IS the fraction of non-padding compute;
    * concat-and-chunk packs can overrun the budget by their tail doc,
    * and `max_pack_tokens` bounds that overrun). Two cascaded map-side-
    * combinable aggregates downstream of the pack assignment; output is
    * [[PackShards]] rows. All-integer operands into one double division,
    * round-6. */
  def packEfficiency(spark: SparkSession, sfDir: String): DataFrame =
    sequencePack(spark, sfDir)
      .groupBy(col("shard"), col("pack_id"))
      .agg(sum(col("n_tokens")).as("tok"), count(lit(1)).as("docs"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("docs")).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        max(col("tok")).as("max_pack_tokens"),
        round(sum(col("tok")).cast("double") * 100.0 /
          (count(lit(1)) * lit(PackBudget.toLong)).cast("double"), 6).as("fill_pct"))
      .orderBy("shard")

  /** Shard count for the deterministic corpus shuffle. Sized like
    * [[PackShards]]: at 100 TB this would be O(cluster parallelism) so
    * each shard's window sorts executor-memory-sized data. */
  private[operators] val ShuffleShards = 8

  /** Deterministic corpus shuffle: the training-order randomization step.
    * Every doc gets a shard and an intra-shard position, both pure
    * functions of `md5(seed:doc_id)` — never `rand()`, so the order is
    * identical under task retries, re-runs, and repartitioning, and a
    * training job can resume mid-epoch by (shard, pos). One shuffle on
    * the shard key; the position window sorts PER SHARD (each a
    * 1/[[ShuffleShards]] slice), never one global partition — a global
    * `ORDER BY random()` is the thing this op exists to replace at
    * 100 TB. Hash ties (28-bit space) break on doc_id so `pos` is total. */
  def corpusShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("hk"), col("doc_id"))
    Tables.fannedDocuments(spark, sfDir)
      .select(col("doc_id"), keyHash("shf").as("hk"))
      .withColumn("shard", pmod(col("hk"), lit(ShuffleShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------- mix rebalance
  /** Target language mix as integer numerators over [[MixDenom]] —
    * upweight English, equal shares for the rest (the standard
    * pretraining-mix shape). Both engines' arithmetic is GENERATED from
    * this one map, and every numerator divides the denominator, so the
    * capacity computation stays in exact integers. */
  private[operators] val MixTarget: Seq[(String, Int)] =
    Seq("de" -> 1, "en" -> 4, "es" -> 1, "fr" -> 1, "zh" -> 1)
  private[operators] val MixDenom = 8
  // The capacity factor below is MixDenom / t as INTEGER division — a
  // numerator that doesn't divide the denominator (e.g. 3/8) would yield
  // a silently wrong capacity, so the mix shape is validated at load.
  require(MixTarget.map(_._2).sum == MixDenom,
    s"MixTarget numerators must sum to MixDenom=$MixDenom")
  require(MixTarget.forall { case (_, t) => MixDenom % t == 0 },
    s"every MixTarget numerator must divide MixDenom=$MixDenom exactly")

  /** Final mix derivations — ONE string list feeds both engines over the
    * exact integer inputs (tnum, tmin, chars), so the double chains are
    * identical. */
  private val MixExprs: Seq[String] = Seq(
    s"round(CAST(tnum AS DOUBLE) / $MixDenom.0, 6) AS target_share",
    s"round(CAST(tmin AS DOUBLE) * CAST(tnum AS DOUBLE) / $MixDenom.0, 6) AS kept_chars",
    s"round((CAST(tmin AS DOUBLE) * CAST(tnum AS DOUBLE) / $MixDenom.0) / CAST(chars AS DOUBLE), 6) AS keep_rate")

  /** Downsampling weights that hit a TARGET language mix ([[MixTarget]])
    * under the rate ≤ 1 constraint — the static corpus-rebalance step
    * (DoReMi-style fixed mix) a pretraining pipeline runs before
    * sampling. The largest achievable total char budget is
    * T = min_l(chars_l / share_l); each language keeps share_l·T chars,
    * i.e. rate_l = share_l·T / chars_l, with the binding (scarcest
    * relative to its target) language kept whole.
    *
    * Determinism: per-language char masses are exact BIGINTs, each
    * capacity chars_l/share_l is an exact integer because every
    * numerator divides [[MixDenom]] (the factor is precomputed in
    * Scala — no division in either engine), and the final shares/rates
    * are one shared double chain ([[MixExprs]]). Scale shape: one
    * map-side-combined aggregate to |langs| rows, then a 1-row
    * broadcast min — everything after the aggregate is metadata. */
  def mixRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    val tnumCol = MixTarget.foldRight(lit(null).cast("long")) {
      case ((l, t), other) => when(col("lang") === l, lit(t.toLong)).otherwise(other)
    }
    // chars_l / (tnum/denom) = chars_l · (denom/tnum) — exact, Scala-side factor
    val capFactor = MixTarget.foldRight(lit(null).cast("long")) {
      case ((l, t), other) =>
        when(col("lang") === l, lit((MixDenom / t).toLong)).otherwise(other)
    }
    val agg = Tables.fannedDocuments(spark, sfDir)
      .filter(col("lang").isin(MixTarget.map(_._1): _*))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .withColumn("tnum", tnumCol)
      .withColumn("cap", col("chars") * capFactor)
    // A target language absent from the corpus would silently drop out of
    // the min(cap) and skew the realized mix — fail loud instead, lazily
    // (the guard rides the same 1-row broadcast aggregate as tmin).
    // nlang=0 (empty corpus) is exempt: the fact side is empty so the
    // result is empty regardless of tmin, and erroring there would make
    // the empty-input contract depend on AQE pruning the cross join
    // before this projection evaluates (it must hold with AQE off too).
    val tminAgg = agg.agg(min(col("cap")).as("tmin_raw"),
        count(lit(1)).as("nlang"))
      .select(when(col("nlang") =!= lit(MixTarget.size.toLong) &&
            col("nlang") =!= lit(0L),
          raise_error(concat(lit(s"mixRebalance: corpus has only "),
            col("nlang").cast("string"),
            lit(s" of ${MixTarget.size} target languages"))))
        .otherwise(col("tmin_raw")).as("tmin"))
    agg.crossJoin(broadcast(tminAgg))
      .selectExpr(Seq("lang", "n_docs", "chars") ++ MixExprs: _*)
      .orderBy("lang")
  }

  // --------------------------------------------------------- time split
  /** Early-fraction of the temporal split. */
  private[operators] val TimeSplitFrac = 0.8

  /** TEMPORAL train/eval split over the event stream: cut at the exact
    * 80th-percentile timestamp, report each side plus the USER overlap
    * across the cut — the leakage a time split exists to control (a
    * hash split mixes future into train; a time split's residual risk
    * is entities straddling the fence, and `shared_users` is that
    * number). The forecasting-eval counterpart of the hash-based
    * `dataset_split`/`group_split`.
    *
    * Determinism: the cut is the exact type-7 interpolated percentile
    * of integer epoch-micros (the proven `percentiles` parity — both
    * engines interpolate the same two exact integers in double);
    * membership is `us <= cut`, a pure row expression against the
    * 1-row broadcast cut. Scale shape: one exact-percentile aggregate
    * (value-counts-map partial state), one map-only split pass, two
    * distinct-user aggregates + a broadcast intersect — no corpus-sized
    * shuffle beyond the user distincts. */
  def timeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        unix_micros(col("ts")).as("us"))
    val cut = ev.agg(expr(s"percentile(us, $TimeSplitFrac)").as("cut"))
    val lab = ev.crossJoin(broadcast(cut))
      .withColumn("split",
        when(col("us") <= col("cut"), "early").otherwise("late"))
    val users = lab.select(col("split"), col("user_id")).distinct()
      .transform(Caches.materialize)
    val shared = users.filter(col("split") === "early")
      .select(col("user_id"))
      .join(users.filter(col("split") === "late").select(col("user_id")),
        Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("shared_users"))
    lab.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .crossJoin(broadcast(shared))
      .orderBy("split")
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fold_balance_chi2" -> (foldBalanceChi2 _),
    "sample_stratified" -> (sampleStratified _),
    "mix_rebalance"     -> (mixRebalance _),
    "time_split"        -> (timeSplit _),
    "quota_sample"      -> (quotaSample _),
    "dp_counts"         -> (dpCounts _),
    "k_anonymity"       -> (kAnonymity _),
    "l_diversity"       -> (lDiversity _),
    "t_closeness"       -> (tCloseness _),
    "bottomk_sample"    -> (bottomkSample _),
    "weighted_sample"   -> (weightedSample _),
    "dataset_split"     -> (datasetSplit _),
    "split_leakage"     -> (splitLeakage _),
    "tfidf_embedding"   -> (tfidfEmbedding _),
    "sequence_pack"     -> (sequencePack _),
    "pack_efficiency"   -> (packEfficiency _),
    "corpus_shuffle"    -> (corpusShuffle _))

  /** Shared oracle CTE for the packing family — the IDENTICAL shard /
    * token-count / running-offset / pack-assignment pipeline as
    * [[sequencePack]]; consumed by `sequence_pack` and
    * `pack_efficiency`. */
  private val packCteSql: String =
    s"""sp AS (SELECT doc_id, shard, n_tokens,
      |  shard * 1000000 + (start_tokens // $PackBudget) AS pack_id
      | FROM (
      |  SELECT doc_id, doc_id % $PackShards AS shard,
      |   CAST(array_length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      |   CAST(coalesce(sum(CAST(array_length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT))
      |    OVER (PARTITION BY doc_id % $PackShards ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tokens
      |  FROM documents) t)""".stripMargin

  /** Shared TF CTE text lives in TextOps (tfCtesSql); the sampling CASE
    * and packing constants are generated from the Scala values above. */
  val oracles: Map[String, String] = {
    val rateCase = SampleRates
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $SampleDefaultRate END")
    Map(
      "fold_balance_chi2" ->
        s"""WITH cells AS (SELECT ${keyHashSql("fold")} % $ChiFolds AS fold,
          |  lang, CAST(count(*) AS BIGINT) AS o
          | FROM documents GROUP BY 1, 2),
          |rt AS (SELECT fold, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
          |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
          |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
          |j AS (SELECT cells.fold, cells.lang, cells.o, rt.r, ct.c, nt.n,
          |  CAST(CAST(cells.o AS HUGEINT) * nt.n
          |   - CAST(rt.r AS HUGEINT) * ct.c AS BIGINT) AS num
          | FROM cells JOIN rt USING (fold) JOIN ct USING (lang), nt)
          |SELECT fold, lang, o AS n_docs, ${ChiExprs.mkString(",\n ")}
          |FROM j ORDER BY fold, lang""".stripMargin,
      "sample_stratified" ->
        s"""SELECT doc_id, lang FROM documents
          |WHERE ${keyHashSql("smp")} % 100 < $rateCase
          |ORDER BY doc_id""".stripMargin,
      "mix_rebalance" -> {
        val tnumCase = MixTarget
          .map { case (l, t) => s"WHEN '$l' THEN CAST($t AS BIGINT)" }
          .mkString("CASE lang ", " ", " END")
        val capCase = MixTarget
          .map { case (l, t) => s"WHEN '$l' THEN CAST(${MixDenom / t} AS BIGINT)" }
          .mkString("CASE lang ", " ", " END")
        val langList = MixTarget.map { case (l, _) => s"'$l'" }.mkString(", ")
        s"""WITH a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS chars
          | FROM documents WHERE lang IN ($langList) GROUP BY lang),
          |b AS (SELECT lang, n_docs, chars,
          |  $tnumCase AS tnum,
          |  chars * $capCase AS cap
          | FROM a),
          |m AS (SELECT min(cap) AS tmin FROM b)
          |SELECT lang, n_docs, chars, ${MixExprs.mkString(",\n ")}
          |FROM b, m ORDER BY lang""".stripMargin
      },
      "time_split" ->
        s"""WITH ev AS (SELECT event_id, ts, user_id,
          |  epoch_us(ts) AS us FROM events),
          |c AS (SELECT quantile_cont(us, $TimeSplitFrac) AS cut FROM ev),
          |lab AS (SELECT ev.*, CASE WHEN us <= c.cut THEN 'early'
          |  ELSE 'late' END AS split FROM ev, c),
          |u AS MATERIALIZED (SELECT DISTINCT split, user_id FROM lab),
          |sh AS (SELECT CAST(count(*) AS BIGINT) AS shared_users FROM (
          | SELECT user_id FROM u WHERE split = 'early'
          | INTERSECT SELECT user_id FROM u WHERE split = 'late') i)
          |SELECT split, CAST(count(*) AS BIGINT) AS n_events,
          | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          | min(ts) AS min_ts, max(ts) AS max_ts, sh.shared_users
          |FROM lab, sh GROUP BY split, sh.shared_users
          |ORDER BY split""".stripMargin,
      "quota_sample" ->
        s"""SELECT doc_id, source, rank FROM (
          | SELECT doc_id, source,
          |  CAST(row_number() OVER (PARTITION BY source
          |   ORDER BY ${keyHashSql("qta")}, doc_id) AS BIGINT) AS rank
          | FROM documents) t
          |WHERE rank <= $QuotaPerSource ORDER BY source, rank""".stripMargin,
      "bottomk_sample" ->
        s"""SELECT rank, doc_id, source, lang, hk FROM (
          | SELECT doc_id, source, lang, ${keyHashSql("btk")} AS hk,
          |  CAST(row_number() OVER (
          |   ORDER BY ${keyHashSql("btk")}, doc_id) AS BIGINT) AS rank
          | FROM documents) t
          |WHERE rank <= $BottomK ORDER BY rank""".stripMargin,
      "weighted_sample" -> {
        val wkeySql = s"round(exp(ln((${keyHashSql("wks")} + 0.5) / 268435456.0)" +
          " / CAST(n_chars AS DOUBLE)), 6)"
        s"""SELECT rank, doc_id, n_chars, wkey FROM (
          | SELECT doc_id, n_chars, $wkeySql AS wkey,
          |  CAST(row_number() OVER (
          |   ORDER BY $wkeySql DESC, doc_id) AS BIGINT) AS rank
          | FROM documents) t
          |WHERE rank <= $WeightedK ORDER BY rank""".stripMargin
      },
      "dp_counts" ->
        s"""WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
          |           FROM documents GROUP BY source),
          |u AS (SELECT source, n,
          |  (${keyHashSql("dp", "source")} + 0.5) / 268435456.0 AS u FROM c)
          |SELECT source,
          | round(n - $DpLaplaceScale * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6)
          |  AS dp_n_docs
          |FROM u ORDER BY source""".stripMargin,
      "k_anonymity" ->
        s"""WITH cls AS (SELECT lang, source, n_chars // 100 AS len_bucket,
          |  CAST(count(*) AS BIGINT) AS sz
          | FROM documents GROUP BY 1, 2, 3),
          |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n_total FROM cls),
          |ks AS (${KAnonThresholds.map(k => s"SELECT $k AS k").mkString(" UNION ALL ")}),
          |viol AS (SELECT k, CAST(count(*) AS BIGINT) AS violating_classes,
          |  CAST(sum(sz) AS BIGINT) AS suppressed_records
          | FROM ks JOIN cls ON cls.sz < ks.k GROUP BY k)
          |SELECT ks.k,
          | coalesce(viol.violating_classes, 0) AS violating_classes,
          | coalesce(viol.suppressed_records, 0) AS suppressed_records,
          | round(CAST(coalesce(viol.suppressed_records, 0) AS DOUBLE)
          |   / CAST(tot.n_total AS DOUBLE), 6) AS suppressed_frac
          |FROM ks LEFT JOIN viol ON ks.k = viol.k, tot
          |ORDER BY ks.k""".stripMargin,
      "l_diversity" ->
        s"""WITH cls AS (SELECT source, n_chars // 100 AS len_bucket,
          |  CAST(count(*) AS BIGINT) AS sz,
          |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
          | FROM documents GROUP BY 1, 2),
          |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n_total FROM cls),
          |ls AS (${LDivThresholds.map(l => s"SELECT $l AS l").mkString(" UNION ALL ")}),
          |viol AS (SELECT l, CAST(count(*) AS BIGINT) AS violating_classes,
          |  CAST(sum(sz) AS BIGINT) AS exposed_records
          | FROM ls JOIN cls ON cls.n_langs < ls.l GROUP BY l)
          |SELECT ls.l,
          | coalesce(viol.violating_classes, 0) AS violating_classes,
          | coalesce(viol.exposed_records, 0) AS exposed_records,
          | round(CAST(coalesce(viol.exposed_records, 0) AS DOUBLE)
          |   / CAST(tot.n_total AS DOUBLE), 6) AS exposed_frac
          |FROM ls LEFT JOIN viol ON ls.l = viol.l, tot
          |ORDER BY ls.l""".stripMargin,
      "t_closeness" ->
        s"""WITH base AS MATERIALIZED (
          |  SELECT source, n_chars // 100 AS len_bucket, lang FROM documents),
          |cl AS (SELECT source, len_bucket, lang,
          |  CAST(count(*) AS BIGINT) AS n_cl FROM base GROUP BY 1, 2, 3),
          |cls AS MATERIALIZED (SELECT source, len_bucket,
          |  CAST(count(*) AS BIGINT) AS n_c FROM base GROUP BY 1, 2),
          |gl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
          |  FROM base GROUP BY 1),
          |tot AS MATERIALIZED (SELECT CAST(sum(n_c) AS BIGINT) AS n_total FROM cls),
          |cells AS (SELECT cls.source, cls.len_bucket, cls.n_c,
          |  CAST(round(abs(CAST(coalesce(cl.n_cl, 0) AS DOUBLE) / CAST(cls.n_c AS DOUBLE)
          |    - CAST(gl.n_l AS DOUBLE) / CAST(tot.n_total AS DOUBLE)), 6)
          |    AS DECIMAL(18,6)) AS d
          |  FROM cls CROSS JOIN gl CROSS JOIN tot
          |  LEFT JOIN cl ON cl.source = cls.source
          |    AND cl.len_bucket = cls.len_bucket AND cl.lang = gl.lang),
          |tvd AS (SELECT source, len_bucket, n_c,
          |  CAST(sum(d) AS DOUBLE) / 2.0 AS tvd FROM cells GROUP BY 1, 2, 3),
          |ts AS (${TCloseThresholds.map(t =>
              s"SELECT CAST($t AS DOUBLE) AS t").mkString(" UNION ALL ")}),
          |viol AS (SELECT t, CAST(count(*) AS BIGINT) AS violating_classes,
          |  CAST(sum(n_c) AS BIGINT) AS exposed_records
          | FROM ts JOIN tvd ON tvd.tvd > ts.t GROUP BY t)
          |SELECT ts.t,
          | coalesce(viol.violating_classes, 0) AS violating_classes,
          | coalesce(viol.exposed_records, 0) AS exposed_records,
          | round(CAST(coalesce(viol.exposed_records, 0) AS DOUBLE)
          |   / CAST(tot.n_total AS DOUBLE), 6) AS exposed_frac
          |FROM ts LEFT JOIN viol ON ts.t = viol.t, tot
          |ORDER BY ts.t""".stripMargin,
      "dataset_split" ->
        s"""SELECT CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
          |  ELSE 'test' END AS split, CAST(count(*) AS BIGINT) AS n_docs
          |FROM (SELECT ${keyHashSql("spl")} % 1000 AS b FROM documents) t
          |GROUP BY split ORDER BY split""".stripMargin,
      "split_leakage" -> {
        def splitCase(idCol: String) =
          s"""CASE WHEN ${keyHashSql("spl", idCol)} % 1000 < 900 THEN 'train'
            |   WHEN ${keyHashSql("spl", idCol)} % 1000 < 950 THEN 'val'
            |   ELSE 'test' END""".stripMargin
        s"""WITH ${TextOps.candCtesSql},
          |lk AS (SELECT ${splitCase("doc_a")} AS sa, ${splitCase("doc_b")} AS sb FROM cand)
          |SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
          | CAST(count(*) AS BIGINT) AS leaked_pairs
          |FROM lk WHERE sa <> sb
          |GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin
      },
      "tfidf_embedding" ->
        s"""WITH ${TextOps.tfCtesSql},
          |df AS (SELECT dim, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY dim),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
          |SELECT t.doc_id, t.dim,
          | round(CAST(t.tf AS DOUBLE) *
          |  (ln(CAST(n.n + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) + 1.0), 6) AS tfidf
          |FROM tf t JOIN df USING (dim) CROSS JOIN n
          |ORDER BY doc_id, dim""".stripMargin,
      "sequence_pack" ->
        s"""WITH $packCteSql
          |SELECT doc_id, shard, n_tokens, pack_id
          |FROM sp ORDER BY doc_id""".stripMargin,
      "pack_efficiency" ->
        s"""WITH $packCteSql,
          |pk AS (SELECT shard, pack_id, CAST(sum(n_tokens) AS BIGINT) AS tok,
          |        CAST(count(*) AS BIGINT) AS docs
          |       FROM sp GROUP BY shard, pack_id)
          |SELECT shard, CAST(count(*) AS BIGINT) AS n_packs,
          | CAST(sum(docs) AS BIGINT) AS n_docs,
          | CAST(sum(tok) AS BIGINT) AS total_tokens,
          | max(tok) AS max_pack_tokens,
          | round(CAST(sum(tok) AS DOUBLE) * 100.0 /
          |  CAST(count(*) * $PackBudget AS DOUBLE), 6) AS fill_pct
          |FROM pk GROUP BY shard ORDER BY shard""".stripMargin,
      "corpus_shuffle" ->
        s"""SELECT doc_id, shard,
          | CAST(row_number() OVER (PARTITION BY shard ORDER BY hk, doc_id) AS BIGINT) AS pos
          |FROM (SELECT doc_id, ${keyHashSql("shf")} AS hk,
          |       ${keyHashSql("shf")} % $ShuffleShards AS shard
          |      FROM documents) t
          |ORDER BY doc_id""".stripMargin)
  }
}
