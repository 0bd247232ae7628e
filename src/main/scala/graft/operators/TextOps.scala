package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.api.Caches
import graft.functions.TextFunctions.{minhash_pieces, word_shingles}
import graft.model.Tables

/** Training-data text operators over `documents` (north-star extensions —
  * SURVEY.md §2.3): dedup (exact, normalized, MinHash+LSH, SimHash,
  * n-gram Jaccard), language-ID, quality scoring, token counting, and
  * fingerprinting. Everything is DataFrame/Catalyst built-ins — explode +
  * groupBy pipelines that shuffle on doc/shingle keys and scale linearly;
  * no driver-side loops.
  *
  * Portability notes (oracle parity):
  * - hashes are md5 hex (identical in Spark and DuckDB); MinHash uses the
  *   lexicographic min of 8-hex md5 chunks (one-hash/k-pieces) — a
  *   permutation-free formulation.
  * - token hashes parse the first 7 md5 hex digits (28 bits, fits i32 on
  *   both sides); bit tests use div/mod by exact powers of two rather
  *   than shift operators.
  */
object TextOps {

  /** Whitespace-collapsed lowercase normalization — shared by the fuzzy
    * dedup family. */
  private[operators] val normCol: Column =
    trim(regexp_replace(lower(col("text")), "\\s+", " "))

  private[operators] def normed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), normCol.as("norm"))

  /** Occurrence count of `sub` in space-padded normalized text (leftmost
    * non-overlapping `replace`, same semantics both engines). */
  private def hits(padded: Column, sub: String): Column =
    ((length(padded) - length(replace(padded, lit(sub), lit("")))) / sub.length).cast("int")

  // ------------------------------------------------------------ exact dedup
  /** Exact dedup by content hash: hash-groupBy, keep lowest doc_id.
    * One shuffle on the 128-bit hash; at 100 TB the window runs per
    * hash-partition, never global. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    Tables.fannedDocuments(spark, sfDir)
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "content_hash", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Near-dup via normalized-text hash (lower + collapse whitespace). */
  def dedupFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("norm_hash")).orderBy(col("doc_id"))
    Tables.fannedDocuments(spark, sfDir)
      .withColumn("norm_hash", md5(normCol))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "norm_hash")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- MinHash
  /** Word n-gram shingles of the normalized text, exploded to one row per
    * shingle with duplicates kept — the base of the counting operators
    * (bigram counts, repetition ratios, novelty, decontamination). Word
    * shingles, not character shingles: with a small shared vocabulary,
    * character-k-gram SETS of long documents all converge to the full
    * vocabulary's k-grams (Jaccard → 1 for unrelated docs) and LSH
    * candidates explode quadratically; word sequences keep
    * discriminating. The n-grams come from [[graft.functions.WordShingles]],
    * which pins the oracle's split/slice/join semantics. */
  private def shingles(spark: SparkSession, sfDir: String, n: Int): DataFrame =
    shinglesOf(normed(spark, sfDir), n)

  /** Shingles from an (optionally pre-persisted) normalized base — lets
    * multi-stage queries share ONE scan of `documents` across the shingle
    * and token pipelines. */
  private[operators] def shinglesOf(normDf: DataFrame, n: Int): DataFrame =
    normDf.select(col("doc_id"), explode(word_shingles(col("norm"), n)).as("sh"))

  /** The MinHash kernel's per-document frame `(doc_id, sh)`: each
    * document's DISTINCT word-3-gram set as one array in its own row. A
    * document's shingles all come from its one input row, so the set, the
    * signature ([[signatureFrom]]) and the pair overlap ([[overlapOf]])
    * are all computed row-locally — no explode, no shuffle on doc_id.
    *
    * Precondition: one row per doc_id. Every caller feeds a
    * `documents`-derived frame (the table, a canonical-survivor subset
    * of it, or a stream of its rows), where doc_id is the key. */
  private[operators] def docShinglesOf(normDf: DataFrame): DataFrame =
    normDf.select(col("doc_id"), array_distinct(word_shingles(col("norm"), 3)).as("sh"))

  private def docShingles(spark: SparkSession, sfDir: String): DataFrame =
    docShinglesOf(normed(spark, sfDir))

  /** MinHash grid parameters. [[MinhashPieces]] independent permutations
    * approximated by 8-hex chunks of seeded md5s (4 chunks per hash —
    * one quarter the hashing of per-piece seeds), banded for LSH as
    * [[MinhashBands]] bands × (pieces/bands) rows. 8/4×2 trades off as:
    * per-band collision prob = s^2 (s = true Jaccard), overall recall
    * = 1 − (1 − s²)⁴ — e.g. 94% at s=0.8, 26% at s=0.3 — versus the old
    * 4-piece 2×2 grid's 1 − (1 − s²)² (71% at s=0.8). Both sides of the
    * oracle are GENERATED from these constants, so Scala and SQL can
    * never disagree on the grid. */
  private[operators] val MinhashPieces = 8
  private[operators] val MinhashBands = 4
  private val MinhashHashes = (MinhashPieces + 3) / 4
  private val MinhashRows = MinhashPieces / MinhashBands

  /** MinHash signature via seeded-hash/k-pieces: md5(`i:`shingle) per
    * hash i, each yielding four 8-hex chunk pieces, minimized over the
    * document's shingle set inside its own row. */
  def minhashSignature(spark: SparkSession, sfDir: String): DataFrame =
    signatureFrom(docShingles(spark, sfDir)).drop("sz").orderBy("doc_id")

  /** Signature `(doc_id, mh1..mh8, sz)` from a per-document shingle frame
    * ([[docShinglesOf]]): [[graft.functions.MinhashPieces]] takes the
    * per-piece minimums over the row's array, and `sz` is the set size
    * (a null shingle counts, as the oracle's `count(*)` does). A
    * projection — no shuffle and no aggregate, whatever the document
    * sizes. */
  private[operators] def signatureFrom(ds: DataFrame): DataFrame = {
    // the pieces array is projected once; the mh columns slice it
    val pieces = ds.select(col("doc_id"),
      minhash_pieces(col("sh"), MinhashPieces).as("p"),
      size(col("sh")).cast("long").as("sz"))
    pieces.select(col("doc_id") +:
      (0 until MinhashPieces).map(k => col("p")(k).as(s"mh${k + 1}")) :+
      col("sz"): _*)
  }

  /** Banded signature rows (doc_id, band_no, bh) from a signature frame
    * — the LSH index layout both the self-join (all-pairs candidates)
    * and the new-vs-old join ([[dedupIncremental]]) consume. */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until MinhashBands).map { b =>
      val bh = md5(concat((0 until MinhashRows).map(r =>
        col(s"mh${b * MinhashRows + r + 1}")): _*))
      struct(lit(b + 1).as("band_no"), bh.as("bh"))
    }
    sig.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_no"), col("band.bh"))
  }

  /** Band-bucket candidate pairs from a (pre-persisted) signature
    * DataFrame — the band self-join consumes the signature twice in one
    * job, so callers persist it first. The join is quadratic in bucket
    * size: a clone family of m documents emits O(m²) pairs, which is why
    * production runs go exact-dedup-first ([[dedupPairsCanonical]]) so
    * oversized buckets never form. */
  private[operators] def candidatePairsFromSig(sig: DataFrame): DataFrame = {
    val bands = bandsOf(sig)
    bands.as("a").join(bands.as("b"), col("a.band_no") === col("b.band_no") &&
        col("a.bh") === col("b.bh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH band-bucket candidate pairs from a per-document shingle frame
    * ([[docShinglesOf]]; unsorted — public queries add their own
    * orderBy). The signature is persisted EAGERLY: the band self-join
    * consumes it twice in one job, and a lazy cache would let both
    * branches race to compute the shingle pipeline before either
    * populates it. */
  private def candidatePairsFrom(ds: DataFrame): DataFrame = {
    val sig = Caches.materialize(signatureFrom(ds))
    candidatePairsFromSig(sig)
  }

  /** LSH banding over the MinHash signature ([[MinhashBands]] bands ×
    * pieces/bands rows) and a band-bucket equi-join for candidate pairs —
    * the 100 TB dedup path: candidates come from a hash join on band
    * keys, never a cross join. */
  def dedupMinhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    candidatePairsFrom(docShingles(spark, sfDir)).orderBy("doc_a", "doc_b")

  /** Unsorted LSH candidate pairs (doc_a < doc_b) for graph-shaped
    * consumers ([[GraphOps.triangleCount]]) — same kernel as
    * [[dedupMinhashPairs]] without the presentation sort. */
  private[graft] def candidatePairs(spark: SparkSession, sfDir: String): DataFrame =
    candidatePairsFrom(docShingles(spark, sfDir))

  /** Exact-dedup-first LSH composition — the PRODUCTION pipeline order
    * for a 100 TB dedup run (the reference's own store dedups by uuid at
    * ingest before anything downstream sees events —
    * `lib/hivent/support/memory.ex:90`): collapse normalized clone
    * families to their canonical (min doc_id per md5(norm), exactly
    * [[dedupFuzzy]]'s survivor rule) BEFORE shingling, then run the band
    * kernel over canonicals only. Clone families — the very documents
    * that blow band buckets quadratic — never reach the self-join: a
    * 10⁶-copy boilerplate page contributes ONE canonical row instead of
    * 10⁶ bucket members, so the kernel's cost is governed by the
    * distinct-content corpus regardless of duplication factor. */
  def dedupPairsCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("nh")).orderBy(col("doc_id"))
    val canon = normed(spark, sfDir)
      .withColumn("nh", md5(col("norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("norm"))
    candidatePairsFrom(docShinglesOf(canon)).orderBy("doc_a", "doc_b")
  }

  /** Band-bucket size histogram — the OBSERVABILITY table for a 100 TB
    * dedup run: for each bucket size s, how many (band, bh) buckets have
    * exactly s members and the candidate pairs they contribute
    * (s·(s−1)/2 each — the quadratic mass of the band self-join). A
    * pipeline owner reads the tail of this table to decide whether hot
    * buckets exist at all and whether the corpus needs the
    * exact-dedup-first order ([[dedupPairsCanonical]]) — complements
    * [[lshTune]] (which sizes the GRID) and `dedup_threshold_sweep`
    * (which places the Jaccard bar). Two
    * cascaded map-side-combinable aggregates (the key_skew_profile
    * count-of-counts shape); second pass costs one row per distinct
    * bucket; output ≤ max-bucket-size rows — metadata at any scale. */
  def lshBucketProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = bandsOf(signatureFrom(docShingles(spark, sfDir)))
      .groupBy(col("band_no"), col("bh")).agg(count(lit(1)).as("sz"))
    sizes.groupBy(col("sz"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("sz").as("bucket_sz"), col("n_buckets"),
        expr("CAST(n_buckets * sz * (sz - 1) div 2 AS BIGINT)").as("n_pairs"))
      .orderBy("bucket_sz")
  }

  // -------------------------------------------------- LSH parameter planner
  /** Signature budget the [[lshTune]] planner allocates (hashes per
    * doc at production scale) and the target Jaccard threshold (the
    * corpus's near-dup bar). */
  private[operators] val LshTuneBudget = 128
  private[operators] val LshTuneTarget = 0.8

  /** LSH parameter PLANNER (the Leskovec/MMDS S-curve table): for every
    * (bands b, rows r) split of a [[LshTuneBudget]]-hash signature
    * budget, the S-curve threshold (1/b)^(1/r) and the candidate
    * collision probability 1 − (1 − s^r)^b at reference similarities
    * s ∈ {0.5, 0.8, 0.9}; `chosen` marks the split whose threshold sits
    * closest to [[LshTuneTarget]] (smaller b on ties). This is the
    * decision table that SIZES the deployed MinHash grid before a
    * 100 TB dedup run — the same closed form that justifies the
    * engine's own 4×2 grid (1 − (1−s²)⁴ = 94% at s = 0.8, TextOps
    * MinhashBands scaladoc). Pure metadata math: an 8-row literal grid,
    * no corpus scan at all; every transcendental is the identical
    * exp/ln chain in both engines, round-6 (the zipf_slope
    * discipline). */
  def lshTune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val grid = (0 to 7).map(i => (1 << i, LshTuneBudget / (1 << i)))
      .toDF("b", "r")
    def pAt(s: String): Column =
      round(expr(s"1 - exp(cast(b as double) * ln(1 - exp(cast(r as double) * ln($s))))"), 6)
    val w = Window.orderBy(
      abs(expr("exp(-ln(cast(b as double)) / cast(r as double))") - lit(LshTuneTarget)),
      col("b"))
    grid
      .withColumn("threshold",
        round(expr("exp(-ln(cast(b as double)) / cast(r as double))"), 6))
      .withColumn("p_at_50", pAt("0.5"))
      .withColumn("p_at_80", pAt("0.8"))
      .withColumn("p_at_90", pAt("0.9"))
      .withColumn("chosen", row_number().over(w) === 1)
      .orderBy("b")
  }

  /** Cross-source near-duplication matrix: MinHash-LSH candidate pairs
    * whose endpoints live in DIFFERENT sources, counted per unordered
    * source pair — the provenance diagnostic (which feeds syndicate /
    * scrape each other) that decides source-level dedup order before a
    * 100 TB crawl mix is finalized. Same candidate-bounded cost as the
    * dedup family: the pair table is the LSH output (a vanishing
    * fraction of the corpus), and the two doc-keyed joins ship only
    * (doc_id, source) pairs; the matrix aggregate is ≤ |sources|²
    * cells. */
  def crossSourceNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), col("source"))
    candidatePairs(spark, sfDir)
      .join(src.toDF("doc_a", "src_a"), Seq("doc_a"))
      .join(src.toDF("doc_b", "src_b"), Seq("doc_b"))
      .filter(col("src_a") =!= col("src_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * 3-grams whose FIRST owner (minimum doc_id corpus-wide) is the doc
    * itself — the corpus-novelty curve (Lee et al.'s dedup papers plot
    * exactly this to show how fast fresh text decays in a crawl; docs
    * near 0 are assembled from already-seen text).
    *
    * Scale shape: one distinct-shingle base feeds BOTH the first-owner
    * aggregate (shingle-keyed shuffle) and the join-back; the ratio is
    * exact-integer counts through one double division, round-6. */
  /** Distinct 3-gram universe size — spec support for the novelty
    * partition property (Σ n_novel over docs must equal this). */
  private[graft] def distinctShingleCount(spark: SparkSession, sfDir: String): Long =
    shingles(spark, sfDir, 3).select(col("sh")).distinct().count()

  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val s3 = Caches.materialize(shingles(spark, sfDir, 3).distinct())
    val firstOwner = s3.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    s3.join(firstOwner, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** Banded MinHash signature index (doc_id, band_no, bh) of an
    * arbitrary document frame (doc_id, text, …) — the PRECOMPUTED corpus
    * side of incremental/streaming dedup. MinHash is an associative min,
    * so the index maintains incrementally as batches land. */
  def signatureIndex(docsDf: DataFrame): DataFrame =
    bandsOf(signatureFrom(docShinglesOf(
      docsDf.select(col("doc_id"), normCol.as("norm")))))

  /** The shared verdict kernel: new-side bands equi-join old-side bands
    * (only), each new doc reports its min-id old match or a kept
    * verdict. Both [[matchVerdicts]] (streaming micro-batches) and
    * [[dedupIncremental]] (one-table batch split) route through here so
    * the two paths can never diverge semantically. */
  private def verdictsFromBands(newIds: DataFrame, newBands: DataFrame,
      oldBands: DataFrame): DataFrame = {
    val matches = newBands.as("n").join(oldBands.as("o"),
        col("n.band_no") === col("o.band_no") && col("n.bh") === col("o.bh"))
      .groupBy(col("n.doc_id").as("doc_id"))
      .agg(min(col("o.doc_id")).as("matched_old"))
    newIds
      .join(matches, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("matched_old"),
        col("matched_old").isNull.cast("int").as("kept"))
  }

  /** New-batch dedup verdicts against a precomputed corpus index — the
    * batch kernel [[graft.streaming.StreamingDedup]] runs per
    * micro-batch: band the batch, equi-join it against the index (only),
    * report each new doc's min-id corpus match or a kept verdict. */
  def matchVerdicts(newDocs: DataFrame, corpusBands: DataFrame): DataFrame =
    verdictsFromBands(newDocs.select(col("doc_id")),
      signatureIndex(newDocs), corpusBands)

  /** Incremental dedup — the continuous-ingestion shape: dedup a NEW
    * batch (doc_id % 10 = 9 stands in for the arriving delta) against
    * the EXISTING corpus without ever re-pairing the corpus with itself.
    * New signatures band-join against old signatures only; each new doc
    * reports the min-id corpus doc it collides with (NULL → kept).
    *
    * At 100 TB the old side's banded signature table is a PRECOMPUTED
    * index — MinHash is an associative min, so the index maintains
    * incrementally as batches land — and per-batch cost tracks the DELTA
    * size times bucket occupancy, never the corpus pair space. Here both
    * sides derive from one signature pass over the same table (persisted
    * eagerly: the band join consumes it twice in one job). */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val isNew = col("doc_id") % 10 === 9
    val sig = Caches.materialize(signatureFrom(docShingles(spark, sfDir)))
    val bands = bandsOf(sig)
    verdictsFromBands(
      Tables.fannedDocuments(spark, sfDir).select(col("doc_id")).filter(isNew),
      bands.filter(isNew), bands.filter(!isNew))
      .orderBy("doc_id")
  }

  /** Minimum distinct shared 3-gram shingles for a contamination hit,
    * and the shingle document-frequency cap. Both sides of the oracle
    * are generated from these constants. */
  private[operators] val DecontamMinOverlap = 5
  private[operators] val DecontamMaxDf = 50

  /** Decontamination: flag EVAL docs whose distinct 3-gram shingles
    * overlap some TRAIN doc in ≥ [[DecontamMinOverlap]] shingles — the
    * benchmark-containment check run before training. Split membership
    * reuses `dataset_split`'s deterministic hash buckets (train < 900,
    * eval = the test split ≥ 950), so the check audits exactly the split
    * the pipeline would ship.
    *
    * Shingles with document frequency > [[DecontamMaxDf]] are dropped
    * BEFORE the equi-join — the standard guard that keeps the join from
    * exploding at 100 TB: a boilerplate n-gram present in half the
    * corpus contributes |train|×|eval| join rows while carrying no
    * contamination signal. The join itself is eval-side-bounded (the
    * eval split is a few percent of the corpus), grouped into per-pair
    * overlap counts — never an all-pairs comparison. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame =
    decontamFrom(spark, sfDir)((_, train) => train)

  /** [[decontaminate]] with a Bloom prefilter on the train side: build a
    * Bloom filter over the EVAL split's rare shingles (a few percent of
    * the corpus — the small side by construction) and pre-drop every
    * train shingle the filter rejects BEFORE the equi-join. False
    * positives only pass extra rows into the exact join, so the result
    * is bit-identical to the exact path (same oracle SQL) — but at
    * 100 TB the filter removes the overwhelming majority of the
    * train-side (doc, shingle) volume before it ever shuffles: the
    * classic bloom-join shape for a small⋈huge containment check.
    * Built EXACTLY like Spark's own `InjectRuntimeFilter` plans it: a
    * [[BloomFilterAggregate]] over `xxhash64(sh)` on the eval side runs
    * as a [[ScalarSubquery]], and the codegen'd
    * [[BloomFilterMightContain]] probe consumes the subquery result —
    * the sketch is computed once in the subquery job and shipped with
    * the stage's task binary (one broadcast per stage), never embedded
    * as a multi-MB foldable literal in the plan / generated code
    * (round-8 shape; at 100 TB an eval split's sketch can reach GBs —
    * a plan-sized literal does not survive that, a subquery result
    * does). Sketch geometry is fixed (2²⁰ items / 2²³ bits = 1 MiB)
    * rather than sized by a driver-side pre-count job: an
    * undersized sketch only raises fpp, and false positives merely pass
    * extra rows into the exact join, so the result is bit-identical to
    * [[decontaminate]] either way (same oracle SQL). An empty eval
    * split yields a null sketch → `might_contain` is null → the
    * prefilter drops every train row, which is exactly right. */
  def decontaminateBloom(spark: SparkSession, sfDir: String): DataFrame =
    decontamFrom(spark, sfDir) { (eval, train) =>
      import org.apache.spark.sql.GraftColumnBridge
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      val sketch = eval.select(GraftColumnBridge.column(
        new BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(col("sh"))),
          Literal(1L << 20), Literal(1L << 23)).toAggregateExpression()).as("bf"))
      val probe = GraftColumnBridge.column(BloomFilterMightContain(
        ScalarSubquery(sketch.queryExecution.analyzed),
        GraftColumnBridge.expression(xxhash64(col("sh")))))
      train.filter(probe)
    }

  /** Shared decontamination core. `prefilter(evalShingles, trainShingles)`
    * may thin the train side (e.g. the Bloom prefilter) — it must only
    * ever DROP rows that cannot join, never add or mutate. */
  /** The deterministic 1000-bucket split key shared by the whole
    * decontamination family (train < 900 ≤ holdout < 950 ≤ eval). */
  private def splitBucket = PipelineOps.keyHash("spl") % 1000

  /** The corpus's rare bucketed shingles — the decontamination base:
    * distinct (doc, 3-gram) pairs df-capped to rare shingles, with the
    * split bucket attached. ONE long-lived cache, ONE pass over the
    * shingle pipeline. The round-8 shape held TWO eager persists (`sh`,
    * then `rare` derived from it) for the whole query — that double
    * residency under memory pressure made the decontam pair the round-8
    * bench's only regression. The distinct-shingle base still needs a
    * cache (its two consumers — the df aggregate and the semi-join
    * probe — are separate plan branches, and AQE does not stage-reuse
    * across them: verified, the probe branch re-ran the
    * scan+normalize+explode when unpersisted), but it is TRANSIENT:
    * dropped the moment `rare` materializes, so only `rare` stays
    * resident for the query's lifetime. Deliberately a groupBy +
    * semi-join, NOT a count-over-window: the count aggregates with
    * map-side partials and a skewed probe partition is AQE-splittable,
    * while a window group on a boilerplate shingle (10⁸ docs at 100 TB)
    * is one unsplittable task. */
  private def rareBucketedShingles(spark: SparkSession, sfDir: String): DataFrame = {
    // deterministic fill-before-branch (round-2 discipline)
    val dsh = Caches.materialize(shinglesOf(normed(spark, sfDir), 3).distinct())
    val rareSh = dsh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= DecontamMaxDf).select(col("sh"))
    val rare = dsh.join(rareSh, Seq("sh"), "left_semi")
      .withColumn("bucket", splitBucket).transform(Caches.materialize)
    Caches.dropTransient(dsh) // transient: dead once rare is built
    rare
  }

  /** The OFFLINE eval-side decontamination index — (eval_id, sh) rows of
    * the eval split's rare shingles. The artifact
    * [[graft.streaming.StreamingDecontaminate]] builds once and probes
    * every arriving micro-batch against; a match requires membership in
    * this (already df-capped) set, so the stream side needs NO corpus
    * statistics of its own and its verdicts agree with the batch path
    * exactly (StreamingSpec parity). */
  private[graft] def evalShingleIndex(spark: SparkSession, sfDir: String): DataFrame =
    rareBucketedShingles(spark, sfDir).filter(col("bucket") >= 950)
      .select(col("doc_id").as("eval_id"), col("sh"))

  /** The train-split documents (the stream side of the streaming
    * decontamination parity test). */
  private[graft] def trainSplitDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fannedDocuments(spark, sfDir).filter(splitBucket < 900)
      .select(col("doc_id"), col("text"))

  /** One micro-batch's contamination incidents against the offline
    * index: every (arriving train doc, eval doc) pair sharing ≥
    * [[DecontamMinOverlap]] rare shingles. Per-batch stream-static join
    * — each doc's shingle set is self-contained, so NO cross-batch
    * state is needed and batch boundaries cannot change any incident. */
  private[graft] def decontamIncidents(batch: DataFrame, evalIdx: DataFrame): DataFrame =
    shinglesOf(batch.select(col("doc_id"), normCol.as("norm")), 3).distinct()
      .join(evalIdx, Seq("sh"))
      .groupBy(col("doc_id").as("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= DecontamMinOverlap)

  private def decontamFrom(spark: SparkSession, sfDir: String)(
      prefilter: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val rare = rareBucketedShingles(spark, sfDir)
    val evalSh = rare.filter(col("bucket") >= 950)
    val trainSh = prefilter(evalSh, rare.filter(col("bucket") < 900))
    val overlaps = evalSh.as("e")
      .join(trainSh.as("t"), col("e.sh") === col("t.sh"))
      .groupBy(col("e.doc_id").as("doc_id"), col("t.doc_id").as("train_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= DecontamMinOverlap)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("overlap").desc, col("train_id"))
    val best = overlaps.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("train_id").as("contaminated_by"), col("overlap"))
    Tables.fannedDocuments(spark, sfDir).select(col("doc_id")).filter(splitBucket >= 950)
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("contaminated_by"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        col("contaminated_by").isNull.cast("int").as("clean"))
      .orderBy("doc_id")
  }

  /** Prefix window for the character-level verify tier: full-document
    * Levenshtein is O(len²) per pair — unbounded at 100 TB — so the
    * standard practice is a fixed window (or banded DP); 64 chars keeps
    * per-pair work constant while still separating near-dups from
    * band-collision noise. */
  private[graft] val EditPrefix = 64

  /** Character-level verify tier over the LSH candidate pairs: exact
    * Levenshtein distance between the documents' normalized-text
    * prefixes. Complements the set-based `ngram_jaccard` verify (order-
    * insensitive) with an order-SENSITIVE signal; cost is candidate-
    * bounded like every verify stage — never an all-pairs scan, and the
    * DP window caps per-pair work at [[EditPrefix]]². */
  def editDistancePairs(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE persisted normalized base feeds the shingle pipeline AND both
    // prefix join sides — without it the documents scan+normalization
    // runs three times per query (this file's one-base-per-query rule)
    val base = Caches.materialize(normed(spark, sfDir))
    val nb = base.select(col("doc_id"), substring(col("norm"), 1, EditPrefix).as("prefix"))
    val cand = candidatePairsFrom(docShinglesOf(base))
    cand
      .join(nb.as("na"), col("na.doc_id") === col("doc_a"))
      .join(nb.as("nb"), col("nb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("na.prefix"), col("nb.prefix")).as("edit_dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard for the LSH candidate pairs: distinct 3-gram
    * sets intersected per pair row ([[overlapOf]]),
    * |A∪B| = |A|+|B|−|A∩B|. */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    pairOverlap(spark, sfDir)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") /
          (col("sa") + col("sb") - col("i")).cast("double"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Record-linkage SCORING tier over the LSH candidate pairs:
    * Jaro–Winkler similarity on the [[EditPrefix]]-char normalized
    * prefixes — [[editDistancePairs]]'s similarity twin. Levenshtein
    * reports raw edit counts (length-sensitive, no prefix emphasis);
    * JW is the record-linkage standard (Winkler 1990, US Census) that
    * normalizes to [0,1] and boosts shared prefixes — the score a
    * linkage pipeline actually thresholds on.
    *
    * Computed by graft's native codegen expression
    * ([[graft.functions.JaroWinkler]] — a Scala UDF here would break
    * the whole-stage span of this verify tier); the oracle is DuckDB's
    * builtin `jaro_winkler_similarity` (semantics pinned byte-for-byte
    * in [[graft.functions.JaroWinklerImpl]]'s doc, round-6 both sides).
    * Cost is candidate-bounded like every verify stage, and the
    * match-window algorithm is O([[EditPrefix]]²) worst case per pair —
    * constant work, never corpus-dependent. */
  def jwPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // one persisted normalized base for shingles + both join sides
    // (editDistancePairs' one-base-per-query discipline)
    val base = Caches.materialize(normed(spark, sfDir))
    val nb = base.select(col("doc_id"), substring(col("norm"), 1, EditPrefix).as("prefix"))
    val cand = candidatePairsFrom(docShinglesOf(base))
    import org.apache.spark.sql.GraftColumnBridge
    cand
      .join(nb.as("na"), col("na.doc_id") === col("doc_a"))
      .join(nb.as("nb"), col("nb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(GraftColumnBridge.column(graft.functions.JaroWinkler(
          GraftColumnBridge.expression(col("na.prefix")),
          GraftColumnBridge.expression(col("nb.prefix")))), 6).as("jw"))
      .orderBy("doc_a", "doc_b")
  }

  /** Pairwise FEED-level shingle Jaccard: how much raw n-gram content
    * each pair of source feeds shares — the corpus-composition probe a
    * pipeline owner reads before merging feeds (near-1 pairs are mirror
    * crawls of the same upstream; the cross-feed dedup budget goes
    * where this matrix is dense).
    *
    * Shape: the shingle explode collapses FIRST to distinct
    * (source, sh) — the per-feed gram SET, the quantity actually being
    * compared — so the self-join on `sh` fans out to at most
    * C(|sources|, 2) rows per gram, bounded by the FEED count squared,
    * never by documents. At 100 TB the distinct is the big shuffle
    * (gram-keyed, map-side combinable); the pair join moves only
    * set-cardinality metadata. With thousands of feeds one would cap
    * per-gram fan-out by dropping grams present in nearly all feeds (a
    * df ceiling — they contribute Jaccard mass everywhere and decide
    * nothing); at 20 feeds the exact form is the oracle-honest choice.
    *
    * The per-doc shingle sets are the MinHash family's
    * ([[docShinglesOf]]; exploding each document's distinct set and
    * taking the source-level distinct equals the source-level distinct
    * of all shingles). */
  def sourceOverlapJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = docShingles(spark, sfDir)
      .join(Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), explode(col("sh")).as("sh")).distinct()
      .transform(Caches.materialize)
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = ss.as("a")
      .join(ss.as("b"), col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("sz").as("sz_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("sz").as("sz_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double"), 6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Thresholds swept by [[dedupThresholdSweep]]. */
  private[operators] val DedupSweepThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Dedup THRESHOLD tuning curve: for each Jaccard cut τ, how many
    * candidate pairs qualify as duplicates and how many documents they
    * touch — the table a pipeline owner reads before fixing the dedup
    * bar (too low deletes paraphrases, too high keeps boilerplate; the
    * elbow of this curve is where the decision gets made, and at 100 TB
    * you cannot afford to re-run the pipeline per candidate τ). One
    * pass over the SAME exact-overlap kernel as `ngram_jaccard` — the
    * candidate-bounded pair table crossed with a 5-row literal
    * threshold frame, two aggregates out; no per-τ recomputation.
    * Thresholds are literals generated from one Scala constant on both
    * sides; the τ comparison uses the round-6 jaccard both engines
    * computed identically. */
  def dedupThresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pj = pairOverlap(spark, sfDir)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") /
          (col("sa") + col("sb") - col("i")).cast("double"), 6).as("jaccard"))
    val th = DedupSweepThresholds.toDF("threshold")
    val e = pj.crossJoin(broadcast(th))
      .filter(col("jaccard") >= col("threshold"))
      .transform(Caches.materialize)
    val nPairs = e.groupBy("threshold").agg(count(lit(1)).as("np"))
    val nDocs = e.select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("threshold").agg(count_distinct(col("d")).as("nd"))
    th.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs"))
      .orderBy("threshold")
  }

  /** Containment similarity |A∩B| / min(|A|,|B|) over the same LSH
    * candidates as [[ngramJaccard]] — the doc-IN-doc detector. Jaccard
    * punishes size asymmetry (a passage wholly embedded in a 100× longer
    * document scores near 0), so training-data pipelines that hunt
    * quotation/wrapping duplicates (news wire inside aggregator pages,
    * README sections vendored into monorepos) score containment instead;
    * same candidate-bounded cost, different normalizer. */
  def minhashContainment(spark: SparkSession, sfDir: String): DataFrame =
    pairOverlap(spark, sfDir)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") /
          least(col("sa"), col("sb")).cast("double"), 6).as("containment"))
      .orderBy("doc_a", "doc_b")

  /** Shared exact-overlap kernel behind [[ngramJaccard]] and
    * [[minhashContainment]]: LSH candidate pairs with the exact shingle
    * intersection count `i` and set sizes `sa`/`sb`. */
  private def pairOverlap(spark: SparkSession, sfDir: String): DataFrame =
    pairOverlapWithSig(spark, sfDir)._2

  /** [[pairOverlap]] plus the persisted signature table it already
    * builds internally — so [[minhashEstError]] can score the sketch
    * against the exact overlap WITHOUT a second shingle/signature pass
    * (the one-base-per-query rule). */
  private def pairOverlapWithSig(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val ds = docShingles(spark, sfDir)
    val sig = Caches.materialize(signatureFrom(ds))
    (sig, overlapOf(candidatePairsFromSig(sig), ds))
  }

  /** Exact overlap of candidate pairs `(doc_a, doc_b)` over a per-document
    * shingle frame ([[docShinglesOf]]): each pair row picks up both
    * documents' sets and intersects them in place — `i` counts the shared
    * non-null shingles (a null shingle never equi-joins in the oracle),
    * `sa`/`sb` are the set sizes. Pairs that share nothing are dropped,
    * the oracle's inner-join semantics. The joins move one row per
    * document, never one row per (doc, shingle). */
  private[operators] def overlapOf(cand: DataFrame, ds: DataFrame): DataFrame =
    cand
      .join(ds.as("a"), col("a.doc_id") === col("doc_a"))
      .join(ds.as("b"), col("b.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(array_compact(col("a.sh")), array_compact(col("b.sh"))))
          .cast("long").as("i"),
        size(col("a.sh")).cast("long").as("sa"),
        size(col("b.sh")).cast("long").as("sb"))
      .filter(col("i") > 0)

  /** Dedup threshold-tuning curve: candidate pairs bucketed by exact
    * Jaccard decile — the histogram a dedup operator reads to PLACE the
    * keep/drop threshold (a bimodal curve separates true clones from
    * band noise; mass piling just under a proposed cutoff warns it is
    * about to split clone families). Integer bucket arithmetic
    * (`floor(j·10)` via int cast of round-6 values scaled — stated
    * identically in SQL), candidate-bounded like the whole family;
    * output ≤ 11 rows. */
  def jaccardBandHistogram(spark: SparkSession, sfDir: String): DataFrame =
    pairOverlap(spark, sfDir)
      .select((floor(round(col("i").cast("double") /
        (col("sa") + col("sb") - col("i")).cast("double"), 6) * 10.0) / 10.0)
        .as("band_lo"))
      .groupBy(col("band_lo"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("band_lo")

  /** MinHash sketch-accuracy audit: per LSH candidate pair, the
    * signature's Jaccard ESTIMATE (matching pieces / [[MinhashPieces]])
    * against the exact Jaccard, summarized as mean/max absolute error —
    * the number that justifies the sketch's piece count before a 100 TB
    * dedup run trusts it (the analytic stderr at 8 pieces is
    * √(J(1−J)/8) ≈ 0.17 worst-case; the audit measures the real
    * corpus). Reuses [[pairOverlapWithSig]]'s one persisted base for
    * BOTH the exact overlap and the signatures — no second shingle
    * pass; per-pair errors are round-6 DECIMAL so the mean is
    * shuffle-order exact. */
  def minhashEstError(spark: SparkSession, sfDir: String): DataFrame = {
    val (sig, po) = pairOverlapWithSig(spark, sfDir)
    val matches = (1 to MinhashPieces).map(k =>
      when(col(s"a.mh$k") === col(s"b.mh$k"), 1).otherwise(0)).reduce(_ + _)
    val jtrue = round(col("i").cast("double") /
      (col("sa") + col("sb") - col("i")).cast("double"), 6)
    po.join(sig.as("a"), col("a.doc_id") === col("doc_a"))
      .join(sig.as("b"), col("b.doc_id") === col("doc_b"))
      .select(round(abs(matches.cast("double") / lit(MinhashPieces.toDouble) - jtrue), 6)
        .cast("decimal(18,6)").as("err"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("err")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_abs_err"),
        max(col("err")).cast("double").as("max_abs_err"))
      .filter(col("n_pairs") >= 1)
  }

  /** Connected components over the LSH candidate-pair graph: every doc
    * labeled with the MINIMUM doc_id reachable through near-dup pairs
    * (singletons label themselves). This is the step an actual
    * training-data dedup runs after pair generation — groups, not pairs,
    * decide what is kept. The fixpoint loop itself lives in
    * [[GraphOps.connectedComponents]] (shared with the embedding-side
    * `embed_dedup_groups`): it runs ONLY over docs that touch an edge —
    * singletons can never change label, and in a deduplicated corpus
    * they are the vast majority — and the untouched docs join back as
    * themselves here. */
  private def dedupGroupsUnsorted(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = candidatePairsFrom(docShingles(spark, sfDir))
    val labels = GraphOps.connectedComponents(cand, "doc_a", "doc_b")
      .withColumnRenamed("node_id", "doc_id")
    Tables.fannedDocuments(spark, sfDir).select(col("doc_id"))
      .join(labels.withColumnRenamed("group_id", "g"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("g"), col("doc_id")).as("group_id"))
  }

  def dedupGroups(spark: SparkSession, sfDir: String): DataFrame =
    dedupGroupsUnsorted(spark, sfDir).orderBy("doc_id")

  /** INCREMENTAL group-label maintenance (r17 verdict item 6) — the
    * continuous-ingestion counterpart of [[dedupGroups]], completing
    * what [[dedupIncremental]] starts: that query issues per-batch
    * VERDICTS against the index but leaves the group LABELS a full
    * recompute; this one maintains the labels themselves. The arriving
    * batch (doc_id % 10 = 9, the dedupIncremental convention) lands on
    * a corpus whose components are already labeled: delta edges (any
    * pair touching a new doc) contract to their endpoints' current
    * representatives and merge through
    * [[GraphOps.incrementalComponents]] — CC runs only over the
    * touched-component contraction, never the corpus graph.
    *
    * The ORACLE states the full recompute over the edge union
    * (verbatim the dedup_groups SQL): the gate proves delta maintenance
    * is bit-equal to recomputation on real data. Candidate generation
    * is per-pair independent (banding is per-doc), so
    * cand(union) = cand(old,old) ⊎ cand(touching new) exactly. */
  def dedupGroupsIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    def isNew(c: org.apache.spark.sql.Column) = c % 10 === 9
    val cand = candidatePairsFrom(docShingles(spark, sfDir))
      .transform(Caches.materialize)
    val oldPairs = cand.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
    val deltaPairs = cand.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
    val oldLabels = GraphOps.connectedComponents(oldPairs, "doc_a", "doc_b")
    val merged = GraphOps.incrementalComponents(oldLabels, deltaPairs,
      "doc_a", "doc_b")
    Tables.fannedDocuments(spark, sfDir).select(col("doc_id"))
      .join(merged.withColumnRenamed("node_id", "doc_id")
        .withColumnRenamed("group_id", "g"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("g"), col("doc_id")).as("group_id"))
      .orderBy("doc_id")
  }

  /** Canonical keep-list from [[dedupGroups]]: one representative doc per
    * component (the min-id member) with its component size — the rows a
    * dedup pipeline keeps and the dup count it reports. */
  def dedupCanonical(spark: SparkSession, sfDir: String): DataFrame =
    dedupGroupsUnsorted(spark, sfDir)
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("group_sz"))
      .select(col("group_id").as("doc_id"), col("group_sz"))
      .orderBy("doc_id")

  /** Per-source dedup dashboard: of each source's documents, how many a
    * global keep-min dedup would REMOVE (their component representative
    * lives elsewhere) — the table that tells a crawl operator which
    * feeds are mostly clones before the mix is finalized. One doc-keyed
    * join of the shared CC labels against (doc_id, source), then a
    * sources-sized aggregate with map-side partials. */
  def dedupRateBySource(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), col("source"))
      .join(dedupGroupsUnsorted(spark, sfDir), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("group_id"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") * 100.0 / col("n_docs").cast("double"), 6)
          .as("dup_pct"))
      .orderBy("source")

  /** SOFT dedup audit: instead of keep-one-per-component (hard dedup),
    * keep each member independently with probability 1/|component| —
    * expected one survivor per clone family, but duplicates retain a
    * chance proportional to their family's share, preserving the
    * corpus' natural redundancy distribution (the softer alternative
    * pipelines reach for when hard dedup over-flattens boilerplate-heavy
    * domains). Membership is a pure deterministic function of doc_id
    * (the dataset_split md5 fence, seed "soft") modulo the component
    * size, so the decision is retry-stable and never moves as other
    * docs arrive into OTHER components. Reports the per-source keep
    * rate next to the hard floor 1/sz would give.
    *
    * Scale: the CC labels are the shared dedup_groups kernel; the size
    * frame is component-bounded; the keep decision is a map-side
    * expression — nothing new shuffles beyond one group-keyed size
    * join. (The 28-bit hash space is not an exact multiple of sz, so
    * keep probability is 1/sz ± 2⁻²⁸ — documented bias, invisible at
    * any real component size.) */
  def softDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val groups = dedupGroupsUnsorted(spark, sfDir)
    val sz = groups.groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
    val kept = groups.join(sz, Seq("group_id"))
      .select(col("doc_id"),
        when(PipelineOps.keyHash("soft") % col("sz") === 0, 1L).otherwise(0L).as("kept"))
    Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), col("source"))
      .join(kept, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("kept_share"))
      .orderBy("source")
  }

  /** Quality-aware survivorship: within each duplicate component the
    * HIGHEST-[[qualityScore]] member survives (min doc_id on ties) —
    * how production dedup actually picks representatives: keep-min-id
    * ([[dedupCanonical]]) is an arbitrary choice that discards the
    * best-written copy whenever a low id happens to be the boilerplate
    * variant; survivorship policy is the step after grouping in every
    * MDM/dedup pipeline. One doc-keyed join of the shared CC labels
    * against the quality frame, then one max-struct aggregate per
    * component (associative — map-side combined; no window, no second
    * pass). Output is component-sized. */
  def dedupSurvivorship(spark: SparkSession, sfDir: String): DataFrame =
    dedupGroupsUnsorted(spark, sfDir)
      .join(qualityScoredUnsorted(spark, sfDir).select(col("doc_id"), col("quality")),
        Seq("doc_id"))
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("group_sz"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("group_id"), (-col("m.nid")).as("survivor_id"),
        col("m.q").as("quality"), col("group_sz"))
      .orderBy("group_id")

  /** Duplicate-cluster size histogram (the WIMBD-style corpus
    * diagnostic): how many dedup components exist at each size, and how
    * many documents they hold. Size 1 = unique docs; a heavy tail here
    * means the corpus is dominated by a few huge clone families — the
    * first chart any dedup run reports. Two integer aggregates over
    * [[dedupGroups]]'s labels; the histogram itself is ≤ max-cluster-size
    * rows — metadata-sized at any corpus scale. */
  def dupClusterStats(spark: SparkSession, sfDir: String): DataFrame =
    dedupGroupsUnsorted(spark, sfDir)
      .groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_groups"))
      .select(col("sz").as("group_sz"), col("n_groups"),
        (col("sz") * col("n_groups")).as("n_docs"))
      .orderBy("group_sz")

  // -------------------------------------------------------------- SimHash
  /** Word tokens hashed to 28 bits (first 7 md5 hex digits) — shared by
    * SimHash and the TF featurizer so the two can never drift apart. */
  private def tokenHashes(spark: SparkSession, sfDir: String): DataFrame =
    tokenHashesOf(normed(spark, sfDir))

  /** Token hashes from a normalized base. `[a-z0-9]+` runs are invariant
    * under the normalization (lowercase + whitespace collapse never
    * touches an alnum run), so extracting from `norm` is byte-identical
    * to extracting from `lower(text)` — which is what the oracle states —
    * while letting queries share one scanned+persisted base between the
    * token and shingle pipelines. */
  private def tokenHashesOf(normDf: DataFrame): DataFrame =
    normDf
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(norm, '[a-z0-9]+', 0)")).as("t"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint)").as("hv"))

  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashUnsorted(spark, sfDir).orderBy("doc_id")

  /** Signature width. 60 bits (not the token hash's 28) because the
    * band-bucket space must SCALE WITH THE CORPUS: banding collisions
    * grow as n²/2^bandBits per band, so 4×7-bit bands (128 buckets per
    * band) saturate at ~10⁴ docs and the candidate join degenerates
    * quadratic — measured round 10: the 10× replica grew simhash_neardup
    * 16× (24 s) under 7-bit bands vs 6.2× (8.8 s) under 15-bit bands
    * (32,768 buckets/band; ~6× is the floor here — the clone-replica
    * construction grows TRUE pair output 550×, same as the MinHash
    * family). Rule of thumb: bandBits ≳ log2(n_docs); at
    * petabyte corpus sizes widen further (two longs / 8×16-bit bands).
    * 60 = 4×15 keeps every band power-of-two-aligned and the signature
    * comfortably inside a signed long. */
  private val SimhashBits = 60

  /** SimHash-specific token hash: the first 15 md5 hex digits (60 bits).
    * Deliberately NOT the shared 28-bit [[tokenHashes]] — the TF
    * featurizer wants a small fixed dim space (hv % 64), while SimHash
    * vote quality and band selectivity want every signature bit
    * independent, which needs the full-width hash. */
  private def simhashTokenHashes(spark: SparkSession, sfDir: String): DataFrame =
    normed(spark, sfDir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(norm, '[a-z0-9]+', 0)")).as("t"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)").as("hv"))

  private def simhashUnsorted(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = simhashTokenHashes(spark, sfDir)
    // one aggregation pass: 60 ±1-vote sums as separate aggregate
    // expressions (all codegen'd; single shuffle on doc_id) instead of a
    // 60×-row explode
    val votes = (0 until SimhashBits).map { b =>
      val p = 1L << b
      sum(expr(s"case when (hv div ${p}L) % 2 = 1 then 1 else -1 end")).as(s"s$b")
    }
    val sig = (0 until SimhashBits).map { b =>
      val p = 1L << b
      when(col(s"s$b") > 0, lit(p)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashed.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.cast("long").as("simhash"))
  }

  /** SimHash bands: 4 bands × 15 bits over the 60-bit signature (see
    * [[SimhashBits]] for why the band space is this wide). */
  private val SimhashBands = 4
  private val SimhashBandBits = 15
  /** Near-dup Hamming bound. With ≤ [[SimhashHammingMax]] differing bits
    * and [[SimhashBands]] bands, pigeonhole leaves at least one band
    * intact — so the band-bucket join is LOSSLESS for this bound: the
    * banded plan returns exactly the pairs a quadratic scan would. */
  private val SimhashHammingMax = SimhashBands - 1

  /** SimHash near-duplicate pairs: Hamming distance ≤ 3 over the 60-bit
    * signature. The scale path is the same candidate-generation shape as
    * MinHash-LSH — a band-bucket equi-join (4 bands × 15 bits), then an
    * exact `bit_count(xor)` filter on only the candidates — but here the
    * banding loses NOTHING (see [[SimhashHammingMax]]), so the oracle
    * can state the identical banded plan and the result is still the
    * exact Hamming ball. One signature pass, one self-join on band
    * buckets, never an all-pairs comparison. */
  def simhashNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    // sig feeds both sides of the band self-join: persist EAGERLY
    // (mirroring candidatePairsFrom) so the token pipeline runs once
    val sig = Caches.materialize(simhashUnsorted(spark, sfDir))
    val bandCols = (0 until SimhashBands).map { b =>
      expr(s"(simhash div ${1L << (SimhashBandBits * b)}L) % ${1 << SimhashBandBits}")
    }
    val bands = sig.select(col("doc_id"), col("simhash"),
        posexplode(array(bandCols: _*)))
      .select(col("doc_id"), col("simhash"),
        col("pos").as("band_no"), col("col").as("bh"))
    bands.as("a").join(bands.as("b"),
        col("a.band_no") === col("b.band_no") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      // filter BEFORE the distinct shuffle: hamming is functionally
      // determined by the pair, so the result is identical and only the
      // true near-dup pairs get shuffled, not every bucket collision
      .filter(col("hamming") <= SimhashHammingMax)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash-vs-SimHash candidate-pair agreement — the method-selection
    * diagnostic a dedup operator reads before standardizing on one
    * index: the two families catch DIFFERENT duplicates (MinHash is
    * set-overlap — robust to reordering; SimHash is a weighted profile
    * — robust to small edits), and the overlap/only-counts of their
    * pair sets on a sample decide whether one index suffices or both
    * run. One full-outer join of the two (already candidate-bounded)
    * pair tables, reduced to a one-row summary with the pair-set
    * Jaccard — both pipelines keep their own kernels, so this query
    * measures the methods exactly as deployed. */
  def dedupMethodAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val mh = candidatePairsFrom(docShingles(spark, sfDir))
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_mh"))
    val sh = simhashNeardup(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_sh"))
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("in_mh").isNotNull && col("in_sh").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("in_sh").isNull, 1L).otherwise(0L)).as("n_minhash_only"),
        sum(when(col("in_mh").isNull, 1L).otherwise(0L)).as("n_simhash_only"))
      // the no-groupBy aggregate yields one NULL row on an empty corpus —
      // filter it so empty input degrades to empty (stated in the oracle)
      .filter(col("n_both").isNotNull)
      .select(col("n_both"), col("n_minhash_only"), col("n_simhash_only"),
        round(col("n_both").cast("double") /
          greatest(col("n_both") + col("n_minhash_only") + col("n_simhash_only"),
            lit(1L)).cast("double"), 6).as("pair_jaccard"))
  }

  // ---------------------------------------------------------- featurization
  /** Hashing-trick term-frequency embedding: token → md5-derived bucket in
    * [0, 64) → per-(doc, dim) counts. The standard featurizer shape at
    * 100 TB: one explode + one groupBy, integer-exact, no vocabulary
    * broadcast. Long format (doc_id, dim, tf) — the sparse layout
    * downstream ops join on. */
  private[operators] def tfUnsorted(spark: SparkSession, sfDir: String): DataFrame =
    tfOf(normed(spark, sfDir))

  private def tfOf(normDf: DataFrame): DataFrame =
    tokenHashesOf(normDf)
      .select(col("doc_id"), (col("hv") % 64).as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("tf"))

  def tfEmbedding(spark: SparkSession, sfDir: String): DataFrame =
    tfUnsorted(spark, sfDir).orderBy("doc_id", "dim")

  /** Content-vector cosine over the MinHash-LSH candidate pairs: the
    * embedding-cosine near-dup path where the embedding is derived from
    * the text itself. Dot products and norms are integer-exact sums of
    * tf products (no float accumulation anywhere until the final
    * divide), joined on the sparse dim — never a dense cross join. */
  def docEmbedSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE persisted normalized base feeds both the token (tf) and shingle
    // (candidate) pipelines — `documents` is scanned+normalized exactly
    // once per query instead of once per pipeline (round-3 verdict,
    // What's wrong #7). Then eager persists: tf is consumed by three
    // independent stages in one job (unsorted — the output orderBy is the
    // only sort), and cand is consumed twice (dot products + the
    // pair-preserving outer join); lazily-cached either would be
    // recomputed per consuming branch
    val base = Caches.materialize(normed(spark, sfDir))
    val tf = Caches.materialize(tfOf(base))
    val norms = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val cand = Caches.persist(candidatePairsFrom(docShinglesOf(base)))
    val candCount = cand.count()
    // Semi-filter the corpus-wide TF table down to docs that appear in a
    // candidate pair before the sparse-dim join: never shuffle the full
    // corpus into a join whose left side is the (bounded) LSH candidate
    // set. The candidate lists are corpus-dependent, so the broadcast
    // hint only applies under the shared row gate (shuffle semi-join
    // above it).
    val gate = graft.api.GraftConfig.broadcastGateRows(spark)
    def sideFilter(docs: DataFrame): DataFrame =
      if (candCount <= gate) broadcast(docs) else docs
    val aDocs = cand.select(col("doc_a").as("doc_id")).distinct()
    val bDocs = cand.select(col("doc_b").as("doc_id")).distinct()
    val xs = tf.join(sideFilter(aDocs), Seq("doc_id"), "left_semi")
    val ys = tf.join(sideFilter(bDocs), Seq("doc_id"), "left_semi")
    val dots = cand
      .join(xs.as("x"), col("x.doc_id") === col("doc_a"))
      .join(ys.as("y"), col("y.doc_id") === col("doc_b") && col("y.dim") === col("x.dim"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("x.tf") * col("y.tf")).as("dot"))
    // total over ALL candidate pairs: a pair sharing no dim (or with a
    // token-less side) scores 0 rather than silently disappearing
    cand
      .join(dots, Seq("doc_a", "doc_b"), "left_outer")
      .join(norms.as("na"), col("na.doc_id") === col("doc_a"), "left_outer")
      .join(norms.as("nb"), col("nb.doc_id") === col("doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"),
        when(coalesce(col("na.n2"), lit(0L)) === 0 ||
             coalesce(col("nb.n2"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(coalesce(col("dot"), lit(0L)).cast("double") /
            (sqrt(col("na.n2").cast("double")) * sqrt(col("nb.n2").cast("double"))), 6))
          .as("cos"))
      .orderBy("doc_a", "doc_b")
  }

  // -------------------------------------------------------- text analysis
  /** Per-document stats: chars, words, unique words, avg word length. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fannedDocuments(spark, sfDir).select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      size(split(trim(col("text")), "\\s+")).as("n_words"),
      size(array_distinct(split(trim(col("text")), "\\s+"))).as("n_unique_words"),
      round(length(regexp_replace(col("text"), " ", "")).cast("double") /
        size(split(trim(col("text")), "\\s+")).cast("double"), 6).as("avg_word_len"))
      .orderBy("doc_id")

  /** Per-document character-level Shannon entropy (nats) — the classic
    * cheap gibberish detector (random byte soup scores near ln(alphabet),
    * repeated-character spam near 0; natural text sits in a narrow band
    * a filter can gate on). Complements [[qualityScore]]'s lexical
    * signals with a distributional one.
    *
    * Determinism: each term −(c/n)·ln(c/n) is rounded to 6 dp and summed
    * as DECIMAL(18,6) — exact under any shuffle order (the BM25/NLL
    * discipline). Scale shape: char explode → (doc, char) aggregate with
    * map-side partials (≤ alphabet-size rows per doc), per-doc totals by
    * a doc-keyed aggregate joined back on the same key — both sides
    * already co-partitioned — then one more doc-keyed aggregate. */
  def charEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    // Eager persist: cc feeds both the totals aggregate and the term
    // join; the static plan carries the char explode twice
    // (graft.Explain). AQE's runtime exchange reuse can coalesce the
    // identical exchanges, but the persist makes the one-explode
    // guarantee explicit and engine-version-independent (measured a
    // wash at these SFs, where reuse does kick in). Released by the
    // Caches scope like its siblings.
    val cc = normed(spark, sfDir)
      .select(col("doc_id"), explode(expr("regexp_extract_all(norm, '.', 0)")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .transform(Caches.materialize)
    val tot = cc.groupBy(col("doc_id")).agg(sum(col("c")).as("nc"))
    val p = col("c").cast("double") / col("nc").cast("double")
    cc.join(tot, Seq("doc_id"))
      .select(col("doc_id"), col("nc"),
        round(-p * log(p), 6).cast("decimal(18,6)").as("term"))
      .groupBy(col("doc_id"), col("nc"))
      .agg(sum(col("term")).cast("double").as("entropy"))
      .select(col("doc_id"), col("nc").as("n_chars"), col("entropy"))
      .orderBy("doc_id")
  }

  /** Corpus language distribution. */
  def langDist(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fannedDocuments(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"), 6).as("avg_chars"))
      .orderBy("lang")

  /** Duplication INFLATION per source — the curation report that prices
    * a dedup run source-by-source: docs and chars carried vs the
    * canonical (global min-doc_id per content hash) share, with the char
    * inflation factor. A source whose canonicals carry none of its bytes
    * is pure duplication of other sources (inflation NULL — division by
    * an empty canonical set, stated identically in SQL). Scale shape:
    * the dedup_exact kernel (one hash shuffle + per-hash window) feeding
    * one source-keyed map-side-combinable aggregate; text never shuffles
    * (the md5 does). */
  def dupInflationBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    Tables.fannedDocuments(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("content_hash"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_canonical"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("rn") === 1, col("n_chars")).otherwise(lit(0L)))
          .as("canonical_chars"))
      .select(col("source"), col("n_docs"), col("n_canonical"),
        col("total_chars"), col("canonical_chars"),
        round(col("total_chars").cast("double") /
          when(col("canonical_chars") === 0, lit(null))
            .otherwise(col("canonical_chars")).cast("double"), 6)
          .as("char_inflation"))
      .orderBy("source")
  }

  /** Language-mix Shannon entropy per source (nats) — the diversity
    * audit a multilingual mix plan reads next to `source_mix` /
    * `temperature_mix`: a source at entropy 0 is monolingual, one near
    * ln(n_langs) is uniformly mixed. Determinism: the char_entropy
    * discipline — each −(c/n)·ln(c/n) term is round-6 DECIMAL(18,6),
    * summed exactly under any shuffle order. Scale shape: two cascaded
    * map-side-combinable aggregates over (source, lang) — key-space
    * cost, never row-space. */
  def langEntropyBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.fannedDocuments(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
    counts.join(tot, Seq("source"))
      .select(col("source"),
        round(-(col("c").cast("double") / col("n").cast("double")) *
          log(col("c").cast("double") / col("n").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("term"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        sum(col("term")).cast("double").as("lang_entropy"))
      .orderBy("source")
  }

  /** Stopword-profile language ID (n-gram heuristic): score each language
    * by its function-word hit count in the normalized text; argmax with a
    * fixed tie-break order. Pure scalar expressions — fully codegen'd. */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val padded = concat(lit(" "), normCol, lit(" "))
    def score(words: Seq[String]): Column =
      words.map(w => hits(padded, s" $w ")).reduce(_ + _)
    val en = score(Seq("the", "and", "a", "of"))
    val es = score(Seq("el", "los", "las", "de"))
    val fr = score(Seq("le", "et", "les", "une"))
    val de = score(Seq("der", "und", "die", "das"))
    Tables.fannedDocuments(spark, sfDir).select(
      col("doc_id"), col("lang"),
      en.as("score_en"), es.as("score_es"), fr.as("score_fr"), de.as("score_de"),
      when(en >= es && en >= fr && en >= de, lit("en"))
        .when(es >= fr && es >= de, lit("es"))
        .when(fr >= de, lit("fr"))
        .otherwise(lit("de")).as("predicted_lang"))
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix: predicted vs labeled language with
    * per-cell doc counts — the evaluation table a pipeline publishes for
    * any classifier-shaped filter before trusting it at 100 TB (where a
    * few-percent systematic misroute is millions of documents). Reuses
    * [[langId]]'s scoring verbatim; the matrix aggregate is
    * |langs|² cells — metadata-sized — with map-side partials. */
  def langidConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted_lang")

  /** Token counting: whitespace words plus a BPE-ish regex segmentation
    * (alnum runs | single non-alnum-non-space marks). */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fannedDocuments(spark, sfDir).select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]', 0)")).as("n_bpe_tokens"),
      round(size(expr("regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]', 0)")).cast("double") * 100.0 /
        greatest(length(col("text")), lit(1)).cast("double"), 6).as("tokens_per_100_chars"))
      .orderBy("doc_id")

  /** Quality score: length, punctuation ratio, stopword signal — the
    * standard cheap pre-training filters, one deterministic double. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    qualityScoredUnsorted(spark, sfDir)
      .select("doc_id", "n_words", "n_punct", "n_stop", "quality")
      .orderBy("doc_id")

  private def qualityScoredUnsorted(spark: SparkSession, sfDir: String): DataFrame = {
    val padded = concat(lit(" "), normCol, lit(" "))
    val nWords = size(split(trim(col("text")), "\\s+"))
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))
    val stop = Seq("the", "a", "and", "of", "to").map(w => hits(padded, s" $w ")).reduce(_ + _)
    Tables.fannedDocuments(spark, sfDir).select(
      col("doc_id"), col("lang"),
      nWords.as("n_words"), punct.as("n_punct"), stop.as("n_stop"),
      round(
        least(lit(1.0), nWords.cast("double") / 200.0) * 0.5 +
        (lit(1.0) - punct.cast("double") / greatest(length(col("text")), lit(1)).cast("double")) * 0.3 +
        least(lit(1.0), stop.cast("double") * 10.0 / greatest(nWords, lit(1)).cast("double")) * 0.2,
        6).as("quality"))
  }

  /** Per-SOURCE quality rollup: doc count and the mean/min/max of the
    * per-doc quality score by feed — the table a curation owner reads
    * to decide which sources need filtering at all (next to
    * `dedup_rate_by_source` and `dup_inflation_by_source` in the
    * per-feed audit family). Determinism: per-doc quality is already
    * round-6; the mean sums those fixed points as exact DECIMAL(18,6)
    * (shuffle-order exact) and rounds the single closing division.
    * Scale shape: the map-only scoring scan feeding one source-keyed
    * map-side-combinable aggregate. */
  def qualityBySource(spark: SparkSession, sfDir: String): DataFrame =
    qualityScoredUnsorted(spark, sfDir).select(col("doc_id"), col("quality"))
      .join(Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality").cast(DecimalType(18, 6))).as("qsum"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
      .select(col("source"), col("n_docs"),
        round(col("qsum").cast("double") / col("n_docs").cast("double"), 6)
          .as("avg_quality"),
        col("min_quality"), col("max_quality"))
      .orderBy("source")

  /** Quality-percentile corpus curation: keep the top half of each
    * language's docs ranked by quality score — the filtering step that
    * follows scoring in a training-data pipeline. RANK-based (row_number
    * against the integer ceiling of n/2, tie-broken on doc_id), not a
    * `score >= median` float comparison, so the cut is deterministic and
    * engine-portable at any scale. The windows partition by language —
    * never one global partition — and the integer bound uses `div`
    * (float division misbuckets past 2^53).
    *
    * Scale note: like [[graft.operators.CorpusOps.pplBuckets]], the
    * per-language rank is one task per language. */
  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    qualityScoredUnsorted(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("rn") <= expr("(n + 1) div 2"))
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- rule-based filtering
  /** The Gopher stop-word list (Rae et al. 2021, Appendix A): presence
    * of at least [[GopherStopMin]] distinct members is the cheap
    * "real prose" signal. */
  private val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val GopherStopMin = 2

  /** Gopher rule-based quality battery (Rae et al. 2021, Appendix A) —
    * the pre-model filter stack every pre-training pipeline runs before
    * any learned scoring: per-document word-count bounds [50, 100k],
    * mean word length bounds [3, 10], symbol-to-word ratio (`#`/`...`)
    * < 0.1, ≥ 80% alphabetic words, and ≥ 2 distinct stop words; plus
    * each rule's boolean, the pass count, and the conjunction `keep`.
    *
    * Map-only: one scan to the presentation sort, every signal a
    * codegen'd string/array expression; ratios are single divisions of
    * exact integers, rounded once (round-6) — shuffle-free and
    * engine-portable. On THIS synthetic corpus the symbol rule is an
    * exact zero for every document and only "the" of the stop list
    * occurs (so `keep` is uniformly false at stop_min = 2) — the
    * columns still carry the full per-rule decisions a real corpus
    * would split on, and the oracle checks every value. */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val words = split(trim(col("text")), " ")
    val nWords = size(words)
    val wordChars = length(regexp_replace(col("text"), " ", ""))
    val symbols = hits(col("text"), "#") + hits(col("text"), "...")
    val alphaWords = expr("size(filter(split(trim(text), ' '), w -> w rlike '[a-z]'))")
    val padded = concat(lit(" "), col("text"), lit(" "))
    val stopDistinct = GopherStops
      .map(w => (instr(padded, s" $w ") > 0).cast("int")).reduce(_ + _)
    Tables.fannedDocuments(spark, sfDir).select(
        col("doc_id"),
        nWords.as("n_words"),
        round(wordChars.cast("double") / nWords.cast("double"), 6).as("mean_wlen"),
        round(symbols.cast("double") / nWords.cast("double"), 6).as("symbol_ratio"),
        round(alphaWords.cast("double") / nWords.cast("double"), 6).as("alpha_frac"),
        stopDistinct.as("stop_distinct"))
      .select(col("doc_id"), col("n_words"), col("mean_wlen"),
        col("symbol_ratio"), col("alpha_frac"), col("stop_distinct"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_words"),
        (col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0).as("r_wlen"),
        (col("symbol_ratio") < 0.1).as("r_symbol"),
        (col("alpha_frac") >= 0.8).as("r_alpha"),
        (col("stop_distinct") >= GopherStopMin).as("r_stop"))
      .withColumn("n_passed",
        Seq("r_words", "r_wlen", "r_symbol", "r_alpha", "r_stop")
          .map(c => col(c).cast("int")).reduce(_ + _))
      .withColumn("keep",
        col("r_words") && col("r_wlen") && col("r_symbol") &&
          col("r_alpha") && col("r_stop"))
      .orderBy("doc_id")
  }

  /** One-row corpus datasheet ("Datasheets for Datasets" — the summary
    * block that heads every corpus release): document/token/language/
    * source counts, exact- and normalized-hash duplicate counts, mean
    * quality, mean document length. Deliberately the CHEAP census —
    * hash-distinct dup counts, not the CC pipeline — so the card costs
    * two aggregate scans at any corpus size: one over raw docs (counts
    * + distincts, Catalyst plans the multi-distinct via one Expand),
    * one over the quality frame (round-6 DECIMAL mean, shuffle-order
    * exact), combined by a broadcast of two one-row frames. */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val census = Tables.fannedDocuments(spark, sfDir).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"),
      count_distinct(col("lang")).as("n_langs"),
      count_distinct(col("source")).as("n_sources"),
      (count(lit(1)) - count_distinct(md5(col("text")))).as("n_exact_dups"),
      (count(lit(1)) - count_distinct(md5(normCol))).as("n_norm_dups"),
      round(sum(col("n_chars").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1)).cast("double"), 6).as("mean_len"))
    val quality = qualityScoredUnsorted(spark, sfDir).agg(
      round(sum(col("quality").cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double"), 6).as("mean_quality"))
    census.crossJoin(broadcast(quality))
      // empty corpus: the no-groupBy aggregates yield one zero/null row
      // — degrade to empty instead (stated identically in the oracle)
      .filter(col("n_docs") > 0)
      .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
        col("n_exact_dups"), col("n_norm_dups"), col("mean_len"),
        col("mean_quality"))
  }

  /** Document fingerprint: md5 over (length, head-64, tail-64) of the
    * normalized text — an O(1)-size sketch for cheap candidate blocking.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    normed(spark, sfDir).select(
      col("doc_id"),
      md5(concat(
        length(col("norm")).cast("string"), lit(":"),
        expr("substring(norm, 1, 64)"), lit(":"),
        expr("substring(norm, greatest(length(norm) - 63, 1), 64)"))).as("fp"))
      .orderBy("doc_id")

  /** Repetition filters (the Gopher-style quality cut dedup can't make:
    * a document that repeats ITSELF): per-doc duplicate-3-gram ratio
    * (1 − distinct/total) and word type-token ratio. Two explode →
    * groupBy(doc_id) pipelines over ONE persisted normalized base (the
    * `documents` scan runs once), joined on doc_id — every stage
    * partitions by doc_id and map-side-combines, so cost is linear in
    * corpus size and no window or aggregate is ever global. Denominators
    * are ≥ 1 by construction ([[shinglesOf]]'s `greatest(…, 1)` floor;
    * `split` of an empty norm yields one empty token). */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Caches.materialize(normed(spark, sfDir))
    val g3 = shinglesOf(base, 3).groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_3grams"),
      countDistinct(col("sh")).as("n_uniq_3grams"))
    val w1 = base
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("t"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_words"),
        countDistinct(col("t")).as("n_uniq_words"))
    g3.join(w1, Seq("doc_id"))
      .select(col("doc_id"), col("n_3grams"), col("n_uniq_3grams"),
        round(lit(1.0) - col("n_uniq_3grams").cast("double") /
          col("n_3grams").cast("double"), 6).as("rep3_ratio"),
        col("n_words"), col("n_uniq_words"),
        round(col("n_uniq_words").cast("double") /
          col("n_words").cast("double"), 6).as("ttr"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- PII scrub
  /** Regex surface of the PII-redaction pass every released training set
    * runs (emails/phones/IPs → typed placeholders). The driver corpus
    * carries no PII, so the query injects a deterministic, doc_id-derived
    * payload first (same convention as the multimodal synthesis: the
    * SCRUB expressions are the product, the injection simulates the
    * data) — the oracle re-derives the injection independently, so a
    * regex-dialect divergence or a missed replacement is hash-visible.
    *
    * Patterns stay inside the Java-regex ∩ RE2 common subset (classes,
    * bounded quantifiers — no backrefs or lookarounds), which is also
    * what keeps them codegen-friendly; the Spark side passes them as
    * Scala strings to `functions.regexp_*` (no SQL-literal escaping),
    * the oracle embeds them in standard SQL literals (DuckDB does not
    * process backslashes). Counts are taken BEFORE replacement;
    * replacements run email → phone → IP (the placeholders contain no
    * digits or '@', so earlier replacements can never create or destroy
    * later matches). Scale shape: pure map over the scan + presentation
    * sort — no shuffle at all until the ORDER BY. */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PhoneRe = "\\+1-555-[0-9]{4}"
  private[graft] val IpRe    = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** The injected payload, as a SQL expression shared by both engines
    * (`str` wraps the engine's int→string cast): 1-3 emails, one phone,
    * one IP, all pure functions of doc_id. */
  private[operators] def piiInjectSql(str: String => String): String =
    s"text || ' contact ' || repeat('u' || ${str("doc_id % 97")} || '@mail' || " +
      s"${str("doc_id % 7")} || '.com ', CAST(doc_id % 3 AS INTEGER) + 1) || " +
      s"'call +1-555-' || lpad(${str("doc_id % 10000")}, 4, '0') || " +
      s"' ip 10.' || ${str("doc_id % 256")} || '.0.' || ${str("(doc_id * 7) % 256")}"

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        piiInjectSql(x => s"CAST($x AS STRING)") + " AS txt")
      .select(col("doc_id"),
        regexp_count(col("txt"), lit(EmailRe)).as("n_email"),
        regexp_count(col("txt"), lit(PhoneRe)).as("n_phone"),
        regexp_count(col("txt"), lit(IpRe)).as("n_ip"),
        md5(regexp_replace(
          regexp_replace(
            regexp_replace(col("txt"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          IpRe, "<IP>")).as("scrubbed_hash"))
      .orderBy("doc_id")

  // ------------------------------------------- exact-substring dedup (spans)
  /** Exact-substring dedup, Spark-first. The single-node literature
    * builds a corpus-wide suffix array and scans it for repeated
    * ≥L-token runs; a suffix array is a global sorted structure that
    * does not distribute. The standard distributed equivalent keeps the
    * exact same guarantee — every maximal cross-document repeated run
    * of ≥ [[SubstrK]] tokens is found, with exact boundaries — from
    * k-token WINDOWS: a run of length R ≥ k is repeated iff all of its
    * R−k+1 windows are repeated, so repeated-window positions, merged
    * while consecutive (gaps-islands), reconstruct exactly the maximal
    * repeated runs. Window generation is a pure map (one `split` per
    * doc, `slice` per position — no window-function shuffle); the one
    * big shuffle is the gram groupBy, the same key-distribution shape
    * as the LSH band join. The kernels key on the exact k-word gram
    * text, so the answer stays provably exact on both engines. */
  private[graft] val SubstrK = 8

  /** (doc_id, n_tokens, i, gram): every k-token window of the normalized
    * text at 1-based position i. Docs shorter than k tokens have no
    * window (a sub-k doc cannot contain a k-run). */
  private def substrWindows(spark: SparkSession, sfDir: String): DataFrame =
    substrWindowsOf(normed(spark, sfDir))

  /** The two substring kernels behind [[substringSpans]] /
    * [[substringDedupStats]] / [[substringDedupApply]]: the windows frame
    * and the repeated-gram table (`nd >= 2` with the keep-first owner),
    * built FROM the windows frame. */
  private def substrKernels(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val g = substrWindows(spark, sfDir)
    val rep = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("fdoc"))
      .filter(col("nd") >= 2)
      .select(col("gram"), col("fdoc"))
    (g, rep)
  }

  /** Cross-split 8-gram CONTAMINATION rate — the eval-integrity audit a
    * training run signs off on (Lee et al. / GPT-3 appendix style): for
    * every val/test document under the `dataset_split` doc-hash fence,
    * does ANY of its k-token windows also occur in a TRAIN document?
    * Complements the neighboring audits exactly: `split_leakage` counts
    * NEAR-duplicate pairs straddling the fence (MinHash signal),
    * `decontaminate` flags a designated eval slice by rare 3-gram
    * shingles; this is the per-SPLIT verbatim-overlap RATE on the
    * actual split assignment — the number quoted in a dataset card.
    *
    * Scale shape: the same windows kernel as the substring family
    * (window generation is a pure map), the split a pure expression of
    * doc_id; ONE gram semi-join against the distinct train grams (the
    * corpus-wide shuffle), then doc-level distinct + two metadata-sized
    * aggregates.
    * Denominators count ALL split docs (a sub-k doc cannot be flagged
    * but belongs in the rate). */
  /** The split fence shared by both contamination audits: a pure
    * doc-hash expression, identical wherever it is evaluated. */
  private def contamSplitOf = {
    val b = PipelineOps.keyHash("spl") % 1000
    when(b < 900, "train").when(b < 950, "val").otherwise("test")
  }

  /** Contaminated-eval-docs KERNEL: distinct (doc_id, split) of val/test
    * documents carrying ANY verbatim train k-gram. This is the expensive
    * common base of `ngram_contamination_rate` and
    * `contamination_by_source` — the windows explode, the train-gram
    * distinct, and the corpus-wide semi-join. `split` is functional on
    * doc_id, so the (doc_id, split) distinct serves both consumers — the
    * per-split counter reads it as-is, the per-source audit takes doc_id
    * alone. */
  private def contaminatedEvalDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val g = substrWindows(spark, sfDir)
      .transform(Caches.materialize)
    val lab = g.select(col("doc_id"), col("gram"))
      .withColumn("split", contamSplitOf)
    val trainGrams = lab.filter(col("split") === "train")
      .select(col("gram")).distinct()
    lab.filter(col("split") =!= "train")
      .join(trainGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("split")).distinct()
  }

  def ngramContaminationRate(spark: SparkSession, sfDir: String): DataFrame = {
    val contaminated = contaminatedEvalDocs(spark, sfDir)
      .groupBy(col("split")).agg(count(lit(1)).as("n_contaminated"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .withColumn("split", contamSplitOf).filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(contaminated, Seq("split"), "left_outer")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_docs").cast("double"), 6).as("contamination_rate"))
      .orderBy("split")
  }

  /** Per-SOURCE contamination: the `ngram_contamination_rate` audit
    * broken down by feed — which source's val/test documents carry
    * verbatim train 8-grams. The dataset-card number names the problem;
    * this one names the CULPRIT (a feed that syndicates the same wire
    * content into every split contaminates structurally, and the fix —
    * feed-level dedup or exclusion — is per-source, not per-doc).
    *
    * Same kernel and scale shape as the rate query (one windows pass,
    * one train-gram semi-join, doc-level distinct); the only addition is a documents join for `source` and
    * a |sources|-row aggregate. */
  def contaminationBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val contaminated = contaminatedEvalDocs(spark, sfDir)
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1L))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .withColumn("split", contamSplitOf).filter(col("split") =!= "train")
      .join(contaminated, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_eval_docs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("source"), col("n_eval_docs"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") /
          col("n_eval_docs").cast("double"), 6).as("contamination_rate"))
      .orderBy("source")
  }

  /** Windows from any (doc_id, norm) frame — the streaming twin probes
    * ARRIVING documents' windows against an offline gram index. */
  private[graft] def substrWindowsOf(normDf: DataFrame): DataFrame =
    normDf
      .select(col("doc_id"), split(col("norm"), " ").as("tokens"))
      .select(col("doc_id"), size(col("tokens")).as("n_tokens"), col("tokens"))
      .filter(col("n_tokens") >= SubstrK)
      .select(col("doc_id"), col("n_tokens"), col("tokens"),
        explode(expr(s"sequence(1, n_tokens - ${SubstrK - 1})")).as("i"))
      .select(col("doc_id"), col("n_tokens"), col("i"),
        array_join(slice(col("tokens"), col("i"), lit(SubstrK)), " ").as("gram"))

  /** The offline artifact of streaming substring dedup: the corpus's
    * DISTINCT k-token windows. Index size is bounded by corpus token
    * count (distinct grams ≤ total windows); at 100 TB this is the
    * artifact you would hold as a bloom filter per the
    * decontaminate_bloom pattern — here exact, like the batch family. */
  def corpusGramIndex(spark: SparkSession, sfDir: String): DataFrame =
    substrWindows(spark, sfDir).select(col("gram")).distinct()

  /** Spans of ARRIVING (doc_id, text) rows whose k-windows appear in
    * `gramIdx` — the streaming probe: a document's windows are
    * self-contained, so each micro-batch computes its spans with ZERO
    * cross-batch state (the StreamingDecontaminate shape), and batch
    * boundaries cannot change any span. */
  private[graft] def substrSpansAgainst(batch: DataFrame,
      gramIdx: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    substrWindowsOf(batch.select(col("doc_id"), normCol.as("norm")))
      .join(gramIdx, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("i"))
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("i")).as("start_pos"),
        (max(col("i")) + lit(SubstrK - 1)).as("end_pos"),
        (max(col("i")) - min(col("i")) + lit(SubstrK)).as("span_tokens"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
  }

  /** Maximal cross-document repeated token runs (≥ k tokens) per doc:
    * repeated windows (≥ 2 distinct docs share the gram) merged while
    * consecutive. `start_pos`/`end_pos` are 1-based token positions,
    * inclusive; `n_windows` = span_tokens − k + 1 by construction (the
    * spec asserts the identity). The islands window partitions by
    * doc_id — bounded by document length, never global. */
  def substringSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val (g0, rep0) = substrKernels(spark, sfDir)
    val g = Caches.materialize(g0)
    val rep = rep0.select(col("gram"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    g.join(rep, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("i"))
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("i")).as("start_pos"),
        (max(col("i")) + lit(SubstrK - 1)).as("end_pos"),
        (max(col("i")) - min(col("i")) + lit(SubstrK)).as("span_tokens"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
      .orderBy("doc_id", "start_pos")
  }

  /** Per-document cut report for exact-substring dedup under the
    * keep-first policy (the min-doc_id occurrence of each repeated gram
    * survives; every other document's occurrence is removable): tokens
    * covered by the union of removable windows, and the fraction of the
    * document they are. This is the table that prices a dedup run
    * BEFORE committing to it — corpus-level removable mass, its skew
    * across docs, and which docs are near-total clones. Same kernel as
    * [[substringSpans]] (one windows pass, one gram aggregate); the
    * union coverage is the islands sum Σ (max−min+k) per doc. */
  def substringDedupStats(spark: SparkSession, sfDir: String): DataFrame = {
    val (g0, rep) = substrKernels(spark, sfDir)
    val g = Caches.materialize(g0)
    val removable = g.join(rep, Seq("gram"))
      .filter(col("doc_id") =!= col("fdoc"))
      .select(col("doc_id"), col("n_tokens"), col("i"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    removable
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("n_tokens"), col("grp"))
      .agg((max(col("i")) - min(col("i")) + lit(SubstrK)).as("span_len"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(sum(col("span_len")).as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens").cast("double"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** The CUT applied: each affected document's text with every
    * removable span (keep-first policy, [[substringDedupStats]]'s
    * definition) excised, emitted as (kept-token count, md5 of the
    * rebuilt text) — the query that proves the dedup PRODUCES the
    * cleaned corpus, not just a report. `n_kept = n_tokens − dup_tokens`
    * by construction (cut positions ARE the stats' union coverage — the
    * spec asserts the identity against [[substringDedupStats]]).
    * Scale shape: islands are span-sized (small); the position-range
    * join is doc_id-equi with the BETWEEN as residual, co-partitioned
    * on doc_id; the rebuild is one per-doc sort of kept (pos, word)
    * structs — bounded by document length, never global. */
  def substringDedupApply(spark: SparkSession, sfDir: String): DataFrame = {
    val (g0, rep) = substrKernels(spark, sfDir)
    val g = Caches.materialize(g0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val spans = g.join(rep, Seq("gram"))
      .filter(col("doc_id") =!= col("fdoc"))
      .select(col("doc_id"), col("i"))
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).as("s"), (max(col("i")) + lit(SubstrK - 1)).as("e"))
      .select(col("doc_id").as("s_doc"), col("s"), col("e"))
    val toks = normed(spark, sfDir)
      .join(spans.select(col("s_doc")).distinct(),
        col("doc_id") === col("s_doc"), "left_semi") // affected docs only
      .select(col("doc_id"), posexplode(split(col("norm"), " ")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("word"))
    val cut = toks.join(spans,
      col("doc_id") === col("s_doc") && col("p") >= col("s") && col("p") <= col("e"),
      "left_semi")
    val keptAgg = toks.join(cut, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_n"),
        md5(array_join(expr("transform(array_sort(collect_list(struct(p, word))), x -> x.word)"),
          " ")).as("kept_h"))
    // a WHOLLY-cut doc (a clone of an earlier doc end to end) keeps
    // zero tokens: emit it as n_kept=0 / md5('') rather than dropping it
    spans.select(col("s_doc").as("doc_id")).distinct()
      .join(keptAgg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("kept_n"), lit(0L)).as("n_kept"),
        coalesce(col("kept_h"), md5(lit(""))).as("kept_hash"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ curation funnel
  /** The curation FUNNEL — the first report every training-data run
    * reads: documents and bytes surviving each stage, with the stages
    * COMPOSED (each applies to the previous stage's survivors, the
    * production order): raw → quality keep-top-half per language
    * ([[qualityFilter]]'s exact rank rule) → exact dedup (min doc_id
    * per content hash) → fuzzy dedup (min doc_id per normalized hash).
    * One row per stage; monotonicity and per-stage membership are
    * spec'd against driver-side recomputation. Scale shape: the base
    * frame (doc_id, n_chars, two hashes) is scanned once and persisted;
    * each stage is one hash-partitioned window or semi join plus a
    * 1-row aggregate — the funnel costs three shuffles of id-sized
    * rows, never a second pass over document text. */
  def pipelineFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val d0 = Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), col("n_chars"),
      md5(col("text")).as("he"), md5(normCol).as("hn"))
      .transform(Caches.materialize)
    val d1 = d0.join(qualityFilter(spark, sfDir).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .transform(Caches.materialize)
    val d2 = d1
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("he")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
      .transform(Caches.materialize)
    val d3 = d2
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("hn")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .select(lit(name).as("stage"), col("docs"), col("chars"))
    stage("s0_raw", d0)
      .unionAll(stage("s1_quality", d1))
      .unionAll(stage("s2_exact_dedup", d2))
      .unionAll(stage("s3_fuzzy_dedup", d3))
      .orderBy("stage")
  }

  // -------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"         -> (dedupExact _),
    "repetition_stats"    -> (repetitionStats _),
    "dedup_fuzzy"         -> (dedupFuzzy _),
    "minhash_signature"   -> (minhashSignature _),
    "dedup_minhash_pairs" -> (dedupMinhashPairs _),
    "dedup_pairs_canonical" -> (dedupPairsCanonical _),
    "lsh_bucket_profile"  -> (lshBucketProfile _),
    "substring_spans"     -> (substringSpans _),
    "ngram_contamination_rate" -> (ngramContaminationRate _),
    "contamination_by_source" -> (contaminationBySource _),
    "substring_dedup_stats" -> (substringDedupStats _),
    "substring_dedup_apply" -> (substringDedupApply _),
    "pipeline_funnel"     -> (pipelineFunnel _),
    "ngram_novelty"       -> (ngramNovelty _),
    "dedup_incremental"   -> (dedupIncremental _),
    "decontaminate"       -> (decontaminate _),
    "decontaminate_bloom" -> (decontaminateBloom _),
    "dedup_groups"        -> (dedupGroups _),
    "dedup_groups_incremental" -> (dedupGroupsIncremental _),
    "dup_cluster_stats"   -> (dupClusterStats _),
    "dedup_canonical"     -> (dedupCanonical _),
    "dedup_survivorship"  -> (dedupSurvivorship _),
    "ngram_jaccard"       -> (ngramJaccard _),
    "source_overlap_jaccard" -> (sourceOverlapJaccard _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "minhash_containment" -> (minhashContainment _),
    "cross_source_neardup" -> (crossSourceNeardup _),
    "lsh_tune"            -> (lshTune _),
    "minhash_est_error"   -> (minhashEstError _),
    "jaccard_band_histogram" -> (jaccardBandHistogram _),
    "dedup_rate_by_source" -> (dedupRateBySource _),
    "edit_distance_pairs" -> (editDistancePairs _),
    "jw_pairs"            -> (jwPairs _),
    "soft_dedup"          -> (softDedup _),
    "simhash"             -> (simhash _),
    "simhash_neardup"     -> (simhashNeardup _),
    "dedup_method_agreement" -> (dedupMethodAgreement _),
    "tf_embedding"        -> (tfEmbedding _),
    "doc_embed_similarity" -> (docEmbedSimilarity _),
    "text_stats"          -> (textStats _),
    "char_entropy"        -> (charEntropy _),
    "dup_inflation_by_source" -> (dupInflationBySource _),
    "lang_entropy_by_source"  -> (langEntropyBySource _),
    "lang_dist"           -> (langDist _),
    "lang_id"             -> (langId _),
    "langid_confusion"    -> (langidConfusion _),
    "token_count"         -> (tokenCount _),
    "quality_score"       -> (qualityScore _),
    "quality_by_source"   -> (qualityBySource _),
    "quality_filter"      -> (qualityFilter _),
    "fingerprint"         -> (fingerprint _),
    "gopher_rules"        -> (gopherRules _),
    "dataset_card"        -> (datasetCard _),
    "pii_scrub"           -> (piiScrub _))

  private[operators] val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** Shared oracle CTE stack for the stopword-profile language-ID,
    * ending at `pred` (per-doc scores + argmax prediction) — states the
    * IDENTICAL scoring and tie-break CASE as [[langId]]. Consumed by
    * `lang_id` and `langid_confusion`. */
  private lazy val langIdCtesSql: String =
    s"""p AS (SELECT doc_id, lang, ' ' || $normSql || ' ' AS padded FROM documents),
      |s AS (SELECT doc_id, lang,
      | ${hitsSql(" the ")} + ${hitsSql(" and ")} + ${hitsSql(" a ")} + ${hitsSql(" of ")} AS score_en,
      | ${hitsSql(" el ")} + ${hitsSql(" los ")} + ${hitsSql(" las ")} + ${hitsSql(" de ")} AS score_es,
      | ${hitsSql(" le ")} + ${hitsSql(" et ")} + ${hitsSql(" les ")} + ${hitsSql(" une ")} AS score_fr,
      | ${hitsSql(" der ")} + ${hitsSql(" und ")} + ${hitsSql(" die ")} + ${hitsSql(" das ")} AS score_de
      |FROM p),
      |pred AS (SELECT doc_id, lang, score_en, score_es, score_fr, score_de,
      | CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de THEN 'en'
      |      WHEN score_es >= score_fr AND score_es >= score_de THEN 'es'
      |      WHEN score_fr >= score_de THEN 'fr'
      |      ELSE 'de' END AS predicted_lang
      |FROM s)""".stripMargin
  private def hitsSql(sub: String): String = {
    val esc = sub.replace("'", "''")
    s"CAST((length(padded) - length(replace(padded, '$esc', ''))) / ${sub.length} AS INTEGER)"
  }

  /** Shared oracle CTE stack (normalized text → word-3-gram shingles →
    * seeded-hash/k-pieces signature → bands → candidate pairs). The
    * signature and banding SQL is GENERATED from [[MinhashPieces]] /
    * [[MinhashBands]] — the same constants the Scala pipeline reads — so
    * the two sides of the oracle can never drift (round-4 regression:
    * the Scala grid moved to 8/4×2 while a hand-written oracle stayed on
    * the old 4/2×2). */
  /** norm → tokens → word-3-gram shingles, the base every shingle-family
    * oracle shares (mirrors [[shinglesOf]] with n=3, including the
    * `greatest(…, 1)` floor that gives sub-3-token docs one whole-text
    * shingle). */
  /** The default normalized base CTE (`n`) every shingle-family oracle
    * starts from; [[canonNCteSql]] swaps in the canonical-survivor base
    * for the exact-dedup-first composition. */
  private val defaultNCteSql: String =
    s"n AS (SELECT doc_id, $normSql AS norm FROM documents)"

  /** Canonical-survivor base: min doc_id per md5(norm) — the identical
    * survivor rule as the `dedup_fuzzy` oracle, feeding the same shingle
    * chain (mirrors [[dedupPairsCanonical]]). */
  private val canonNCteSql: String =
    s"""cn AS (SELECT doc_id, $normSql AS norm,
       |  row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn
       | FROM documents),
       |n AS (SELECT doc_id, norm FROM cn WHERE rn = 1)""".stripMargin

  /** norm → tokens → k-token positioned windows, generated from
    * [[SubstrK]] (same no-drift rule as the minhash grid): `g` carries
    * (doc_id, n_tokens, i, gram) with 1-based i, sub-k docs excluded —
    * mirrors [[substrWindows]] exactly. */
  private def substrCtesSql: String =
    s"""$defaultNCteSql,
       |tk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM n),
       |sw AS (SELECT doc_id, array_length(tokens) AS n_tokens, tokens FROM tk
       | WHERE array_length(tokens) >= $SubstrK),
       |g AS MATERIALIZED (SELECT doc_id, n_tokens, i,
       |  array_to_string(tokens[i:i+${SubstrK - 1}], ' ') AS gram FROM (
       |  SELECT doc_id, n_tokens, tokens,
       |   unnest(generate_series(1, n_tokens - ${SubstrK - 1})) AS i FROM sw) tt)""".stripMargin

  private def shingleCtesSqlFrom(nCte: String): String =
    s"""$nCte,
       |tk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM n),
       |sh AS MATERIALIZED (SELECT doc_id, array_to_string(tokens[i:i+2], ' ') AS sh FROM (
       | SELECT doc_id, tokens, unnest(generate_series(1, greatest(array_length(tokens) - 2, 1))) AS i FROM tk) tt)""".stripMargin

  private def shingleCtesSql: String = shingleCtesSqlFrom(defaultNCteSql)

  private def sigCtesSqlFrom(nCte: String): String = {
    val hashedCols = (0 until MinhashHashes)
      .map(i => s"md5('$i:' || sh) AS h$i").mkString(", ")
    val sigCols = (0 until MinhashPieces).map { k =>
      s"min(substr(h${k / 4}, ${(k % 4) * 8 + 1}, 8)) AS mh${k + 1}"
    }.mkString(", ")
    s"""${shingleCtesSqlFrom(nCte)},
       |hashed AS (SELECT doc_id, $hashedCols FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id, $sigCols
       | FROM hashed GROUP BY doc_id)""".stripMargin
  }

  private def sigCtesSql: String = sigCtesSqlFrom(defaultNCteSql)

  /** sig + banded rows (mirrors [[bandsOf]]); MATERIALIZED because the
    * incremental oracle references `bands` twice. */
  private def bandsCtesSqlFrom(nCte: String): String = {
    val bandSelects = (0 until MinhashBands).map { b =>
      val cat = (0 until MinhashRows)
        .map(r => s"mh${b * MinhashRows + r + 1}").mkString(" || ")
      s"SELECT doc_id, ${b + 1} AS band_no, md5($cat) AS bh FROM sig"
    }.mkString("\n UNION ALL\n ")
    s"""${sigCtesSqlFrom(nCte)},
       |bands AS MATERIALIZED (
       | $bandSelects)""".stripMargin
  }

  private def bandsCtesSql: String = bandsCtesSqlFrom(defaultNCteSql)

  private def candCtesSqlFrom(nCte: String): String =
    s"""${bandsCtesSqlFrom(nCte)},
       |cand AS MATERIALIZED (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bands a JOIN bands b
       |  ON a.band_no = b.band_no AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  private[operators] def candCtesSql: String = candCtesSqlFrom(defaultNCteSql)

  /** Shared oracle CTEs for the 28-bit token-hash TF featurizer
    * (mirrors [[tokenHashes]]). */
  private[operators] val tfCtesSql: String =
    """tok AS (
      | SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents),
      |tf AS MATERIALIZED (SELECT doc_id,
      |  CAST(CAST('0x' || substr(md5(t), 1, 7) AS INTEGER) AS BIGINT) % 64 AS dim,
      |  count(*) AS tf FROM tok GROUP BY doc_id, dim)""".stripMargin

  /** Shared oracle CTE stack for the quality score (mirrors
    * [[qualityScoredUnsorted]]); ends at `q`
    * (doc_id, lang, n_words, n_punct, n_stop, quality). */
  private def qualityCtesSql: String =
    s"""p AS (SELECT doc_id, lang, text, ' ' || $normSql || ' ' AS padded FROM documents),
      |m AS (SELECT doc_id, lang, text,
      |  array_length(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
      |  length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct,
      |  ${hitsSql(" the ")} + ${hitsSql(" a ")} + ${hitsSql(" and ")} + ${hitsSql(" of ")} + ${hitsSql(" to ")} AS n_stop
      | FROM p),
      |q AS (SELECT doc_id, lang, n_words, n_punct, n_stop,
      | round(
      |  least(1.0, CAST(n_words AS DOUBLE) / 200.0) * 0.5 +
      |  (1.0 - CAST(n_punct AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.3 +
      |  least(1.0, CAST(n_stop AS DOUBLE) * 10.0 / CAST(greatest(n_words, 1) AS DOUBLE)) * 0.2,
      |  6) AS quality
      | FROM m)""".stripMargin

  /** Shared oracle CTE stack for the 60-bit SimHash signature (mirrors
    * [[simhashUnsorted]]); ends at `shsig` (doc_id, simhash). Declared
    * before [[oracles]] — object-init order. */
  private val simhashCtesSql: String =
    """tok AS (
      | SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t FROM documents),
      |h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS hv FROM tok),
      |bitdefs AS (SELECT unnest(generate_series(0, 59)) AS b),
      |bits AS (
      | SELECT doc_id, b, CAST(pow(2, b) AS BIGINT) AS p,
      |  sum(CASE WHEN (hv // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
      | FROM h, bitdefs GROUP BY doc_id, b),
      |shsig AS MATERIALIZED (
      | SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN p ELSE 0 END) AS BIGINT) AS simhash
      | FROM bits GROUP BY doc_id)""".stripMargin

  /** Exact decontamination oracle — shared verbatim by `decontaminate`
    * and `decontaminate_bloom` (the Bloom prefilter cannot change the
    * result, only the plan). */
  private def decontamOracleSql: String =
    s"""WITH dn AS (SELECT doc_id, $normSql AS norm FROM documents),
      |dtk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM dn),
      |dsh AS MATERIALIZED (SELECT DISTINCT doc_id, array_to_string(tokens[i:i+2], ' ') AS sh FROM (
      | SELECT doc_id, tokens, unnest(generate_series(1, greatest(array_length(tokens) - 2, 1))) AS i FROM dtk) tt),
      |rare AS MATERIALIZED (
      | SELECT * FROM dsh WHERE sh IN (
      |  SELECT sh FROM dsh GROUP BY sh HAVING count(*) <= ${DecontamMaxDf})),
      |bk AS MATERIALIZED (SELECT doc_id, ${PipelineOps.keyHashSql("spl")} % 1000 AS bucket FROM documents),
      |ov AS (
      | SELECT e.doc_id, t.doc_id AS train_id, count(*) AS overlap
      | FROM rare e JOIN bk be ON be.doc_id = e.doc_id AND be.bucket >= 950
      |  JOIN rare t ON t.sh = e.sh
      |  JOIN bk bt ON bt.doc_id = t.doc_id AND bt.bucket < 900
      | GROUP BY e.doc_id, t.doc_id HAVING count(*) >= ${DecontamMinOverlap}),
      |best AS (SELECT doc_id, train_id AS contaminated_by, overlap FROM (
      | SELECT ov.*, row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, train_id) AS rn
      | FROM ov) t WHERE rn = 1)
      |SELECT d.doc_id, best.contaminated_by,
      | CAST(coalesce(best.overlap, 0) AS BIGINT) AS overlap,
      | CAST(best.contaminated_by IS NULL AS INT) AS clean
      |FROM documents d
      | JOIN bk ON bk.doc_id = d.doc_id AND bk.bucket >= 950
      | LEFT JOIN best ON best.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // the S-curve planner table: grid, budget, target, and every
    // exp/ln chain GENERATED from the same constants as the Scala side
    "lsh_tune" -> {
      val grid = (0 to 7).map(i => 1 << i).mkString("[", ", ", "]")
      def pAt(s: String) =
        s"round(1 - exp(CAST(b AS DOUBLE) * ln(1 - exp(CAST(r AS DOUBLE) * ln($s)))), 6)"
      val thr = "exp(-ln(CAST(b AS DOUBLE)) / CAST(r AS DOUBLE))"
      s"""WITH g AS (SELECT unnest($grid) AS v),
        |gr AS (SELECT CAST(v AS INTEGER) AS b,
        |  CAST($LshTuneBudget // v AS INTEGER) AS r FROM g),
        |t AS (SELECT b, r, round($thr, 6) AS threshold,
        |  ${pAt("0.5")} AS p_at_50, ${pAt("0.8")} AS p_at_80,
        |  ${pAt("0.9")} AS p_at_90,
        |  abs($thr - $LshTuneTarget) AS diff FROM gr)
        |SELECT b, r, threshold, p_at_50, p_at_80, p_at_90,
        | row_number() OVER (ORDER BY diff, b) = 1 AS chosen
        |FROM t ORDER BY b""".stripMargin
    },
    "dedup_exact" ->
      """SELECT doc_id, content_hash, lang, n_chars FROM (
        | SELECT doc_id, md5(text) AS content_hash, lang, n_chars,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        | FROM documents) t WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_fuzzy" ->
      s"""SELECT doc_id, norm_hash FROM (
        | SELECT doc_id, md5($normSql) AS norm_hash,
        |  row_number() OVER (PARTITION BY md5($normSql) ORDER BY doc_id) AS rn
        | FROM documents) t WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "minhash_signature" ->
      s"""WITH $sigCtesSql
        |SELECT doc_id, ${(1 to MinhashPieces).map("mh" + _).mkString(", ")}
        |FROM sig ORDER BY doc_id""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $candCtesSql
        |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_pairs_canonical" ->
      s"""WITH ${candCtesSqlFrom(canonNCteSql)}
        |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin,
    "substring_spans" ->
      s"""WITH $substrCtesSql,
        |rep AS (SELECT gram FROM g GROUP BY gram
        | HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT g.doc_id, g.i FROM g JOIN rep USING (gram)),
        |isl AS (SELECT doc_id, i,
        | i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM hit)
        |SELECT doc_id, CAST(min(i) AS INTEGER) AS start_pos,
        | CAST(max(i) + ${SubstrK - 1} AS INTEGER) AS end_pos,
        | CAST(max(i) - min(i) + $SubstrK AS INTEGER) AS span_tokens,
        | count(*) AS n_windows
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, start_pos""".stripMargin,
    "ngram_contamination_rate" ->
      s"""WITH $substrCtesSql,
        |lab AS (SELECT doc_id, gram,
        | CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
        |  ELSE 'test' END AS split
        | FROM (SELECT doc_id, gram,
        |  ${PipelineOps.keyHashSql("spl")} % 1000 AS b FROM g) t),
        |tg AS MATERIALIZED (SELECT DISTINCT gram FROM lab WHERE split = 'train'),
        |cont AS (SELECT split, count(*) AS n_contaminated FROM (
        | SELECT DISTINCT l.doc_id, l.split
        | FROM lab l JOIN tg USING (gram) WHERE l.split <> 'train') c
        | GROUP BY split),
        |den AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM (
        | SELECT CASE WHEN ${PipelineOps.keyHashSql("spl")} % 1000 < 900 THEN 'train'
        |   WHEN ${PipelineOps.keyHashSql("spl")} % 1000 < 950 THEN 'val'
        |   ELSE 'test' END AS split FROM documents) d
        | WHERE split <> 'train' GROUP BY split)
        |SELECT den.split, den.n_docs,
        | CAST(coalesce(cont.n_contaminated, 0) AS BIGINT) AS n_contaminated,
        | round(CAST(coalesce(cont.n_contaminated, 0) AS DOUBLE)
        |  / CAST(den.n_docs AS DOUBLE), 6) AS contamination_rate
        |FROM den LEFT JOIN cont USING (split) ORDER BY split""".stripMargin,
    "contamination_by_source" ->
      s"""WITH $substrCtesSql,
        |lab AS (SELECT doc_id, gram,
        | CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
        |  ELSE 'test' END AS split
        | FROM (SELECT doc_id, gram,
        |  ${PipelineOps.keyHashSql("spl")} % 1000 AS b FROM g) t),
        |tg AS MATERIALIZED (SELECT DISTINCT gram FROM lab WHERE split = 'train'),
        |hits AS (SELECT DISTINCT l.doc_id
        | FROM lab l JOIN tg USING (gram) WHERE l.split <> 'train'),
        |ev AS (SELECT doc_id, source FROM (
        | SELECT doc_id, source,
        |  CASE WHEN ${PipelineOps.keyHashSql("spl")} % 1000 < 900 THEN 'train'
        |   WHEN ${PipelineOps.keyHashSql("spl")} % 1000 < 950 THEN 'val'
        |   ELSE 'test' END AS split FROM documents) d
        | WHERE split <> 'train')
        |SELECT ev.source, CAST(count(*) AS BIGINT) AS n_eval_docs,
        | CAST(sum(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |  AS n_contaminated,
        | round(CAST(sum(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE), 6) AS contamination_rate
        |FROM ev LEFT JOIN hits h USING (doc_id)
        |GROUP BY ev.source ORDER BY source""".stripMargin,
    "substring_dedup_stats" ->
      s"""WITH $substrCtesSql,
        |rep AS (SELECT gram, min(doc_id) AS fdoc FROM g GROUP BY gram
        | HAVING count(DISTINCT doc_id) >= 2),
        |rm AS (SELECT g.doc_id, g.n_tokens, g.i
        | FROM g JOIN rep USING (gram) WHERE g.doc_id <> rep.fdoc),
        |isl AS (SELECT doc_id, n_tokens, i,
        | i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM rm),
        |sp AS (SELECT doc_id, n_tokens, max(i) - min(i) + $SubstrK AS span_len
        | FROM isl GROUP BY doc_id, n_tokens, grp)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        | CAST(sum(span_len) AS BIGINT) AS dup_tokens,
        | round(CAST(CAST(sum(span_len) AS BIGINT) AS DOUBLE)
   / CAST(n_tokens AS DOUBLE), 6) AS dup_frac
        |FROM sp GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,
    "pipeline_funnel" ->
      s"""WITH $qualityCtesSql,
        |keep1 AS (SELECT doc_id FROM (
        | SELECT q.doc_id,
        |  row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n
        | FROM q) t WHERE rn <= (n + 1) // 2),
        |d0 AS MATERIALIZED (SELECT doc_id, n_chars, md5(text) AS he,
        | md5($normSql) AS hn FROM documents),
        |d1 AS MATERIALIZED (SELECT d0.* FROM d0 JOIN keep1 USING (doc_id)),
        |d2 AS MATERIALIZED (SELECT doc_id, n_chars, hn FROM (
        | SELECT d1.*, row_number() OVER (PARTITION BY he ORDER BY doc_id) AS rn
        | FROM d1) t WHERE rn = 1),
        |d3 AS (SELECT doc_id, n_chars FROM (
        | SELECT d2.*, row_number() OVER (PARTITION BY hn ORDER BY doc_id) AS rn
        | FROM d2) t WHERE rn = 1)
        |SELECT 's0_raw' AS stage, count(*) AS docs,
        | CAST(sum(n_chars) AS BIGINT) AS chars FROM d0
        |UNION ALL SELECT 's1_quality', count(*), CAST(sum(n_chars) AS BIGINT) FROM d1
        |UNION ALL SELECT 's2_exact_dedup', count(*), CAST(sum(n_chars) AS BIGINT) FROM d2
        |UNION ALL SELECT 's3_fuzzy_dedup', count(*), CAST(sum(n_chars) AS BIGINT) FROM d3
        |ORDER BY stage""".stripMargin,
    "substring_dedup_apply" ->
      s"""WITH $substrCtesSql,
        |rep AS (SELECT gram, min(doc_id) AS fdoc FROM g GROUP BY gram
        | HAVING count(DISTINCT doc_id) >= 2),
        |rm AS (SELECT g.doc_id, g.i
        | FROM g JOIN rep USING (gram) WHERE g.doc_id <> rep.fdoc),
        |isl AS (SELECT doc_id, i,
        | i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM rm),
        |spans AS MATERIALIZED (SELECT doc_id, min(i) AS s,
        | max(i) + ${SubstrK - 1} AS e FROM isl GROUP BY doc_id, grp),
        |w AS MATERIALIZED (SELECT doc_id,
        |  generate_subscripts(string_split(norm, ' '), 1) AS p,
        |  unnest(string_split(norm, ' ')) AS word
        | FROM n WHERE doc_id IN (SELECT DISTINCT doc_id FROM spans)),
        |cut AS (SELECT DISTINCT w.doc_id, w.p FROM w
        | JOIN spans ON w.doc_id = spans.doc_id AND w.p BETWEEN spans.s AND spans.e),
        |kept AS (SELECT w.doc_id, w.p, w.word FROM w
        | LEFT JOIN cut ON w.doc_id = cut.doc_id AND w.p = cut.p
        | WHERE cut.p IS NULL),
        |ka AS (SELECT doc_id, count(*) AS kept_n,
        | md5(string_agg(word, ' ' ORDER BY p)) AS kept_h FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(ka.kept_n, 0) AS BIGINT) AS n_kept,
        | coalesce(ka.kept_h, md5('')) AS kept_hash
        |FROM (SELECT DISTINCT doc_id FROM spans) d LEFT JOIN ka USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "lsh_bucket_profile" ->
      s"""WITH $bandsCtesSql,
        |bs AS (SELECT band_no, bh, CAST(count(*) AS BIGINT) AS sz
        | FROM bands GROUP BY band_no, bh)
        |SELECT sz AS bucket_sz, CAST(count(*) AS BIGINT) AS n_buckets,
        | CAST(count(*) * sz * (sz - 1) // 2 AS BIGINT) AS n_pairs
        |FROM bs GROUP BY sz ORDER BY bucket_sz""".stripMargin,
    "cross_source_neardup" ->
      s"""WITH $candCtesSql,
        |xs AS (SELECT least(da.source, db.source) AS source_a,
        |        greatest(da.source, db.source) AS source_b
        |       FROM cand JOIN documents da ON da.doc_id = cand.doc_a
        |                 JOIN documents db ON db.doc_id = cand.doc_b
        |       WHERE da.source <> db.source)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM xs GROUP BY source_a, source_b
        |ORDER BY source_a, source_b""".stripMargin,
    "ngram_novelty" ->
      s"""WITH $shingleCtesSql,
        |ds AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh),
        |fo AS (SELECT sh, min(doc_id) AS first_doc FROM ds GROUP BY sh)
        |SELECT ds.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        | CAST(sum(CASE WHEN fo.first_doc = ds.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | round(CAST(sum(CASE WHEN fo.first_doc = ds.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM ds JOIN fo ON fo.sh = ds.sh
        |GROUP BY ds.doc_id ORDER BY doc_id""".stripMargin,
    "decontaminate" -> decontamOracleSql,
    // bit-identical by construction (the Bloom prefilter only drops
    // non-joining train rows) — the oracle is the exact-path SQL
    "decontaminate_bloom" -> decontamOracleSql,
    "dedup_incremental" ->
      s"""WITH $bandsCtesSql,
        |m AS (SELECT n.doc_id, min(o.doc_id) AS matched_old
        | FROM bands n JOIN bands o
        |  ON n.band_no = o.band_no AND n.bh = o.bh AND o.doc_id % 10 <> 9
        | WHERE n.doc_id % 10 = 9 GROUP BY n.doc_id)
        |SELECT d.doc_id, m.matched_old,
        | CAST(m.matched_old IS NULL AS INT) AS kept
        |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
        |WHERE d.doc_id % 10 = 9 ORDER BY d.doc_id""".stripMargin,
    "dedup_groups" ->
      s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
        | UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT t.doc_id, e.dst FROM reach t JOIN edges e ON e.src = t.r)
        |SELECT doc_id, min(r) AS group_id FROM reach
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the FULL recompute over the edge union, verbatim dedup_groups: the
    // engine maintains the labels incrementally (delta contraction), and
    // the gate proves the delta path bit-equals recomputation
    "dedup_groups_incremental" ->
      s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
        | UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT t.doc_id, e.dst FROM reach t JOIN edges e ON e.src = t.r)
        |SELECT doc_id, min(r) AS group_id FROM reach
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_canonical" ->
      s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
        | UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT t.doc_id, e.dst FROM reach t JOIN edges e ON e.src = t.r),
        |groups AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id)
        |SELECT group_id AS doc_id, CAST(count(*) AS BIGINT) AS group_sz
        |FROM groups GROUP BY group_id ORDER BY doc_id""".stripMargin,
    "dedup_survivorship" ->
      s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
        | UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT t.doc_id, e.dst FROM reach t JOIN edges e ON e.src = t.r),
        |groups AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id),
        |$qualityCtesSql
        |SELECT group_id, survivor_id, quality, group_sz FROM (
        | SELECT g.group_id, q.doc_id AS survivor_id, q.quality,
        |  CAST(count(*) OVER (PARTITION BY g.group_id) AS BIGINT) AS group_sz,
        |  row_number() OVER (PARTITION BY g.group_id
        |   ORDER BY q.quality DESC, q.doc_id) AS rn
        | FROM groups g JOIN q ON q.doc_id = g.doc_id) t
        |WHERE rn = 1 ORDER BY group_id""".stripMargin,
    "dup_cluster_stats" ->
      s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
        | UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT t.doc_id, e.dst FROM reach t JOIN edges e ON e.src = t.r),
        |groups AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id),
        |gs AS (SELECT group_id, count(*) AS sz FROM groups GROUP BY group_id)
        |SELECT sz AS group_sz, CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(sz * count(*) AS BIGINT) AS n_docs
        |FROM gs GROUP BY sz ORDER BY group_sz""".stripMargin,
    "edit_distance_pairs" ->
      s"""WITH $candCtesSql,
        |pre AS (SELECT doc_id, substr($normSql, 1, $EditPrefix) AS prefix FROM documents)
        |SELECT c.doc_a, c.doc_b,
        | CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_dist
        |FROM cand c
        | JOIN pre a ON a.doc_id = c.doc_a
        | JOIN pre b ON b.doc_id = c.doc_b
        |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    // same pair stack; DuckDB's builtin jaro_winkler_similarity is the
    // oracle for graft's codegen JaroWinkler expression (semantics pinned
    // in JaroWinklerImpl's scaladoc; round-6 both sides)
    "jw_pairs" ->
      s"""WITH $candCtesSql,
        |pre AS (SELECT doc_id, substr($normSql, 1, $EditPrefix) AS prefix FROM documents)
        |SELECT c.doc_a, c.doc_b,
        | round(jaro_winkler_similarity(a.prefix, b.prefix), 6) AS jw
        |FROM cand c
        | JOIN pre a ON a.doc_id = c.doc_a
        | JOIN pre b ON b.doc_id = c.doc_b
        |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    // the dedup_groups label stack + component sizes; the keep decision
    // is the dataset_split md5 fence (seed "soft") mod component size
    "soft_dedup" ->
      s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
        | UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT t.doc_id, e.dst FROM reach t JOIN edges e ON e.src = t.r),
        |labels AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id),
        |gs AS (SELECT group_id, CAST(count(*) AS BIGINT) AS sz
        | FROM labels GROUP BY group_id),
        |keepf AS (SELECT l.doc_id,
        |  CASE WHEN ${PipelineOps.keyHashSql("soft")} % gs.sz = 0
        |   THEN 1 ELSE 0 END AS kept
        | FROM labels l JOIN gs USING (group_id))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(kept) AS BIGINT) AS n_kept,
        | round(CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |  AS kept_share
        |FROM documents d JOIN keepf ON keepf.doc_id = d.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH $candCtesSql,
        |s3 AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM s3 GROUP BY doc_id),
        |inter AS (
        | SELECT c.doc_a, c.doc_b, count(*) AS i
        | FROM cand c
        |  JOIN s3 x ON x.doc_id = c.doc_a
        |  JOIN s3 y ON y.doc_id = c.doc_b AND y.sh = x.sh
        | GROUP BY c.doc_a, c.doc_b)
        |SELECT i.doc_a, i.doc_b,
        | round(CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE), 6) AS jaccard
        |FROM inter i
        | JOIN sizes sa ON sa.doc_id = i.doc_a
        | JOIN sizes sb ON sb.doc_id = i.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    "source_overlap_jaccard" ->
      s"""WITH $shingleCtesSql,
        |ss AS (SELECT DISTINCT d.source, s.sh
        | FROM sh s JOIN documents d USING (doc_id)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
        | FROM ss GROUP BY source),
        |inter AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_common
        | FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        | GROUP BY a.source, b.source)
        |SELECT i.source_a, i.source_b, i.n_common,
        | round(CAST(i.n_common AS DOUBLE)
        |   / CAST(sa.sz + sb.sz - i.n_common AS DOUBLE), 6) AS jaccard
        |FROM inter i
        | JOIN sizes sa ON sa.source = i.source_a
        | JOIN sizes sb ON sb.source = i.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    // the ngram_jaccard pair stack crossed with the literal threshold
    // frame (generated from the same Scala constant), two aggregates,
    // LEFT-join completion for thresholds no pair reaches
    "dedup_threshold_sweep" ->
      s"""WITH $candCtesSql,
        |s3 AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM s3 GROUP BY doc_id),
        |inter AS (
        | SELECT c.doc_a, c.doc_b, count(*) AS i
        | FROM cand c
        |  JOIN s3 x ON x.doc_id = c.doc_a
        |  JOIN s3 y ON y.doc_id = c.doc_b AND y.sh = x.sh
        | GROUP BY c.doc_a, c.doc_b),
        |pj AS MATERIALIZED (SELECT i.doc_a, i.doc_b,
        | round(CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE), 6) AS jaccard
        | FROM inter i
        |  JOIN sizes sa ON sa.doc_id = i.doc_a
        |  JOIN sizes sb ON sb.doc_id = i.doc_b),
        |th AS (SELECT CAST(unnest(${DedupSweepThresholds.mkString("[", ", ", "]")}) AS DOUBLE) AS threshold),
        |e AS MATERIALIZED (SELECT th.threshold, pj.doc_a, pj.doc_b
        | FROM pj, th WHERE pj.jaccard >= th.threshold),
        |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS np
        | FROM e GROUP BY threshold),
        |ndc AS (SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS nd FROM (
        | SELECT threshold, doc_a AS d FROM e
        | UNION ALL SELECT threshold, doc_b FROM e) u GROUP BY threshold)
        |SELECT th.threshold,
        | CAST(coalesce(np.np, 0) AS BIGINT) AS n_pairs,
        | CAST(coalesce(ndc.nd, 0) AS BIGINT) AS n_docs
        |FROM th LEFT JOIN np USING (threshold) LEFT JOIN ndc USING (threshold)
        |ORDER BY th.threshold""".stripMargin,
    "minhash_est_error" -> {
      val matchSql = (1 to MinhashPieces)
        .map(k => s"CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $candCtesSql,
        |s3 AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM s3 GROUP BY doc_id),
        |inter AS (
        | SELECT c.doc_a, c.doc_b, count(*) AS i
        | FROM cand c
        |  JOIN s3 x ON x.doc_id = c.doc_a
        |  JOIN s3 y ON y.doc_id = c.doc_b AND y.sh = x.sh
        | GROUP BY c.doc_a, c.doc_b),
        |pe AS (SELECT
        |  CAST(round(abs(CAST($matchSql AS DOUBLE) / $MinhashPieces.0 -
        |    round(CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE), 6)), 6)
        |   AS DECIMAL(18,6)) AS err
        | FROM inter i
        |  JOIN sig a ON a.doc_id = i.doc_a
        |  JOIN sig b ON b.doc_id = i.doc_b
        |  JOIN sizes sa ON sa.doc_id = i.doc_a
        |  JOIN sizes sb ON sb.doc_id = i.doc_b)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        | round(CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_abs_err,
        | CAST(max(err) AS DOUBLE) AS max_abs_err
        |FROM pe HAVING count(*) >= 1""".stripMargin
    },
    "jaccard_band_histogram" ->
      s"""WITH $candCtesSql,
        |s3 AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM s3 GROUP BY doc_id),
        |inter AS (
        | SELECT c.doc_a, c.doc_b, count(*) AS i
        | FROM cand c
        |  JOIN s3 x ON x.doc_id = c.doc_a
        |  JOIN s3 y ON y.doc_id = c.doc_b AND y.sh = x.sh
        | GROUP BY c.doc_a, c.doc_b),
        |jb AS (SELECT
        |  floor(round(CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE), 6) * 10.0) / 10.0 AS band_lo
        | FROM inter i
        |  JOIN sizes sa ON sa.doc_id = i.doc_a
        |  JOIN sizes sb ON sb.doc_id = i.doc_b)
        |SELECT band_lo, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM jb GROUP BY band_lo ORDER BY band_lo""".stripMargin,
    "dedup_rate_by_source" ->
      s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
        | UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT t.doc_id, e.dst FROM reach t JOIN edges e ON e.src = t.r),
        |lbl AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN l.group_id <> l.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        | round(CAST(sum(CASE WHEN l.group_id <> l.doc_id THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 /
        |  CAST(count(*) AS DOUBLE), 6) AS dup_pct
        |FROM lbl l JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "minhash_containment" ->
      s"""WITH $candCtesSql,
        |s3 AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM s3 GROUP BY doc_id),
        |inter AS (
        | SELECT c.doc_a, c.doc_b, count(*) AS i
        | FROM cand c
        |  JOIN s3 x ON x.doc_id = c.doc_a
        |  JOIN s3 y ON y.doc_id = c.doc_b AND y.sh = x.sh
        | GROUP BY c.doc_a, c.doc_b)
        |SELECT i.doc_a, i.doc_b,
        | round(CAST(i.i AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
        |FROM inter i
        | JOIN sizes sa ON sa.doc_id = i.doc_a
        | JOIN sizes sb ON sb.doc_id = i.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    "simhash" ->
      s"""WITH $simhashCtesSql
        |SELECT doc_id, simhash FROM shsig ORDER BY doc_id""".stripMargin,
    // The IDENTICAL banded plan as the Scala side (4 bands × 15 bits;
    // lossless for Hamming ≤ 3, see simhashNeardup) — banded here too so
    // the oracle stays feasible at big SFs, not a quadratic self-join.
    "simhash_neardup" ->
      s"""WITH $simhashCtesSql,
        |shbands AS MATERIALIZED (
        | SELECT doc_id, simhash, bb.band_no,
        |  (simhash // CAST(pow(2, 15 * bb.band_no) AS BIGINT)) % 32768 AS bh
        | FROM shsig, (SELECT unnest(generate_series(0, 3)) AS band_no) bb),
        |shcand AS (
        | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        | FROM shbands a JOIN shbands b
        |  ON a.band_no = b.band_no AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM shcand
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_method_agreement" ->
      s"""WITH $candCtesSql,
        |$simhashCtesSql,
        |shbands AS MATERIALIZED (
        | SELECT doc_id, simhash, bb.band_no,
        |  (simhash // CAST(pow(2, 15 * bb.band_no) AS BIGINT)) % 32768 AS bh
        | FROM shsig, (SELECT unnest(generate_series(0, 3)) AS band_no) bb),
        |shp AS (
        | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM shbands a JOIN shbands b
        |  ON a.band_no = b.band_no AND a.bh = b.bh AND a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |j AS (SELECT m.doc_a IS NOT NULL AS in_mh, s.doc_a IS NOT NULL AS in_sh
        | FROM cand m FULL OUTER JOIN shp s
        |  ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b),
        |agg AS (SELECT
        |  CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN NOT in_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
        |  CAST(sum(CASE WHEN NOT in_mh THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only
        | FROM j)
        |SELECT n_both, n_minhash_only, n_simhash_only,
        | round(CAST(n_both AS DOUBLE) /
        |  CAST(greatest(n_both + n_minhash_only + n_simhash_only, 1) AS DOUBLE), 6)
        |  AS pair_jaccard
        |FROM agg WHERE n_both IS NOT NULL""".stripMargin,
    "tf_embedding" ->
      s"""WITH $tfCtesSql
        |SELECT doc_id, dim, tf FROM tf ORDER BY doc_id, dim""".stripMargin,
    "doc_embed_similarity" ->
      s"""WITH $candCtesSql,
        |$tfCtesSql,
        |norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY doc_id),
        |dots AS (
        | SELECT c.doc_a, c.doc_b, sum(x.tf * y.tf) AS dot
        | FROM cand c
        |  JOIN tf x ON x.doc_id = c.doc_a
        |  JOIN tf y ON y.doc_id = c.doc_b AND y.dim = x.dim
        | GROUP BY c.doc_a, c.doc_b)
        |SELECT c.doc_a, c.doc_b,
        | CASE WHEN coalesce(na.n2, 0) = 0 OR coalesce(nb.n2, 0) = 0 THEN 0.0
        |      ELSE round(CAST(coalesce(d.dot, 0) AS DOUBLE) /
        |        (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) END AS cos
        |FROM cand c
        | LEFT JOIN dots d ON d.doc_a = c.doc_a AND d.doc_b = c.doc_b
        | LEFT JOIN norms na ON na.doc_id = c.doc_a
        | LEFT JOIN norms nb ON nb.doc_id = c.doc_b
        |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars_calc,
        | array_length(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        | array_length(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_unique_words,
        | round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |   CAST(array_length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "char_entropy" ->
      s"""WITH dn AS (SELECT doc_id, $normSql AS norm FROM documents),
        |cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM (
        | SELECT doc_id, unnest(regexp_extract_all(norm, '.')) AS ch FROM dn) t
        | GROUP BY doc_id, ch),
        |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nc FROM cc GROUP BY doc_id)
        |SELECT doc_id, nc AS n_chars,
        | CAST(CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / CAST(nc AS DOUBLE)) *
        |   ln(CAST(c AS DOUBLE) / CAST(nc AS DOUBLE)), 6) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |  AS entropy
        |FROM cc JOIN tot USING (doc_id) GROUP BY doc_id, nc
        |ORDER BY doc_id""".stripMargin,
    "dup_inflation_by_source" ->
      """WITH h AS (SELECT doc_id, source, n_chars, md5(text) AS content_hash,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS canonical_chars,
        | round(CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) /
        |  CAST(NULLIF(CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT), 0) AS DOUBLE), 6)
        |  AS char_inflation
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    "lang_entropy_by_source" ->
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        | FROM documents GROUP BY source, lang),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY source)
        |SELECT source, count(*) AS n_langs,
        | CAST(CAST(sum(CAST(round(-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) *
        |   ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)), 6) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |  AS lang_entropy
        |FROM c JOIN t USING (source) GROUP BY source ORDER BY source""".stripMargin,
    "lang_dist" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | round(CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "lang_id" ->
      s"""WITH $langIdCtesSql
        |SELECT doc_id, lang, score_en, score_es, score_fr, score_de, predicted_lang
        |FROM pred ORDER BY doc_id""".stripMargin,
    "langid_confusion" ->
      s"""WITH $langIdCtesSql
        |SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred GROUP BY lang, predicted_lang
        |ORDER BY lang, predicted_lang""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        | array_length(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        | array_length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        | round(CAST(array_length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) * 100.0 /
        |   CAST(greatest(length(text), 1) AS DOUBLE), 6) AS tokens_per_100_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      s"""WITH $qualityCtesSql
        |SELECT doc_id, n_words, n_punct, n_stop, quality
        |FROM q ORDER BY doc_id""".stripMargin,
    "quality_by_source" ->
      s"""WITH $qualityCtesSql
        |SELECT d.source, count(*) AS n_docs,
        | round(CAST(CAST(sum(CAST(q.quality AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) /
        |  CAST(count(*) AS DOUBLE), 6) AS avg_quality,
        | min(q.quality) AS min_quality, max(q.quality) AS max_quality
        |FROM q JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "quality_filter" ->
      s"""WITH $qualityCtesSql
        |SELECT doc_id, lang, quality FROM (
        | SELECT q.*,
        |  row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n
        | FROM q) t
        |WHERE rn <= (n + 1) // 2 ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents)
        |SELECT doc_id,
        | md5(CAST(length(norm) AS VARCHAR) || ':' || substr(norm, 1, 64) || ':' ||
        |     substr(norm, greatest(length(norm) - 63, 1), 64)) AS fp
        |FROM n ORDER BY doc_id""".stripMargin,
    "repetition_stats" ->
      s"""WITH $shingleCtesSql,
        |g3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_3grams,
        |  CAST(count(DISTINCT sh) AS BIGINT) AS n_uniq_3grams FROM sh GROUP BY doc_id),
        |w1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(count(DISTINCT t) AS BIGINT) AS n_uniq_words
        | FROM (SELECT doc_id, unnest(tokens) AS t FROM tk) u GROUP BY doc_id)
        |SELECT doc_id, n_3grams, n_uniq_3grams,
        | round(1.0 - CAST(n_uniq_3grams AS DOUBLE) / CAST(n_3grams AS DOUBLE), 6) AS rep3_ratio,
        | n_words, n_uniq_words,
        | round(CAST(n_uniq_words AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS ttr
        |FROM g3 JOIN w1 USING (doc_id) ORDER BY doc_id""".stripMargin,
    "pii_scrub" ->
      s"""WITH t AS (SELECT doc_id,
        |  ${piiInjectSql(x => s"CAST($x AS VARCHAR)")} AS txt FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(txt, '$EmailRe')) AS INTEGER) AS n_email,
        | CAST(len(regexp_extract_all(txt, '$PhoneRe')) AS INTEGER) AS n_phone,
        | CAST(len(regexp_extract_all(txt, '$IpRe')) AS INTEGER) AS n_ip,
        | md5(regexp_replace(regexp_replace(regexp_replace(txt,
        |   '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
        |   '$IpRe', '<IP>', 'g')) AS scrubbed_hash
        |FROM t ORDER BY doc_id""".stripMargin,
    "dataset_card" ->
      s"""WITH $qualityCtesSql,
        |census AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(array_length(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
        |  CAST(count(*) - count(DISTINCT md5($normSql)) AS BIGINT) AS n_norm_dups,
        |  round(CAST(CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS mean_len
        | FROM documents),
        |mq AS (SELECT round(CAST(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS mean_quality FROM q)
        |SELECT n_docs, n_tokens, n_langs, n_sources, n_exact_dups,
        | n_norm_dups, mean_len, mean_quality
        |FROM census, mq WHERE n_docs > 0""".stripMargin,
    // rules computed from the ROUNDED ratios on both sides, so the rule
    // booleans can never disagree with the reported values
    "gopher_rules" ->
      s"""WITH g AS (SELECT doc_id,
        |  len(string_split(trim(text), ' ')) AS n_words,
        |  length(replace(text, ' ', '')) AS word_chars,
        |  CAST((length(text) - length(replace(text, '#', ''))) AS INTEGER)
        |   + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS INTEGER) AS symbols,
        |  len(list_filter(string_split(trim(text), ' '),
        |      w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
        |  ${GopherStops.map(w =>
            s"(CASE WHEN strpos(' ' || text || ' ', ' $w ') > 0 THEN 1 ELSE 0 END)")
            .mkString(" + ")} AS stop_distinct
        | FROM documents),
        |r AS (SELECT doc_id, n_words,
        |  round(CAST(word_chars AS DOUBLE) / n_words, 6) AS mean_wlen,
        |  round(CAST(symbols AS DOUBLE) / n_words, 6) AS symbol_ratio,
        |  round(CAST(alpha_words AS DOUBLE) / n_words, 6) AS alpha_frac,
        |  stop_distinct
        | FROM g)
        |SELECT doc_id, n_words, mean_wlen, symbol_ratio, alpha_frac, stop_distinct,
        | (n_words >= 50 AND n_words <= 100000) AS r_words,
        | (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AS r_wlen,
        | (symbol_ratio < 0.1) AS r_symbol,
        | (alpha_frac >= 0.8) AS r_alpha,
        | (stop_distinct >= $GopherStopMin) AS r_stop,
        | CAST((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
        |  + (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN symbol_ratio < 0.1 THEN 1 ELSE 0 END)
        |  + (CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END)
        |  + (CASE WHEN stop_distinct >= $GopherStopMin THEN 1 ELSE 0 END) AS INTEGER) AS n_passed,
        | (n_words >= 50 AND n_words <= 100000 AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
        |  AND symbol_ratio < 0.1 AND alpha_frac >= 0.8
        |  AND stop_distinct >= $GopherStopMin) AS keep
        |FROM r ORDER BY doc_id""".stripMargin)
}
