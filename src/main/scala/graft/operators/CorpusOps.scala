package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.api.Caches
import graft.model.Tables

/** Corpus-statistics and mixture operators a large-scale training-data
  * pipeline needs beyond per-document scoring (SURVEY.md §2.3): corpus
  * vocabulary, n-gram frequency tables, passage-level exact dedup, and
  * token-budgeted source mixing. All are explode + groupBy / window
  * pipelines over built-in functions — one shuffle on the natural key,
  * map-side partial aggregation everywhere, no driver-side data loops.
  *
  * Scale notes (100 TB):
  *  - vocabulary/n-gram tables shuffle (token, partial-count) pairs, not
  *    documents; the reduce side is vocabulary-sized, and the global
  *    top-k is a TakeOrderedAndProject (per-partition heaps + driver
  *    merge of k rows), never a global sort.
  *  - passage dedup shuffles a 128-bit passage hash, never passage text.
  *  - source mixing windows partition by source — per-source streams,
  *    no global order.
  */
object CorpusOps {

  // ------------------------------------------------------------ vocabulary
  /** Top-[[VocabTopK]] corpus vocabulary: occurrence count + document
    * frequency per token. count + count(distinct doc) in one aggregate —
    * Catalyst plans the distinct via expand + two-phase agg, still a
    * single shuffle on the token key. Deterministic tiebreak on the
    * token itself so the cut is stable across runs and engines. */
  private[operators] val VocabTopK = 100

  def vocabTopk(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.normed(spark, sfDir)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(VocabTopK)

  /** k values swept by [[vocabCoverageCurve]]. */
  private[operators] val CoverageKs = Seq(10, 50, 100, 500, 1000)

  /** Vocabulary coverage curve: the fraction of total token MASS the
    * top-k vocabulary covers, for the [[CoverageKs]] ladder — the
    * tokenizer-planning table (where the curve flattens is where a
    * bigger vocab stops paying; the gap to 1.0 at the chosen k is the
    * OOV mass a fallback scheme must carry). Rank ties break on the
    * token itself (the vocab_topk discipline), so the curve is stable
    * across runs and engines. Scale shape: token counts shuffle the
    * VOCABULARY, not the corpus; the rank window is one vocab-sized
    * task (vocabulary is bounded by the language, not the data); the
    * k-sweep is a 5-row broadcast over vocab rows into a ≤5-row
    * aggregate. */
  def vocabCoverageCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = TextOps.normed(spark, sfDir)
      .select(explode(split(col("norm"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("rn",
      row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
    ranked.crossJoin(broadcast(CoverageKs.toDF("k")))
      .groupBy(col("k"))
      .agg(sum(when(col("rn") <= col("k"), col("cnt")).otherwise(lit(0L)))
          .as("top_mass"),
        sum(col("cnt")).as("total_mass"))
      .select(col("k"), col("top_mass"), col("total_mass"),
        round(col("top_mass").cast("double") / col("total_mass").cast("double"), 6)
          .as("coverage"))
      .orderBy("k")
  }

  /** Vocabulary size above which a token counts as OOV in [[oovRate]]. */
  private[operators] val OovVocabK = 100

  /** Per-document OOV-mass rate: the fraction of a doc's tokens that
    * fall OUTSIDE the corpus top-[[OovVocabK]] vocabulary — the
    * document-level companion of [[vocabCoverageCurve]] (the curve sizes
    * the vocab; this ranks which DOCS pay the OOV cost under it —
    * rare-token-heavy docs are both the quality-filter suspects and the
    * tokenizer's worst fertility cases). Rank ties break on the token
    * (the vocab_topk discipline). Scale shape: the vocab rank is
    * vocab-space; the token→in-vocab join hits a K-row side (broadcast);
    * one doc-keyed aggregate closes. */
  def oovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextOps.normed(spark, sfDir)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("token"))
    val topVocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(OovVocabK)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(topVocab), Seq("token"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Jensen–Shannon divergence (nats) between each SOURCE's token
    * distribution and the corpus's — the drift/contamination audit for
    * mixture planning (JS, not KL: symmetric, finite even when a source
    * misses vocabulary, bounded by ln 2). Computed SPARSELY: over the
    * tokens a source actually has, both KL legs contribute
    * 0.5·(p·ln(p/m) + q·ln(q/m)) with m = (p+q)/2; every corpus token
    * the source lacks contributes q·ln(q/(q/2)) = q·ln 2 to the q-leg,
    * so the absent mass folds into ONE closed term
    * 0.5·ln 2·(1 − q_present) — no dense vocab×sources frame is ever
    * built. Determinism: p and q are single divisions of exact counts,
    * per-token terms are round-6 DECIMAL(18,6) sums (the entropy
    * discipline), the closing combination is one identical double
    * expression. Scale shape: (source, token) and (token) aggregates —
    * key-space cost — then a vocab-sized join and a sources-sized
    * output. */
  def sourceJsDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Tables.fannedDocuments(spark, sfDir)
      .select(col("source"),
        explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
          .as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("sc"))
    val corpus = st.groupBy(col("token")).agg(sum(col("sc")).as("cc"))
    val stot = st.groupBy(col("source")).agg(sum(col("sc")).as("stot"))
    val ctot = corpus.agg(sum(col("cc")).as("ctot"))
    val p = col("sc").cast("double") / col("stot").cast("double")
    val q = col("cc").cast("double") / col("ctot").cast("double")
    val m = (p + q) / 2.0
    val terms = st.join(corpus, Seq("token"))
      .join(stot, Seq("source"))
      .crossJoin(broadcast(ctot))
      .select(col("source"), col("cc"),
        round(lit(0.5) * (p * log(p / m) + q * log(q / m)), 6)
          .cast(DecimalType(18, 6)).as("term"))
    terms
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens_shared"),
        sum(col("term")).cast("double").as("present_sum"),
        sum(col("cc")).as("cpresent"))
      .crossJoin(broadcast(ctot))
      .select(col("source"), col("n_tokens_shared"),
        round(col("present_sum") + lit(0.5) * log(lit(2.0)) *
          ((col("ctot") - col("cpresent")).cast("double") / col("ctot").cast("double")), 6)
          .as("js_divergence"))
      .orderBy("source")
  }

  // -------------------------------------------------------- Zipf fit
  /** Vocabulary terms entering the [[zipfSlope]] regression. */
  private[operators] val ZipfTopK = 100

  /** Zipf's-law fit: OLS slope of ln(count) on ln(rank) over the top
    * [[ZipfTopK]] vocabulary terms — the corpus-health scalar (natural
    * language sits near −1; a slope collapsing toward 0 flags template /
    * boilerplate floods, strongly below −1 flags a vocabulary crush).
    *
    * Determinism: x = ln(rank) and y = ln(count) are each round-6
    * DECIMAL(18,6), so Σx, Σy, Σxy, Σx² are exact under any shuffle
    * order (the stats_pack discipline); the closing OLS chain is one
    * identical double expression in both engines. Scale shape: the rank
    * window runs AFTER the top-k cut, over ≤ [[ZipfTopK]] rows —
    * metadata-sized by construction, so the single-partition window is
    * free; everything corpus-sized is the one vocab aggregate. Fewer
    * than 3 points → no row (slope undefined). */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val topv = TextOps.normed(spark, sfDir)
      .select(explode(split(col("norm"), " ")).as("token"))
      .filter(length(col("token")) >= 1)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(ZipfTopK)
    val w = Window.orderBy(col("cnt").desc, col("token"))
    val xy = topv.withColumn("rank", row_number().over(w))
      .select(
        round(log(col("rank").cast("double")), 6).cast("decimal(18,6)").as("x"),
        round(log(col("cnt").cast("double")), 6).cast("decimal(18,6)").as("y"))
    val nd = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double")
    val slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 3)
      .select(col("n").as("n_terms"),
        round(slope, 6).as("slope"),
        round((sy - slope * sx) / nd, 6).as("intercept"))
  }

  // ------------------------------------------------------- BPE merge step
  /** Pairs reported by [[bpeMergeTopk]]. */
  private[operators] val BpeTopK = 20

  /** First BPE merge iteration (Sennrich et al.): the top
    * [[BpeTopK]] adjacent character pairs by corpus frequency — the
    * statistic a tokenizer trainer computes (and re-computes per merge)
    * over a 100 TB corpus. The op exploits BPE's defining shortcut: pair
    * counting runs over the WORD VOCABULARY weighted by word count, not
    * over the corpus — so after the one vocab aggregate (shuffles words,
    * reduce side is vocabulary-sized), the pair explode + aggregate
    * touches |vocab| rows regardless of corpus size, and the cut is a
    * TakeOrderedAndProject. Deterministic tiebreak on the pair text. */
  def bpeMergeTopk(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.normed(spark, sfDir)
      .select(explode(split(col("norm"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(BpeTopK)

  // ------------------------------------------------- multi-merge BPE trainer
  /** Merge rounds run by [[bpeTrain]] / [[bpeEncode]]. */
  private[operators] val BpeTrainMerges = 4

  /** Initial symbol frame: each word as the string "^c  ^a  ^t  " —
    * every symbol '^'-prefixed and double-space-TERMINATED. The
    * representation is what makes the merge a single literal
    * (regex-free) replace: merging pair (x, y) rewrites "^x  ^y  " →
    * "^xy  ", where the sentinel anchors symbol STARTS (pair (a,b)
    * never matches inside token "xa"), the terminator anchors symbol
    * ENDS (token "ba" never matches pair ending in "b"), and each
    * match consumes its own trailing separator, so non-overlapping
    * leftmost replace IS the greedy left-to-right pair application of
    * a real BPE trainer ("a a a a" → "aa aa", "a a a" → "aa a"). */
  private[graft] def bpeSymInit(words: DataFrame): DataFrame =
    words.select(col("word"),
      regexp_replace(col("word"), "(.)", "^$1  ").as("sym"),
      col("cnt"))

  /** Adjacent-symbol pair counts over a symbol frame, weighted by word
    * count — the statistic of one BPE round. Distributed explode +
    * groupBy with map-side partials; vocab-sized, never corpus-sized. */
  private def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("cnt"),
        expr("filter(split(sym, '  '), t -> t != '')").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(substring(toks[i-1], 2) AS x, substring(toks[i], 2) AS y))"))
        .as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(sum(col("cnt")).as("n"))

  /** The K-round greedy merge loop over an initial symbol frame:
    * returns (merge rows, symbol frames v0..vK). Each round collects
    * ONLY the top pair (count desc, pair text asc ties) — K one-row
    * collects; a round with no pairs left leaves the
    * frame unchanged (and records no merge). The merge replace is
    * built with the COLUMN API (`functions.replace` on literal columns),
    * never by interpolating learned pair text into a SQL string — a
    * corpus token containing `'` or `\` would make an interpolated
    * `expr` unparsable or silently wrong (round-13 ADVICE). */
  private[graft] def bpeChainOf(v0in: DataFrame, rounds: Int = BpeTrainMerges)
      : (Seq[(Int, String, String, Long)], Seq[DataFrame]) = {
    val v0 = Caches.materialize(v0in)
    var vocab: DataFrame = v0
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame](v0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to rounds) {
      bpePairCounts(vocab)
        .orderBy(col("n").desc, col("x"), col("y")).limit(1).collect()
        .foreach { r =>
          val (x, y) = (r.getString(0), r.getString(1))
          merges += ((step, x, y, r.getLong(2)))
          vocab = vocab.withColumn("sym",
            replace(col("sym"), lit(s"^$x  ^$y  "), lit(s"^$x$y  ")))
        }
      frames += vocab
    }
    (merges.toSeq, frames.toSeq)
  }

  private def bpeChain(spark: SparkSession, sfDir: String)
      : (Seq[(Int, String, String, Long)], Seq[DataFrame]) =
    bpeChainOf(bpeSymInit(TextOps.normed(spark, sfDir)
      .select(explode(split(col("norm"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))))

  /** Multi-merge BPE TRAINING (Sennrich et al.'s loop, [[BpeTrainMerges]]
    * rounds — `bpe_merge_topk` is one round's statistic, this is the
    * trainer): per round, count adjacent symbol pairs over the word
    * vocabulary weighted by word count (BPE's defining shortcut — work
    * is vocab-sized, so a 100 TB corpus trains from ONE vocab
    * aggregate), pick the most frequent pair (ties on the pair text),
    * apply it with one literal replace. Deterministic end-to-end:
    * exact integer counts, total argmax order. The oracle unrolls the
    * identical rounds as chained CTEs. */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = bpeChain(spark, sfDir)
    merges.map { case (s, x, y, n) => (s, x, y, x + y, n) }
      .toDF("step", "x", "y", "merged", "n")
      .orderBy("step")
  }

  /** Per-document token accounting under the TRAINED tokenizer: for
    * every doc, its word count, character-level token count (the
    * round-0 baseline — every character a symbol) and the BPE token
    * count after the [[BpeTrainMerges]] learned merges, with the
    * compression ratio. The per-document numbers a data-budget owner
    * reads (sequence length under the production tokenizer decides
    * packing, truncation and cost; `bpe_encode` gives the corpus
    * curve, this gives the per-doc breakdown). Scale shape: each
    * word's symbol count is computed ONCE on the vocab-sized final
    * frame and JOINED back to the (doc, word) explode — the vocab side
    * is broadcast-sized at any corpus scale, never a per-document
    * re-tokenization. */
  /** BPE FERTILITY per language: mean BPE tokens per word under the
    * [[bpeTrain]]ed merges, split by language — the tokenizer-equity
    * audit (a language at fertility 2× another pays 2× the context
    * budget per word; the number multilingual tokenizer papers report).
    * Same trained chain and word→symbol-count join as [[bpeDocTokens]],
    * rolled up by language instead of document — key-space aggregates
    * throughout (the join side is the WORD vocabulary). */
  def bpeFertilityByLang(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, frames) = bpeChain(spark, sfDir)
    val wordSyms = frames.last.select(col("word"),
      size(expr("filter(split(sym, '  '), t -> t != '')")).as("n_syms"))
    Tables.fannedDocuments(spark, sfDir)
      .select(col("lang"),
        explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
          .as("word"))
      .filter(length(col("word")) >= 1)
      .join(wordSyms, Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).cast("long").as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"))
      .orderBy("lang")
  }

  def bpeDocTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, frames) = bpeChain(spark, sfDir)
    val wordSyms = frames.last.select(col("word"),
      size(expr("filter(split(sym, '  '), t -> t != '')")).as("n_syms"))
    TextOps.normed(spark, sfDir)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(wordSyms, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_char_tokens"),
        sum(col("n_syms")).cast("long").as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_bpe_tokens").cast("double") / col("n_char_tokens"), 6))
      .orderBy("doc_id")
  }

  /** BPE ENCODING telemetry: the corpus-compression curve of the
    * learned merges — after each round 0..K, total corpus tokens
    * (Σ word count × symbols-per-word) and distinct symbol types. The
    * numbers a tokenizer-budget decision reads (marginal token savings
    * per added merge). Exact integer aggregates per step over the
    * vocab-sized symbol frame; empty corpus → no rows (stated
    * identically in the oracle). */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, frames) = bpeChain(spark, sfDir)
    val rows = frames.zipWithIndex.flatMap { case (v, step) =>
      val toks = v.select(col("cnt"),
        expr("filter(split(sym, '  '), t -> t != '')").as("toks"))
      val agg = toks.agg(sum(col("cnt") * size(col("toks"))).as("t")).head()
      if (agg.isNullAt(0)) None
      else {
        val nSym = toks.select(explode(col("toks")).as("s"))
          .agg(count_distinct(col("s"))).head().getLong(0)
        Some((step, agg.getLong(0), nSym))
      }
    }
    rows.toDF("step", "total_tokens", "n_symbols").orderBy("step")
  }

  // ------------------------------------------------ bigram predictability
  /** Corpus conditional next-token entropy H(V|U) = −Σ p(u,v)·ln p(v|u)
    * over adjacent-token bigrams — the one-scalar predictability probe
    * (LOW says the corpus is template-/boilerplate-ridden: the next
    * token is nearly determined; natural prose sits markedly higher).
    * Complements [[zipfSlope]] (marginal distribution shape) with a
    * sequential-structure signal, and the unigram-LM `perplexity_score`
    * (per-doc) with a corpus-level bigram statistic.
    *
    * Determinism: each term −(c_uv/N)·ln(c_uv/c_u) is round-6
    * DECIMAL(18,6) before the sum (the established discipline).
    * Scale shape: one bigram explode → (u,v) aggregate with map-side
    * partials; prefix counts derive from the BIGRAM table (vocabulary²-
    * bounded, not corpus-bounded), the 1-row total broadcasts. */
  def bigramEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = TextOps.normed(spark, sfDir)
      .select(split(col("norm"), " ").as("tokens"))
      .filter(size(col("tokens")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tokens) - 1), i -> struct(tokens[i-1] AS u, tokens[i] AS v))")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    // Eager persist: cuv feeds THREE consumers (itself, the prefix
    // aggregate, the total) and the static plan carries three full
    // scan+explode+aggregate pipelines (graft.Explain). AQE's runtime
    // exchange reuse CAN coalesce identical exchanges, but that is a
    // runtime optimization of one execution — the persist makes the
    // one-bigram-pass guarantee explicit and engine-version-independent
    // (measured a wash at these SFs, where reuse does kick in).
    // Released by the Caches scope like its siblings.
    val cuv = bg.groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
      .transform(Caches.materialize)
    val cu = cuv.groupBy(col("u")).agg(sum(col("c")).as("cu"))
    val nb = cuv.agg(sum(col("c")).as("nb"))
    cuv.join(cu, Seq("u"))
      .crossJoin(broadcast(nb))
      .select(col("nb"),
        round(-(col("c").cast("double") / col("nb").cast("double")) *
          log(col("c").cast("double") / col("cu").cast("double")), 6)
          .cast("decimal(18,6)").as("term"))
      .groupBy(col("nb"))
      .agg(count(lit(1)).as("n_types"), sum(col("term")).cast("double").as("cond_entropy"))
      .select(col("nb").as("n_bigrams"), col("n_types"), col("cond_entropy"))
  }

  // ------------------------------------------------- collocation mining
  /** Minimum bigram count and report size for [[collocationTopk]]. */
  private[operators] val CollocMinCount = 5
  private[operators] val CollocTopK = 20

  /** Collocation mining: top-[[CollocTopK]] adjacent-token pairs by
    * pointwise mutual information with a [[CollocMinCount]] support
    * floor — the classic phrase-detection statistic (word2vec-era
    * phrase merging, Manning & Schütze's collocations chapter): high
    * PMI says the pair co-occurs far above what its parts' frequencies
    * predict, the support floor keeps hapax noise out (PMI's known
    * failure mode — a pair seen once between two rare words maxes the
    * score).
    *
    * Determinism: every ln operand is an exact integer (c·N, cu·cv —
    * all from ONE bigram aggregate), the chain is written identically
    * in both engines, round-6, (pmi desc, u, v) total order. Scale
    * shape: one bigram explode → (u,v) aggregate with map-side
    * partials; margins derive from the bigram table (vocab²-bounded),
    * the 1-row total broadcasts; the cut is a TakeOrderedAndProject. */
  def collocationTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = TextOps.normed(spark, sfDir)
      .select(split(col("norm"), " ").as("tokens"))
      .filter(size(col("tokens")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tokens) - 1), i -> struct(tokens[i-1] AS u, tokens[i] AS v))")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val cuv = bg.groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
      .transform(Caches.materialize)
    val cu = cuv.groupBy(col("u")).agg(sum(col("c")).as("cu"))
    val cv = cuv.groupBy(col("v")).agg(sum(col("c")).as("cv"))
    val nb = cuv.agg(sum(col("c")).as("nb"))
    cuv.filter(col("c") >= CollocMinCount)
      .join(cu, Seq("u")).join(cv, Seq("v"))
      .crossJoin(broadcast(nb))
      .select(col("u"), col("v"), col("c"),
        round(log(col("c").cast("double") * col("nb").cast("double") /
          (col("cu").cast("double") * col("cv").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("u"), col("v"))
      .limit(CollocTopK)
  }

  // -------------------------------------------------- composition PMI
  /** Pointwise mutual information between the `lang` and `source`
    * columns — the dataset-composition association probe (a strongly
    * positive cell says a source over-supplies a language; ≈0
    * everywhere says composition is factorized, which is what a
    * balanced mixture wants).
    *
    * Determinism: every operand inside the ln is an exact integer
    * (cell count, margins, total — derived from ONE contingency
    * aggregate, no re-scan), the double chain is written identically
    * in both engines, and the result is round-6.
    *
    * Scale shape: one corpus scan groupBy(lang, source) with map-side
    * partials; everything downstream operates on the contingency table
    * (≈ |langs|·|sources| rows — metadata-sized), margins broadcast. */
  def langSourcePmi(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.fannedDocuments(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .transform(Caches.materialize)
    val nl = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    val ns = cells.groupBy(col("source")).agg(sum(col("n")).as("n_src"))
    val tot = cells.agg(sum(col("n")).as("total"))
    cells
      .join(broadcast(nl), Seq("lang"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"),
        round(log(col("n").cast("double") * col("total").cast("double") /
          (col("n_lang").cast("double") * col("n_src").cast("double"))), 6).as("pmi"))
      .orderBy("lang", "source")
  }

  // ----------------------------------------------------------------- BM25
  /** BM25 constants (Robertson's defaults) and the deterministic query:
    * the [[Bm25Terms]] vocabulary terms ranked [[Bm25TermOffset]]+1.. by
    * document frequency — mid-df terms, away from both stopword
    * saturation and hapax noise, and fully derivable by both engines
    * (a literal query string would pin the benchmark to one corpus; an
    * offset past the vocabulary yields an empty query — the synthetic
    * corpus carries ~31 distinct tokens, so ranks 11-15 sit mid-table). */
  private[operators] val Bm25K1 = 1.2
  private[operators] val Bm25B = 0.75
  private[operators] val Bm25TermOffset = 10
  private[operators] val Bm25Terms = 5
  private[graft] val Bm25TopK = 20

  /** BM25 top-[[Bm25TopK]] retrieval — the ranked-search primitive a
    * RAG / retrieval pipeline runs over the corpus. Score per doc =
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with the
    * Robertson idf ln((N−df+0.5)/(df+0.5)+1).
    *
    * Determinism: every arithmetic input (tf, df, dl, N, Σdl) is an
    * exact integer; the double expression tree is written identically
    * in both engines (IEEE ops on identical operands), each term
    * contribution is rounded to 6 dp and cast DECIMAL(18,6) so the
    * per-doc sum is exact and shuffle-order-independent — the same ln
    * round-6 discipline as tfidf_embedding/perplexity_score.
    *
    * Scale shape (r18): ONE persisted (doc, token, tf) base — the token
    * explode pre-reduced by a single wide hash aggregate — feeds
    * EVERYTHING: df is a map-combined count over the base, doc length a
    * map-combined sum, the query-term tf a broadcast semi-join
    * projection. One corpus-sized shuffle total where the r17 plan paid
    * three-plus (df's count_distinct alone was two exchange phases over
    * the raw stream). The query terms and the two one-row stat frames
    * broadcast; term selection is a TakeOrderedAndProject
    * (per-partition heaps), not a global sort; the final top-k
    * likewise. */
  def bm25Topk(spark: SparkSession, sfDir: String): DataFrame = {
    val tfb = tfBase(spark, sfDir)
    bm25From(spark, sfDir, tfb, dfShared(tfb))
  }

  /** The one persisted TERM-FREQUENCY base the retrieval family shares
    * ([[bm25Topk]], [[tfidfCosineTopk]], [[rrfFusion]] (which feeds BOTH
    * rankers from a single base — the one-base-per-query rule), and
    * [[retrievalTau]]): (doc_id, token, tf) — the token explode reduced
    * by ONE hash aggregate.
    *
    * The r18 sf10 measurement showed the retrieval stack is
    * AGGREGATE-bound, not explode-bound: its three statistics each
    * re-shuffled the raw token stream (df was a count_distinct — two
    * exchange phases — dl a per-doc count, tf its own aggregate). All
    * three are derivable from tf with map-side-combined aggregates over
    * the PRE-REDUCED table: df = count per token (distinct is free — tf
    * rows are unique per (doc, token)), dl = sum(tf) per doc, and the
    * query-term tf is a broadcast semi-join. One wide shuffle over the
    * token stream total, instead of three-plus. Values are identical
    * integers, so every double chain downstream is untouched — the
    * DuckDB oracles don't change. */
  private def tfBase(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = TextOps.normed(spark, sfDir)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .transform(Caches.persist)
    // NO eager count (r19 job-floor audit, VERDICT r18 item 4): every
    // retrieval entry point immediately builds dfShared, whose OWN eager
    // count reads this frame exactly once and so populates both caches in
    // one job — the separate tf materialization job was pure overhead.
    tf
  }

  /** Per-token document frequency off the shared [[tfBase]] — one
    * map-combined count (tf rows are unique per (doc, token), so a plain
    * count ≡ the count_distinct it replaced). Extracted in the r18
    * optimization round so every retrieval entry point computes it ONCE
    * and persists it ([[dfShared]]): the old shape re-aggregated the tf
    * base for df/idf/terms inside each ranker — three to four identical
    * corpus-wide aggregate subtrees per combined query (guide §2.4:
    * operations keyed the same way should share one exchange; these now
    * share the materialized result outright). */
  private def dfOf(tfb: DataFrame): DataFrame =
    tfb.groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** The derived mid-df query terms off a df frame — shared by every
    * retrieval entry point (TakeOrderedAndProject, never a global sort). */
  private def termsOf(dfv: DataFrame): DataFrame =
    dfv.orderBy(col("df").desc, col("token"))
      .offset(Bm25TermOffset).limit(Bm25Terms)

  /** Persist + materialize the df frame for one retrieval query —
    * vocab-sized (bounded by distinct tokens), far smaller than the tf
    * base it reduces; every ranker subtree then reads the one cached
    * copy instead of re-running the token-keyed aggregate. */
  private def dfShared(tfb: DataFrame): DataFrame = {
    val dfv = Caches.materialize(dfOf(tfb))
    dfv
  }

  private def bm25From(spark: SparkSession, sfDir: String, tfb: DataFrame,
      dfv: DataFrame): DataFrame = {
    // every statistic derives from the pre-reduced tf base: df is a
    // plain count (tf rows are unique per (doc, token)), dl a sum of
    // exact integer tfs — value-identical to the raw-stream aggregates
    val terms = termsOf(dfv)
    val dl = tfb.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n"))
    val dlStats = dl.agg(sum(col("dl")).as("sumdl"), count(lit(1)).as("ndl"))
    val tfq = tfb.join(broadcast(terms.select(col("token"))), Seq("token"))
      .select(col("doc_id"), col("token"), col("tf"))
    val avgdl = col("sumdl").cast("double") / col("ndl").cast("double")
    val idf = log((col("n").cast("double") - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5) + 1.0)
    val contrib = tfq
      .join(broadcast(terms), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(dlStats))
      .select(col("doc_id"),
        round(idf * (col("tf").cast("double") * (lit(Bm25K1) + lit(1.0))) /
          (col("tf").cast("double") +
            lit(Bm25K1) * (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl").cast("double") / avgdl)), 6)
          .cast(DecimalType(18, 6)).as("c"))
    // Single-pass top-k (TakeOrderedAndProject — per-partition heaps, no
    // window exchange). The r18 two-phase rank-filter workaround here was
    // protecting against the AQE replanning hazard (EliminateLimits
    // deleting the fused sort+limit over the cached-base tree); r19
    // root-caused that and excludes the rule from the AQE re-optimizer at
    // the session level (api.AqeGuards), so the limit can never be
    // dropped and the cheap fused form is safe again.
    contrib.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  // ------------------------------------------- dense retrieval + fusion
  /** Docs kept by the dense ranker (matches [[Bm25TopK]] so the fusion
    * sees equal-depth lists). */
  private[graft] val DenseTopK = 20

  /** RRF's rank-discount constant (Cormack et al.'s standard 60). */
  private[operators] val RrfK = 60

  /** Dense-retrieval counterpart of [[bm25Topk]]: rank documents by
    * TF-IDF cosine against the SAME derived mid-df query terms (each
    * query term weighted by its idf, the standard ltc.ltc scheme with
    * [[tfidfEmbedding]]'s smoothed idf). Completes the retrieval pair a
    * RAG stack runs — lexical BM25 and vector-space cosine — over one
    * shared token base.
    *
    * Determinism: idf is one identical double chain from exact-int
    * operands; dot contributions and squared norms are round-6
    * DECIMAL(18,6) before their sums (shuffle-order exact); the closing
    * cosine is one double expression, round-6, ranked with a doc_id
    * tie-break. Scale shape: tf ⋈ idf joins on the TOKEN key (both
    * sides token-keyed — never a broadcast of the vocabulary); the
    * 5-term query and the two 1-row norms broadcast; both top-k cuts
    * are TakeOrderedAndProject. */
  def tfidfCosineTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val tfb = tfBase(spark, sfDir)
    denseFrom(spark, sfDir, tfb, dfShared(tfb))
  }

  private def denseFrom(spark: SparkSession, sfDir: String, tfb: DataFrame,
      dfv: DataFrame): DataFrame = {
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n"))
    val idf = dfv.crossJoin(broadcast(nDocs))
      .select(col("token"),
        (log((col("n") + 1).cast("double") / (col("df") + 1).cast("double")) + 1.0)
          .as("idf"))
    val terms = termsOf(dfv)
    val qw = idf.join(broadcast(terms.select(col("token"))), Seq("token"))
    val n2q = qw.select(round(col("idf") * col("idf"), 6)
        .cast(DecimalType(18, 6)).as("q2"))
      .agg(sum(col("q2")).as("n2q"))
    // ONE doc-keyed aggregate computes BOTH the doc norm and the query
    // dot product (r18 optimization round): the old shape aggregated the
    // weighted table twice (n2d, dot) and joined the two aggregates back
    // together — two corpus-wide doc-keyed exchanges plus a SortMergeJoin
    // where one exchange suffices (guide §2.4). The query-term weight
    // rides in via a left-outer broadcast of the ≤[[Bm25Terms]]-row qw
    // list: round(w·NULL, 6) is NULL and the decimal SUM skips NULLs, so
    // `dot` is bit-identical to the old inner-join sum, and docs with no
    // query term surface as NULL dot — exactly the rows the old inner
    // join dropped (the filter below). n2d sums the identical row set
    // (the left-outer preserves every weighted row; qw tokens are unique
    // so no row duplicates).
    val scored = tfb.join(idf, Seq("token"))
      .join(broadcast(qw.select(col("token"), col("idf").as("qidf"))),
        Seq("token"), "left_outer")
      .select(col("doc_id"),
        (col("tf").cast("double") * col("idf")).as("w"), col("qidf"))
      .groupBy(col("doc_id"))
      .agg(sum(round(col("w") * col("w"), 6).cast(DecimalType(18, 6))).as("n2d"),
        sum(round(col("w") * col("qidf"), 6).cast(DecimalType(18, 6))).as("dot"))
      .filter(col("dot").isNotNull)
      .crossJoin(broadcast(n2q))
      .select(col("doc_id"),
        round(col("dot").cast("double") /
          (sqrt(col("n2d").cast("double")) * sqrt(col("n2q").cast("double"))), 6)
          .as("cos"))
    // Single-pass top-k (TakeOrderedAndProject). This tail is where the
    // round-10 AQE replanning hazard was first caught (count() saw 20,
    // collect() saw the whole corpus); r19 root-caused it — AQE's
    // re-optimizer re-running EliminateLimits over LogicalQueryStage
    // maxRows — and closes it session-wide (api.AqeGuards), so the fused
    // sort+limit replaces the two-phase rank-filter workaround and its
    // two window exchanges.
    scored
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(DenseTopK)
  }

  /** Reciprocal-rank fusion (Cormack et al.) of the lexical
    * [[bm25Topk]] and vector-space [[tfidfCosineTopk]] rankings —
    * THE standard hybrid-retrieval merge a RAG stack ships:
    * score(d) = Σ_lists 1/(k + rank_list(d)) over the lists that
    * retrieved d, k = [[RrfK]]. Both rankers feed off ONE persisted
    * token base; the rank windows run over ≤20 rows post-top-k
    * (metadata-sized by construction), and the fusion is a full outer
    * join of two 20-row lists. Score arithmetic is two correctly-
    * rounded double divisions over exact integer denominators, summed
    * and round-6, doc_id tie-broken. */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tfBase(spark, sfDir)
    val dfv = dfShared(toks)
    val wa = Window.orderBy(col("bm25").desc, col("doc_id"))
    val wb = Window.orderBy(col("cos").desc, col("doc_id"))
    val a = bm25From(spark, sfDir, toks, dfv)
      .withColumn("ra", row_number().over(wa)).select("doc_id", "ra")
    val b = denseFrom(spark, sfDir, toks, dfv)
      .withColumn("rb", row_number().over(wb)).select("doc_id", "rb")
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rb")), lit(0.0)), 6).as("rrf"))
      // fused sort+limit is safe again under the AqeGuards rule exclusion
      // (r19) — one TakeOrdered over ≤ 40 fused rows, no window exchange
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** Tau derivation — ONE string for both engines over exact integer
    * inputs (n_pairs, concordant): Kendall tau-a = (C − D)/(C + D);
    * both rankings are tie-free by construction (total orders on
    * (score desc, doc_id)), so tau-a and tau-b coincide. A degenerate
    * overlap (< 2 common docs) emits 0 via the shared CASE. */
  private val TauExpr =
    "round(CASE WHEN n_pairs = 0 THEN 0.0 ELSE " +
      "(CAST(concordant AS DOUBLE) - CAST(n_pairs - concordant AS DOUBLE))" +
      " / CAST(n_pairs AS DOUBLE) END, 6) AS tau"

  /** Kendall rank correlation between the BM25 and TF-IDF-cosine
    * top-k rankings over their COMMON documents — the retrieval-method
    * agreement probe (the `dedup_method_agreement` idea applied to the
    * ranking stack): near-1 says the lexical rankers are redundant and
    * RRF fusion adds nothing; near-0 says they disagree and fusion is
    * load-bearing.
    *
    * Determinism: both rankings are total orders (score desc, doc_id);
    * concordance compares integer rank differences — no score double
    * ever gates a pair — and tau is one shared chain ([[TauExpr]]).
    * Scale shape: both rankers reuse the ONE token base (the rrf_fusion
    * discipline); everything after the two top-k cuts operates on
    * ≤ k² pair rows — metadata at any corpus size. */
  def retrievalTau(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tfBase(spark, sfDir)
    val dfv = dfShared(toks)
    val wa = Window.orderBy(col("bm25").desc, col("doc_id"))
    val wb = Window.orderBy(col("cos").desc, col("doc_id"))
    val a = bm25From(spark, sfDir, toks, dfv)
      .withColumn("ra", row_number().over(wa).cast("long"))
      .select(col("doc_id"), col("ra"))
    val b = denseFrom(spark, sfDir, toks, dfv)
      .withColumn("rb", row_number().over(wb).cast("long"))
      .select(col("doc_id"), col("rb"))
    val common = a.join(b, "doc_id")
    val l = common.select(col("doc_id").as("d1"), col("ra").as("ra1"), col("rb").as("rb1"))
    val r = common.select(col("doc_id").as("d2"), col("ra").as("ra2"), col("rb").as("rb2"))
    l.join(broadcast(r), col("d1") < col("d2"))
      .select((((col("ra1") - col("ra2")) * (col("rb1") - col("rb2"))) > 0)
        .cast("long").as("conc"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("conc")), lit(0L)).as("concordant"))
      .crossJoin(broadcast(common.agg(count(lit(1)).as("n_common"))))
      .selectExpr("n_common", "n_pairs", "concordant",
        "n_pairs - concordant AS discordant", TauExpr)
  }

  /** Docs treated as pseudo-relevant by [[prfExpansion]] (the BM25
    * top-10, standard PRF depth). */
  private[operators] val PrfRelDocs = 10
  /** Expansion terms returned by [[prfExpansion]]. */
  private[operators] val PrfTerms = 20

  /** Pseudo-relevance-feedback query expansion (Rocchio 1971, the
    * positive-feedback term): take the BM25 top-[[PrfRelDocs]] docs as
    * pseudo-relevant, score every token they contain — EXCLUDING the
    * original query terms — by its summed tf·idf mass across that set,
    * and return the top-[[PrfTerms]] expansion terms. The classic
    * second-pass retrieval move (and, in a training-data pipeline, the
    * topic-probe that tells you what a seed query's neighborhood is
    * actually about before mining it).
    *
    * Everything derives from the shared [[tfBase]] kernel: the
    * relevant-doc list is [[bm25Topk]]'s head (10-row broadcast), idf is
    * [[tfidfCosineTopk]]'s smoothed chain from the same df aggregate,
    * and each tf·idf contribution is round-6 DECIMAL(18,6) before the
    * per-token sum (order-exact). Scale shape: the candidate token set
    * is bounded by 10 docs' vocabulary — the big side of its idf join is
    * token-keyed, never a vocabulary broadcast; both cuts are
    * TakeOrderedAndProject. */
  def prfExpansion(spark: SparkSession, sfDir: String): DataFrame = {
    val tfb = tfBase(spark, sfDir)
    val dfv = dfShared(tfb)
    val terms = termsOf(dfv)
    // bm25From's result is already (bm25 desc, doc_id)-ordered by its
    // fused top-k; the head cut is another fused limit — safe under the
    // AqeGuards rule exclusion (r19), no window pass over the 20 rows
    val rel = bm25From(spark, sfDir, tfb, dfv)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(PrfRelDocs)
      .select(col("doc_id"))
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n"))
    val idf = dfv.crossJoin(broadcast(nDocs))
      .select(col("token"),
        (log((col("n") + 1).cast("double") / (col("df") + 1).cast("double")) + 1.0)
          .as("idf"))
    val candTok = tfb.join(broadcast(rel), Seq("doc_id"))
      .join(broadcast(terms.select(col("token"))), Seq("token"), "left_anti")
    candTok.join(idf, Seq("token"))
      .select(col("token"),
        round(col("tf").cast("double") * col("idf"), 6)
          .cast(DecimalType(18, 6)).as("wc"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_rel_docs"), sum(col("wc")).cast("double").as("rocchio"))
      // single-pass fused top-k (TakeOrderedAndProject) — safe under the
      // AqeGuards rule exclusion (r19); replaces the two-phase rank-filter
      // workaround and its two window exchanges
      .orderBy(col("rocchio").desc, col("token"))
      .limit(PrfTerms)
  }

  /** NDCG@k agreement between the two retrieval stacks — the
    * position-weighted companion of [[retrievalTau]]: score the dense
    * (TF-IDF cosine) top-[[DenseTopK]] list against graded relevance
    * derived from the BM25 ranking (gain = k+1−rank for BM25's top-k,
    * 0 otherwise), with the standard log₂ position discount (Järvelin &
    * Kekäläinen 2002). Tau asks "do they ORDER pairs alike"; NDCG asks
    * "does the dense list put BM25's best docs NEAR THE TOP" — the two
    * disagreement modes a fusion design weighs differently.
    *
    * Determinism: gains and positions are exact integers; each DCG term
    * is round-6 DECIMAL(18,6) before its sum (ln-ratio log₂ written
    * identically in both engines); IDCG places gain k+1−r at position r
    * by construction, so it reads off the BM25 list itself. Scale: both
    * lists are k-row frames off the shared [[tfBase]] kernel — the
    * closing math is broadcast-trivial; the corpus cost is the two
    * rankers', already priced. */
  def retrievalNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    val tfb = tfBase(spark, sfDir)
    val dfv = dfShared(tfb)
    val wa = Window.orderBy(col("bm25").desc, col("doc_id"))
    val wb = Window.orderBy(col("cos").desc, col("doc_id"))
    val a = bm25From(spark, sfDir, tfb, dfv)
      .withColumn("ra", row_number().over(wa).cast("long"))
      .select(col("doc_id"), col("ra"))
    val b = denseFrom(spark, sfDir, tfb, dfv)
      .withColumn("rb", row_number().over(wb).cast("long"))
      .select(col("doc_id"), col("rb"))
    val ln2 = log(lit(2.0))
    val joined = b.join(broadcast(a), Seq("doc_id"), "left_outer")
      .select(col("rb"),
        coalesce(lit(Bm25TopK.toLong + 1L) - col("ra"), lit(0L)).as("g"))
      .transform(Caches.materialize)
    val dcg = joined
      .select(round(col("g").cast("double") /
        (log(col("rb").cast("double") + 1.0) / ln2), 6)
        .cast(DecimalType(18, 6)).as("t"))
      .agg(sum(col("t")).cast("double").as("dcg"))
    val idcg = a
      .select(round((lit(Bm25TopK.toLong + 1L) - col("ra")).cast("double") /
        (log(col("ra").cast("double") + 1.0) / ln2), 6)
        .cast(DecimalType(18, 6)).as("t"))
      .agg(sum(col("t")).cast("double").as("idcg"))
    val nCommon = joined.filter(col("g") > 0).agg(count(lit(1)).as("n_common"))
    nCommon.crossJoin(broadcast(dcg)).crossJoin(broadcast(idcg))
      // empty corpus -> no ranked lists -> empty result, not a NULL row
      .filter(col("idcg").isNotNull)
      .select(col("n_common"), col("dcg"), col("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
  }

  /** Per-source lexical-richness profile: token/type/hapax counts with
    * the hapax share (types seen once in the source — Baayen's LNRE
    * growth signal) and type-token ratio. A feed whose hapax share
    * collapses is template-stamped boilerplate; one whose TTR spikes is
    * OCR noise or ID-like garbage — the two directions quality filters
    * then confirm. Scale: one (source, token) aggregate (map-side
    * combined) then a sources-sized reduce; no vocabulary broadcast
    * anywhere. */
  def hapaxRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val st = TextOps.normed(spark, sfDir)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("token"))
      .filter(length(col("token")) >= 1)
      .join(Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    st.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
          .as("hapax_share"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"))
      .orderBy("source")
  }

  /** Mutual information of the language × source contingency — the
    * [[langSourcePmi]] cell table summarized as one number (with its
    * min-entropy normalization): how much knowing the feed tells you
    * about language, 0 ⇒ independent mix, NMI→1 ⇒ feeds are
    * language-silos (a mix whose "diversity" is an illusion of feed
    * routing). The one-number screen before reading the per-cell PMI
    * table.
    *
    * Determinism: every probability is a ratio of exact integers; MI
    * and both marginal entropies accumulate round-6 DECIMAL terms
    * (order-exact), one double division closes NMI. Scale: cells are
    * langs × sources — the corpus reduces in one map-combined
    * aggregate. */
  def langSourceMi(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.fannedDocuments(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .transform(Caches.materialize)
    val nl = cells.groupBy(col("lang")).agg(sum(col("n")).as("nl"))
    val ns = cells.groupBy(col("source")).agg(sum(col("n")).as("ns"))
    val tot = cells.agg(sum(col("n")).as("total"), count(lit(1)).as("n_cells"))
    def entTerm(cnt: Column, total: Column) =
      round(-(cnt.cast("double") / total.cast("double")) *
        log(cnt.cast("double") / total.cast("double")), 6)
        .cast(DecimalType(18, 6))
    val hl = nl.crossJoin(broadcast(tot))
      .select(entTerm(col("nl"), col("total")).as("t"))
      .agg(sum(col("t")).cast("double").as("hl"))
    val hs = ns.crossJoin(broadcast(tot))
      .select(entTerm(col("ns"), col("total")).as("t"))
      .agg(sum(col("t")).cast("double").as("hs"))
    val mi = cells.join(broadcast(nl), Seq("lang"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(round((col("n").cast("double") / col("total").cast("double")) *
        log(col("n").cast("double") * col("total").cast("double") /
          (col("nl").cast("double") * col("ns").cast("double"))), 6)
        .cast(DecimalType(18, 6)).as("t"))
      .agg(sum(col("t")).cast("double").as("mi"))
    tot.select(col("total").as("n_docs"), col("n_cells"))
      // empty corpus -> no contingency table -> empty result
      .filter(col("n_cells") > 0)
      .crossJoin(broadcast(mi))
      .crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .select(col("n_docs"), col("n_cells"), col("mi"),
        round(col("mi") / least(col("hl"), col("hs")), 6).as("nmi"))
  }

  // ------------------------------------------------- unigram LM perplexity
  /** Unigram language-model quality score (the CCNet/KenLM-filter proxy):
    * train token probabilities on the corpus itself (cnt / N), score
    * every document by its mean token surprisal −ln p(t), in nats. Docs
    * full of rare tokens score high (candidate garbage), docs of common
    * filler score low — the standard LM-based quality cut, with the
    * unigram model standing in for the n-gram KenLM this container
    * cannot host.
    *
    * Determinism: each token's surprisal is rounded to 6 dp and cast to
    * DECIMAL(18,6), so the per-doc sum is EXACT and order-independent
    * (float summation order under shuffle would otherwise diverge, and
    * DuckDB would disagree); the single decimal→double cast and the
    * final division are correctly rounded in both engines. Same ln
    * round-6 discipline tfidf_embedding has held green since round 5.
    *
    * Scale shape: one token-keyed aggregate builds the vocab (Zipf: tiny
    * vs the corpus — it broadcasts), one join-back scores tokens in
    * place, one doc_id groupBy reduces — the same two-shuffle profile as
    * vocab_topk + a map-side join. */
  def perplexityScore(spark: SparkSession, sfDir: String): DataFrame =
    docNll(spark, sfDir).orderBy("doc_id")

  /** Per-doc unigram NLL (unsorted) — the shared base for
    * [[perplexityScore]] and the CCNet-style [[pplBuckets]] cut.
    *
    * The vocab join is GATED, not force-broadcast (r17 verdict item 2):
    * `vocab` is a data-dependent frame — the Zipf argument holds for
    * clean prose, but a web corpus's type count grows with typos/URLs
    * and can blow the broadcast ceiling. Below
    * [[graft.api.GraftConfig.broadcastGateRows]] it broadcasts (the
    * map-side join the Zipf case earns); above, it degrades to a
    * token-keyed shuffle join — the `hard_negatives` discipline, and the
    * same physical form [[tfidfCosineTopk]] already uses for its idf
    * leg. The type count rides the SAME one-row aggregate that computes
    * N, so the gate costs no extra job. ([[pplBigram]] audited under the
    * same item: its tables already join token-keyed; only the 1-row N
    * frame broadcasts.) */
  private def docNll(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextOps.normed(spark, sfDir)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    // coalesce: empty corpus sums to NULL; any positive stand-in works
    // (toks is empty, so nothing is ever scored against it)
    val stats = vocab.agg(coalesce(sum(col("cnt")), lit(1L)),
      count(lit(1))).head()
    val n = stats.getLong(0)
    val vocabSide =
      if (stats.getLong(1) <= graft.api.GraftConfig.broadcastGateRows(spark))
        broadcast(vocab)
      else vocab
    val scored = toks.join(vocabSide, Seq("token"))
      .select(col("doc_id"),
        round(-log(col("cnt").cast("double") / lit(n.toDouble)), 6)
          .cast(DecimalType(18, 6)).as("nll"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_nll"))
  }

  /** CCNet-style perplexity bucketing: within each language, documents
    * are cut into head / middle / tail thirds by ascending LM score
    * (head = most fluent third — the slice CCNet keeps for training),
    * reported as per-(lang, bucket) counts and mean NLL.
    *
    * The cut is RANK-based with integer boundary arithmetic
    * (rn·3 ≤ n / rn·3 ≤ 2n — the quality_filter discipline), never a
    * float quantile whose boundary could land differently per engine.
    * The bucket means re-sum the round-6 per-doc scores through
    * DECIMAL(18,6), so they are exact under any shuffle order.
    *
    * Scale note: the per-lang window ranks each language's docs in one
    * task — fine while per-lang doc COUNTS fit a task's sort budget
    * (score + id pairs, not text). */
  def pplBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = Tables.fannedDocuments(spark, sfDir).select(col("doc_id"), col("lang"))
    val d = docNll(spark, sfDir).join(langs, Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("mean_nll").asc, col("doc_id"))
    val part = Window.partitionBy(col("lang"))
    d.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(part))
      .withColumn("bucket",
        when(col("rn") * 3 <= col("n"), lit("head"))
          .when(col("rn") * 3 <= col("n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("mean_nll").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_nll"))
      .orderBy("lang", "bucket")
  }

  // ----------------------------------------------------- CMS heavy hitters
  /** Count-min-sketch heavy hitters: estimated counts for the exact
    * top-[[CmsTopK]] tokens, completing the sketch family next to HLL
    * (`approx_distinct`) and t-digest (`approx_percentiles`). At 100 TB
    * the sketch replaces the full vocab aggregate with a merge of
    * fixed-size (w×d counter) partial sketches — the exact aggregate
    * here exists only to pick the probe tokens and expose the error,
    * which the spec bounds (CMS never underestimates; overestimate
    * ≤ eps·N with prob ≥ confidence). Deterministic: the seed pins the
    * hash functions and counter merges are sums — so since round 15 the
    * query is oracle-bearing the ann_recall way: DuckDB re-states the
    * exact counts and a TRUE verdict, the Spark side computes the
    * verdict FROM the sketch (est ≥ true ∧ est ≤ true + ⌈eps·N⌉); a
    * sketch regression flips the boolean and hash-fails the gate. */
  private[graft] val CmsTopK = 10
  private[graft] val CmsEps = 0.001
  def approxTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Caches.persist(TextOps.normed(spark, sfDir)
      .select(explode(split(col("norm"), " ")).as("token")))
    val cms = toks.stat.countMinSketch("token", eps = CmsEps,
      confidence = 0.99, seed = 42)
    val total = toks.count() // N for the CMS overestimate budget eps·N
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("token")).limit(CmsTopK)
      .as[(String, Long)].collect() // k rows — metadata-sized, like ann_recall
    Caches.dropTransient(toks)
    // oracle-bearing the ann_recall way (round-14 verdict): the exact
    // counts are re-stated by DuckDB, and the CMS estimate — deterministic
    // for fixed data + seed — must clear its own guarantee (never under,
    // over by at most eps·N; the oracle states TRUE)
    val bound = math.ceil(CmsEps * total).toLong
    top.toSeq.map { case (t, c) =>
      val est = cms.estimateCount(t)
      (t, c, est >= c && est <= c + bound)
    }.toDF("token", "true_cnt", "within_bound")
      .orderBy(col("true_cnt").desc, col("token"))
  }

  // ---------------------------------------------------------- n-gram table
  /** Bigram frequency table with a count cutoff — the language-model /
    * tokenizer-training building block. Reuses the shingle pipeline at
    * n=2 (same construction the oracle replicates token-for-token). */
  private[operators] val BigramMinCount = 10
  private[operators] val BigramTopK = 200

  def bigramCounts(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.shinglesOf(TextOps.normed(spark, sfDir), 2)
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= BigramMinCount)
      .select(col("sh").as("bigram"), col("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(BigramTopK)

  // -------------------------------------------------------- passage dedup
  /** Passage-level exact dedup (C4-style, over fixed windows instead of
    * newlines — the corpus is single-line): chop each document into
    * consecutive [[PassageTokens]]-token windows, hash each window, and
    * report per-document how many of its passages also occur in some
    * OTHER document. The passage md5 — never the passage text — is what
    * shuffles, so the exchange rows are fixed-width regardless of
    * document length. */
  private[operators] val PassageTokens = 10

  def passageDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val p = PassageTokens
    // the passage set feeds BOTH the doc-frequency aggregate and the
    // join-back — persist it so the corpus is scanned (and the windows
    // hashed) once, not once per consumer. ~3 % of corpus bytes: one
    // 32-byte md5 per 10-token window.
    val pass = TextOps.normed(spark, sfDir)
      .select(col("doc_id"), split(col("norm"), " ").as("tokens"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, greatest(cast(ceil(size(tokens) / $p.0) as int), 1)), " +
          s"i -> md5(array_join(slice(tokens, (i - 1) * $p + 1, $p), ' ')))")).as("ph"))
      .transform(Caches.materialize)
    val pdf = pass.groupBy(col("ph"))
      .agg(count_distinct(col("doc_id")).as("pdf"))
    pass.join(pdf, Seq("ph"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pass"),
        sum(when(col("pdf") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio", round(col("n_dup") / col("n_pass"), 4))
      .orderBy("doc_id")
  }

  /** INTRA-document passage dedup (the RefinedWeb/Gopher self-repetition
    * probe, complementing [[passageDedup]]'s cross-document frequency):
    * within each document, repeated 10-token passages past their first
    * occurrence are the doc's internally duplicated mass — template
    * loops, crawler stutter, generated boilerplate. Reported per doc as
    * total/unique passage counts and the internal duplicate ratio.
    *
    * Two cascaded aggregates on doc-carrying keys — (doc, passage-hash)
    * then doc — both map-side combinable, no window, no self-join;
    * per-document work never concentrates (the (doc, hash) key space is
    * corpus-sized and hash-partitioned). At 100 TB this is strictly
    * cheaper than [[passageDedup]] (no corpus-wide passage-frequency
    * table: all keys carry doc_id). */
  def intradocDedup(spark: SparkSession, sfDir: String): DataFrame =
    intradocDedupOf(TextOps.normed(spark, sfDir))

  /** [[intradocDedup]]'s kernel over any (doc_id, norm) frame — exposed
    * at this granularity because a duplicated 10-token window is
    * statistically impossible in the synthetic corpus, so the
    * duplicate-detection branch is spec-driven with constructed docs
    * (the corpus run proves the all-unique branch + the oracle). */
  private[graft] def intradocDedupOf(normDf: DataFrame): DataFrame = {
    val p = PassageTokens
    normDf
      .select(col("doc_id"), split(col("norm"), " ").as("tokens"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, greatest(cast(ceil(size(tokens) / $p.0) as int), 1)), " +
          s"i -> md5(array_join(slice(tokens, (i - 1) * $p + 1, $p), ' ')))")).as("ph"))
      .groupBy(col("doc_id"), col("ph"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_pass"),
        count(lit(1)).as("n_unique"))
      .withColumn("intra_dup_ratio",
        round((col("n_pass") - col("n_unique")).cast("double") /
          col("n_pass").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** Per-doc perplexity under an interpolated BIGRAM LM — the sequential
    * upgrade of [[perplexityScore]]'s unigram NLL (the CCNet scoring
    * family's actual shape: a context-conditional model scores fluency
    * that unigram frequency cannot see — a doc of common words in
    * impossible order is unigram-fluent and bigram-gibberish).
    * P(v|u) = λ·c(uv)/c(u) + (1−λ)·c(v)/N with λ = 0.9; per-doc mean NLL
    * over the doc's adjacent pairs (docs with < 2 tokens score 0 pairs
    * and are excluded, stated identically in the oracle).
    *
    * Determinism: all counts are exact integers; the interpolation is
    * one fixed double expression both engines evaluate identically;
    * round-6 NLL terms sum through DECIMAL(18,6) (shuffle-order exact).
    * Scale shape: the bigram and unigram tables are token-keyed
    * aggregates with map-side partials (vocab²- / vocab-sized reduce);
    * scoring joins the doc's bigram stream against them on the token
    * keys — no broadcast of data-dependent tables, no window. */
  def pplBigram(spark: SparkSession, sfDir: String): DataFrame = {
    // both weights as EXPLICIT double literals, stated identically in the
    // oracle — `1.0 - 0.9` is 0.09999999999999998 in double, not 0.1
    val lambda = 0.9
    val lambdaC = 0.1
    // adjacent pairs via one self-zip of the token array — no positional
    // self-join; each doc row explodes to its own bigram stream
    val docBigrams = TextOps.normed(spark, sfDir)
      .select(col("doc_id"), split(col("norm"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), " +
          "(u, v) -> struct(u, v))")).as("b"))
      .select(col("doc_id"), col("b.u").as("u"), col("b.v").as("v"))
      .transform(Caches.materialize)
    val big = docBigrams.groupBy(col("u"), col("v")).agg(count(lit(1)).as("cuv"))
    val uni = docBigrams.groupBy(col("u")).agg(count(lit(1)).as("cu"))
    // c(v) and N from the SAME bigram stream (successor counts): keeps
    // the model self-consistent — every probability's numerator and
    // denominator count the same event space
    val vCounts = docBigrams.groupBy(col("v")).agg(count(lit(1)).as("cv"))
    val n = docBigrams.agg(count(lit(1)).as("nn"))
    docBigrams
      .join(big, Seq("u", "v"))
      .join(uni, Seq("u"))
      .join(vCounts, Seq("v"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        round(-log(lit(lambda) * (col("cuv").cast("double") / col("cu").cast("double")) +
          lit(lambdaC) * (col("cv").cast("double") / col("nn").cast("double"))), 6)
          .cast(DecimalType(18, 6)).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nll")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_nll"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------- source mixing
  /** Token-budgeted source mixing: deterministically (hash-ordered)
    * admit documents per source until the source's token budget is
    * exhausted — the domain-weighting step of training-set assembly.
    * The running sum is a per-source window (partitionBy source), so at
    * 100 TB each source streams independently; there is no global
    * order anywhere. */
  private[operators] val MixTokenBudget = 2500L

  def sourceMix(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.fannedDocuments(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        PipelineOps.keyHash("mix").as("hk"))
      .withColumn("before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("before") < MixTokenBudget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens_kept"))
      .orderBy("source")
  }

  // ------------------------------------------------------ overlapping chunks
  /** RAG-style sliding chunker: windows of [[ChunkTokens]] tokens at
    * stride [[ChunkStride]] (< width, so consecutive chunks overlap by
    * width − stride tokens — the retrieval-context shape, vs
    * [[passageDedup]]'s disjoint windows). Chunk count per doc is
    * ceil((n − width) / stride) + 1, floored at 1, so the final chunk is
    * partial rather than dropped and every token lands in ≥ 1 chunk.
    * Pure per-row explode over the scan — no shuffle until the
    * presentation sort; output carries the chunk hash, not the text, so
    * the exchange rows stay fixed-width at 100 TB. */
  private[graft] val ChunkTokens = 24
  private[graft] val ChunkStride = 16

  def chunkOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, s) = (ChunkTokens, ChunkStride)
    TextOps.normed(spark, sfDir)
      .select(col("doc_id"), split(col("norm"), " ").as("tokens"))
      .select(col("doc_id"), size(col("tokens")).as("n_tokens"), explode(expr(
        s"transform(sequence(1, greatest(cast(ceil((size(tokens) - $w) / $s.0) as int) + 1, 1)), " +
          s"i -> struct(i AS cid, slice(tokens, (i - 1) * $s + 1, $w) AS ctoks))")).as("e"))
      .select(col("doc_id"), col("n_tokens"),
        col("e.cid").as("chunk_id"),
        size(col("e.ctoks")).as("chunk_len"),
        md5(array_join(col("e.ctoks"), " ")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  // ----------------------------------------------------- boilerplate strip
  /** Cross-document boilerplate removal (the RefinedWeb/CCNet line-dedup
    * pass, over fixed token windows since the corpus is single-line):
    * passages appearing in more than [[BoilerplateMaxDf]] distinct
    * documents are presumed boilerplate (headers, navigation, license
    * blocks) and removed from EVERY document; each document is then
    * reassembled from its surviving passages in original order. Unlike
    * [[passageDedup]] (which only REPORTS per-doc duplication), this is
    * the document-REWRITING shape: a global frequency table feeds back
    * into a per-row transformation.
    *
    * Scale shape: the frequency aggregate shuffles fixed-width passage
    * hashes only; the boilerplate set (df > threshold) is the small side
    * of the join-back and AQE broadcasts it, so passage TEXT moves in
    * exactly ONE shuffle — the doc_id groupBy that reassembly inherently
    * needs. The output carries a hash of the rebuilt text, not the text,
    * so any reassembly-order divergence is hash-visible. */
  private[operators] val BoilerplateMaxDf = 2L

  def boilerplateStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val p = PassageTokens
    // one corpus scan: passage position + text + hash, feeding both the
    // frequency aggregate and the reassembly (the file's one-base rule)
    val pass = TextOps.normed(spark, sfDir)
      .select(col("doc_id"), split(col("norm"), " ").as("tokens"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, greatest(cast(ceil(size(tokens) / $p.0) as int), 1)), " +
          s"i -> struct(i AS pos, array_join(slice(tokens, (i - 1) * $p + 1, $p), ' ') AS ptext))")).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.ptext").as("ptext"),
        md5(col("e.ptext")).as("ph"))
      .transform(Caches.materialize)
    val bp = pass.groupBy(col("ph"))
      .agg(count_distinct(col("doc_id")).as("pdf"))
      .filter(col("pdf") > BoilerplateMaxDf)
      .select(col("ph"), lit(true).as("bp"))
    pass.join(bp, Seq("ph"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pass"),
        sum(when(col("bp"), 0L).otherwise(1L)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("bp").isNull,
            struct(col("pos"), col("ptext"))))),
          x => x.getField("ptext")), " ")).as("kept_hash"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- winnowing
  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): hash every word-3-gram shingle, slide a
    * [[WinnowWindow]]-hash window over each document in shingle order,
    * keep the window minimum, and dedup the kept values — the selected
    * set is position-independent and guarantees any shingle run of
    * length ≥ window shares a fingerprint with a copy (MOSS's
    * guarantee). Trailing sub-window positions also select (the
    * boundary variant both engines state identically).
    *
    * Scale shape: the per-doc window partitions by doc_id — each
    * document winnows independently (one shuffle on doc_id, bounded
    * partitions), then one hash aggregate; nothing global. The
    * summary row carries count/min/max/sum of the fingerprint set, so
    * any selection divergence is hash-visible. */
  private[operators] val WinnowWindow = 4

  def winnowFingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowWindow - 1)
    TextOps.normed(spark, sfDir)
      .select(col("doc_id"), split(col("norm"), " ").as("tokens"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(tokens) - 2, 1)), " +
          "i -> struct(i AS pos, array_join(slice(tokens, i, 3), ' ') AS sh))")).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"),
        expr("cast(conv(substring(md5(e.sh), 1, 7), 16, 10) as bigint)").as("h"))
      .withColumn("fp", min(col("h")).over(w))
      .select("doc_id", "fp").distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), min("fp").as("fp_min"),
        max("fp").as("fp_max"), sum("fp").as("fp_sum"))
      .orderBy("doc_id")
  }

  /** Document-length GINI per source — the CONCENTRATION audit next to
    * the per-feed quality/dup/entropy trio: is a feed's character mass
    * spread across its documents or held by a few giants? (A crawl
    * where 1% of docs carry 60% of the bytes needs length capping
    * before sampling weights mean anything.) Gini over grouped data:
    * docs aggregate to a per-(source, length) HISTOGRAM first — the
    * text is at most a few hundred chars, so distinct lengths are
    * value-bounded METADATA, not data-bounded rows — and the rank-sum
    * Σ i·x_i folds over the histogram exactly:
    * 2·Σ i·x = Σ_k x_k · (2c_k − f_k + 1) · f_k with c the cumulative
    * count, all INTEGER arithmetic summed as DECIMAL (order-free,
    * engine-exact); one double division at the very end, round-6 with
    * the identical expression on both sides. The cumulative window
    * partitions by source over the length histogram — metadata-sized
    * partitions at any corpus scale. Gini = 0 when every doc is the
    * same length; → 1 as one document takes all the mass. */
  def lengthGiniBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("source")).orderBy(col("x"))
    hist
      .withColumn("c", sum(col("f")).over(w))
      .select(col("source"), col("f"), (col("x") * col("f")).as("xf"),
        (col("x").cast(DecimalType(38, 0)) *
          (lit(2) * col("c") - col("f") + 1) * col("f")).as("s2k"))
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_docs"), sum(col("xf")).as("total_chars"),
        sum(col("s2k")).as("s2"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        round(col("s2").cast("double") /
            (col("n_docs").cast("double") * col("total_chars").cast("double"))
          - (col("n_docs").cast("double") + 1.0) / col("n_docs").cast("double"),
          6).as("gini"))
      .orderBy("source")
  }

  /** Two-sample Kolmogorov–Smirnov statistic per source vs the global
    * corpus over the doc-LENGTH distribution: D_s = max_x |ECDF_s(x) −
    * ECDF_global(x)| — the standard distribution-drift detector a
    * curation pipeline pages on when one feed's length profile walks
    * away from the corpus (truncation bugs, boilerplate floods,
    * format changes). Complements `source_js_divergence` (which bins;
    * KS is binless and sup-norm) and `length_gini_by_source` (which
    * measures inequality, not drift).
    *
    * Determinism: the supremum is computed over exact integers —
    * |cs·Ng − cg·Ns| in DECIMAL(38,0) cross-multiplied form, so no
    * ratio is ever compared; only the FINAL max is divided, one shared
    * double chain (the oracle routes its decimal→double through the
    * proven VARCHAR path; both engines round the same exact integer).
    * Scale shape: one (source, length) aggregate; the ECDF spine is the
    * DISTINCT length domain — value-domain-bounded (≤ max doc length),
    * the calendar-bounded-spine class, so the global cumulative window
    * is metadata-sized at any corpus size; everything joins broadcast. */
  /** Pairwise 1-Wasserstein (earth-mover) distance between the source
    * feeds' doc-length distributions — the MAGNITUDE companion of
    * [[ksSourceDrift]]'s sup-norm: KS says whether two feeds differ,
    * W1 = ∫|F_a − F_b| dℓ says by HOW MANY CHARACTERS of mass
    * transport, in the unit the packing/budget planner actually spends
    * (the matrix read when deciding which feeds can share a length-
    * bucketed pipeline). Closed form on ℝ: integrate |ECDF difference|
    * over the merged length spine.
    *
    * Determinism: each interval's term is gap · |ca·nb − cb·na| — exact
    * integers in DECIMAL(38,0), summed exactly; ONE double division per
    * pair closes (the ks VARCHAR-route discipline in the oracle).
    * Scale: the pair join keys on the length spine, so the fan-out is
    * feeds² × |spine| — value-domain-bounded (the ECDF spine is
    * distinct lengths, ≤ max doc length), never doc-bounded; per-source
    * cumulative windows partition by source. */
  def wassersteinSourcePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val d = Tables.documents(spark, sfDir).select(col("source"), col("n_chars"))
    val perLen = d.groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
    val lens = d.select(col("n_chars")).distinct()
      .withColumn("gap",
        lead(col("n_chars"), 1).over(Window.orderBy(col("n_chars"))) - col("n_chars"))
    val srcs = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val cells = d.select(col("n_chars")).distinct()
      .crossJoin(broadcast(srcs.select(col("source"))))
      .join(perLen, Seq("source", "n_chars"), "left")
      .select(col("source"), col("n_chars"), coalesce(col("c"), lit(0L)).as("c"))
    val ws = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("cs", sum(col("c")).over(ws))
    val a = cum.select(col("source").as("source_a"), col("n_chars"), col("cs").as("ca"))
    val b = cum.select(col("source").as("source_b"), col("n_chars"), col("cs").as("cb"))
    a.join(b, Seq("n_chars")).filter(col("source_a") < col("source_b"))
      .join(broadcast(lens.filter(col("gap").isNotNull)), Seq("n_chars"))
      .join(broadcast(srcs.select(col("source").as("source_a"), col("ns").as("na"))),
        Seq("source_a"))
      .join(broadcast(srcs.select(col("source").as("source_b"), col("ns").as("nb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        (abs(col("ca").cast(dec) * col("nb").cast(dec)
          - col("cb").cast(dec) * col("na").cast(dec)) * col("gap").cast(dec))
          .as("term"))
      .groupBy(col("source_a"), col("source_b"), col("na"), col("nb"))
      .agg(sum(col("term")).as("tsum"))
      .select(col("source_a"), col("source_b"),
        round(col("tsum").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")), 6).as("w1"))
      .orderBy("source_a", "source_b")
  }

  def ksSourceDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val d = Tables.documents(spark, sfDir).select(col("source"), col("n_chars"))
    val perLen = d.groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
    val lens = d.select(col("n_chars")).distinct()
    val srcs = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val gcum = d.groupBy(col("n_chars")).agg(count(lit(1)).as("cgl"))
      .withColumn("cg", sum(col("cgl")).over(Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("n_chars"), col("cg"))
    val cells = lens.crossJoin(broadcast(srcs.select(col("source"))))
      .join(perLen, Seq("source", "n_chars"), "left")
      .select(col("source"), col("n_chars"), coalesce(col("c"), lit(0L)).as("c"))
    val ws = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cs", sum(col("c")).over(ws))
      .join(broadcast(gcum), "n_chars")
      .join(broadcast(srcs), "source")
      .crossJoin(broadcast(d.agg(count(lit(1)).as("ng"))))
      .select(col("source"), col("ns"), col("ng"),
        abs(col("cs").cast(dec) * col("ng").cast(dec)
          - col("cg").cast(dec) * col("ns").cast(dec)).as("num"))
      .groupBy(col("source"), col("ns"), col("ng"))
      .agg(max(col("num")).as("maxnum"))
      .selectExpr("source", "ns AS n_docs",
        "round(CAST(maxnum AS DOUBLE) / (CAST(ns AS DOUBLE) * CAST(ng AS DOUBLE)), 6) AS ks_stat")
      .orderBy("source")
  }

  // ----------------------------------------------------------------- wiring
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ks_source_drift" -> (ksSourceDrift _),
    "length_gini_by_source" -> (lengthGiniBySource _),
    "vocab_topk"    -> (vocabTopk _),
    "bpe_merge_topk" -> (bpeMergeTopk _),
    "bpe_train"     -> (bpeTrain _),
    "bpe_encode"    -> (bpeEncode _),
    "bpe_doc_tokens" -> (bpeDocTokens _),
    "bpe_fertility_by_lang" -> (bpeFertilityByLang _),
    "vocab_coverage_curve"  -> (vocabCoverageCurve _),
    "oov_rate"              -> (oovRate _),
    "source_js_divergence"  -> (sourceJsDivergence _),
    "zipf_slope"    -> (zipfSlope _),
    "bigram_entropy" -> (bigramEntropy _),
    "collocation_topk" -> (collocationTopk _),
    "bigram_counts" -> (bigramCounts _),
    "passage_dedup" -> (passageDedup _),
    "intradoc_dedup" -> (intradocDedup _),
    "ppl_bigram"    -> (pplBigram _),
    "source_mix"    -> (sourceMix _),
    "winnow_fingerprints" -> (winnowFingerprints _),
    "boilerplate_strip"   -> (boilerplateStrip _),
    "chunk_overlap"       -> (chunkOverlap _),
    "perplexity_score"    -> (perplexityScore _),
    "ppl_buckets"         -> (pplBuckets _),
    "approx_topk"         -> (approxTopk _),
    "bm25_topk"           -> (bm25Topk _),
    "tfidf_cosine_topk"   -> (tfidfCosineTopk _),
    "rrf_fusion"          -> (rrfFusion _),
    "retrieval_tau"       -> (retrievalTau _),
    "wasserstein_source_pairs" -> (wassersteinSourcePairs _),
    "prf_expansion"       -> (prfExpansion _),
    "retrieval_ndcg"      -> (retrievalNdcg _),
    "hapax_ratio"         -> (hapaxRatio _),
    "lang_source_mi"      -> (langSourceMi _),
    "lang_source_pmi"     -> (langSourcePmi _))

  /** Shared oracle CTE stack for the RETRIEVAL family, ending at
    * `bm25s` (BM25 doc scores) and `dcos` (TF-IDF cosine doc scores) —
    * states the IDENTICAL pipelines as [[bm25From]] and [[denseFrom]]
    * over one token CTE. Consumed by `bm25_topk`, `tfidf_cosine_topk`,
    * and `rrf_fusion`; DuckDB prunes whichever half a query does not
    * reference. */
  private lazy val retrievalCtesSql: String =
    s"""dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
      |tok AS MATERIALIZED (SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM dn),
      |dfv AS MATERIALIZED (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      | FROM tok GROUP BY token),
      |terms AS MATERIALIZED (SELECT token, df FROM dfv
      | ORDER BY df DESC, token LIMIT $Bm25Terms OFFSET $Bm25TermOffset),
      |dl AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      | FROM tok GROUP BY doc_id),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |st AS (SELECT CAST(sum(dl) AS BIGINT) AS sumdl, CAST(count(*) AS BIGINT) AS ndl FROM dl),
      |tfq AS (SELECT tok.doc_id, tok.token, CAST(count(*) AS BIGINT) AS tf
      | FROM tok JOIN terms ON terms.token = tok.token GROUP BY tok.doc_id, tok.token),
      |contrib AS (SELECT tfq.doc_id, CAST(round(
      |  ln((CAST(nd.n AS DOUBLE) - CAST(terms.df AS DOUBLE) + 0.5) /
      |     (CAST(terms.df AS DOUBLE) + 0.5) + 1.0)
      |  * (CAST(tfq.tf AS DOUBLE) * (CAST($Bm25K1 AS DOUBLE) + 1.0))
      |  / (CAST(tfq.tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE) * (1.0 - $Bm25B + $Bm25B *
      |      CAST(dl.dl AS DOUBLE) / (CAST(st.sumdl AS DOUBLE) / CAST(st.ndl AS DOUBLE)))),
      |  6) AS DECIMAL(18,6)) AS c
      | FROM tfq JOIN terms ON terms.token = tfq.token
      |  JOIN dl ON dl.doc_id = tfq.doc_id, nd, st),
      |bm25s AS MATERIALIZED (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS bm25
      | FROM contrib GROUP BY doc_id),
      |idf AS MATERIALIZED (SELECT token,
      |  ln(CAST(nd.n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) + 1.0 AS idf FROM dfv, nd),
      |tff AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      | FROM tok GROUP BY doc_id, token),
      |w AS MATERIALIZED (SELECT tff.doc_id, tff.token,
      |  CAST(tff.tf AS DOUBLE) * idf.idf AS w
      | FROM tff JOIN idf ON idf.token = tff.token),
      |n2d AS (SELECT doc_id, sum(CAST(round(w * w, 6) AS DECIMAL(18,6))) AS n2d
      | FROM w GROUP BY doc_id),
      |qw AS MATERIALIZED (SELECT idf.token, idf.idf
      | FROM idf JOIN terms ON terms.token = idf.token),
      |n2q AS (SELECT sum(CAST(round(idf * idf, 6) AS DECIMAL(18,6))) AS n2q FROM qw),
      |dotd AS (SELECT w.doc_id, sum(CAST(round(w.w * qw.idf, 6) AS DECIMAL(18,6))) AS dot
      | FROM w JOIN qw ON qw.token = w.token GROUP BY w.doc_id),
      |dcos AS MATERIALIZED (SELECT dotd.doc_id,
      |  round(CAST(dot AS DOUBLE) /
      |   (sqrt(CAST(n2d.n2d AS DOUBLE)) * sqrt(CAST(n2q.n2q AS DOUBLE))), 6) AS cos
      | FROM dotd JOIN n2d ON n2d.doc_id = dotd.doc_id, n2q)""".stripMargin

  /** Shared oracle CTE stack for the unigram-LM family, ending at `nll`
    * (per-doc token count + round-6 mean surprisal): states the IDENTICAL
    * pipeline as [[docNll]]. MATERIALIZED because `ppl_buckets` joins it
    * against documents and DuckDB re-inlines multiply-referenced CTEs.
    * Consumed by `perplexity_score` and `ppl_buckets`. */
  private lazy val pplCtesSql: String =
    s"""dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
      |toks AS MATERIALIZED (SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM dn),
      |vocab AS MATERIALIZED (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
      |n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab),
      |nll AS MATERIALIZED (SELECT t.doc_id, count(*) AS n_tokens,
      | round(CAST(CAST(sum(CAST(round(-ln(CAST(v.cnt AS DOUBLE) / n.total), 6)
      |   AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_nll
      | FROM toks t JOIN vocab v ON t.token = v.token CROSS JOIN n
      | GROUP BY t.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // exact interval terms gap * |ca*nb - cb*na| summed in HUGEINT,
    // the ks VARCHAR decimal->double route closes each pair
    "wasserstein_source_pairs" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        |pl AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        | FROM d GROUP BY 1, 2),
        |lens AS MATERIALIZED (SELECT n_chars,
        |  lead(n_chars) OVER (ORDER BY n_chars) - n_chars AS gap
        | FROM (SELECT DISTINCT n_chars FROM d) t),
        |srcs AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS ns
        | FROM d GROUP BY 1),
        |cells AS (SELECT s.source, l.n_chars, coalesce(pl.c, 0) AS c
        | FROM (SELECT n_chars FROM lens) l
        |  CROSS JOIN (SELECT source FROM srcs) s
        |  LEFT JOIN pl ON pl.source = s.source AND pl.n_chars = l.n_chars),
        |cum AS MATERIALIZED (SELECT source, n_chars,
        |  CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
        | FROM cells),
        |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
        |  a.n_chars, a.cs AS ca, b.cs AS cb
        | FROM cum a JOIN cum b ON a.n_chars = b.n_chars AND a.source < b.source),
        |terms AS (SELECT source_a, source_b, sa.ns AS na, sb.ns AS nb,
        |  abs(CAST(ca AS HUGEINT) * sb.ns - CAST(cb AS HUGEINT) * sa.ns)
        |   * l.gap AS term
        | FROM pairs JOIN srcs sa ON sa.source = pairs.source_a
        |  JOIN srcs sb ON sb.source = pairs.source_b
        |  JOIN lens l ON l.n_chars = pairs.n_chars
        | WHERE l.gap IS NOT NULL)
        |SELECT source_a, source_b,
        | round(CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE)
        |   / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS w1
        |FROM terms GROUP BY source_a, source_b, na, nb
        |ORDER BY source_a, source_b""".stripMargin,
    "ks_source_drift" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        |pl AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        | FROM d GROUP BY 1, 2),
        |lens AS (SELECT DISTINCT n_chars FROM d),
        |srcs AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS ns
        | FROM d GROUP BY 1),
        |gc AS (SELECT n_chars, CAST(sum(cgl) OVER (ORDER BY n_chars
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cg
        | FROM (SELECT n_chars, CAST(count(*) AS BIGINT) AS cgl
        |  FROM d GROUP BY 1) g),
        |cells AS (SELECT s.source, l.n_chars, coalesce(pl.c, 0) AS c
        | FROM lens l CROSS JOIN (SELECT source FROM srcs) s
        | LEFT JOIN pl ON pl.source = s.source AND pl.n_chars = l.n_chars),
        |cum AS (SELECT source, n_chars, CAST(sum(c) OVER (PARTITION BY source
        |  ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS BIGINT) AS cs FROM cells),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS ng FROM d),
        |num AS (SELECT c.source, s.ns, nt.ng,
        |  abs(CAST(c.cs AS HUGEINT) * nt.ng - CAST(g.cg AS HUGEINT) * s.ns) AS num
        | FROM cum c JOIN gc g USING (n_chars) JOIN srcs s ON s.source = c.source, nt),
        |mx AS (SELECT source, ns, ng, max(num) AS maxnum
        | FROM num GROUP BY 1, 2, 3)
        |SELECT source, ns AS n_docs,
        | round(CAST(CAST(maxnum AS VARCHAR) AS DOUBLE)
        |   / (CAST(ns AS DOUBLE) * CAST(ng AS DOUBLE)), 6) AS ks_stat
        |FROM mx ORDER BY source""".stripMargin,
    "lang_source_pmi" ->
      """WITH cells AS MATERIALIZED (
        | SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY lang, source),
        |nl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cells GROUP BY lang),
        |ns AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM cells GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
        |SELECT c.lang, c.source, c.n,
        | round(ln(CAST(c.n AS DOUBLE) * CAST(tot.total AS DOUBLE) /
        |  (CAST(nl.n_lang AS DOUBLE) * CAST(ns.n_src AS DOUBLE))), 6) AS pmi
        |FROM cells c JOIN nl ON nl.lang = c.lang
        | JOIN ns ON ns.source = c.source, tot
        |ORDER BY c.lang, c.source""".stripMargin,
    // identical expression tree: IEEE double ops on exact-integer inputs
    // agree bit-for-bit; per-term round-6 + DECIMAL(18,6) makes the sum
    // order-independent (the tfidf/perplexity discipline)
    "bm25_topk" ->
      s"""WITH $retrievalCtesSql
        |SELECT doc_id, bm25 FROM bm25s
        |ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin,
    // bm25 head as the pseudo-relevant set; tf·idf mass per non-query
    // token with round-6 DECIMAL contributions (the retrieval stack's
    // shared CTEs: bm25s, tff, idf, terms)
    "prf_expansion" ->
      s"""WITH $retrievalCtesSql,
        |rel AS (SELECT doc_id FROM bm25s
        | ORDER BY bm25 DESC, doc_id LIMIT $PrfRelDocs),
        |candt AS (SELECT tff.token, tff.tf
        | FROM tff JOIN rel USING (doc_id)
        | WHERE tff.token NOT IN (SELECT token FROM terms)),
        |sc AS (SELECT c.token, CAST(count(*) AS BIGINT) AS n_rel_docs,
        |  CAST(sum(CAST(round(CAST(c.tf AS DOUBLE) * idf.idf, 6)
        |   AS DECIMAL(18,6))) AS DOUBLE) AS rocchio
        | FROM candt c JOIN idf USING (token) GROUP BY c.token)
        |SELECT token, n_rel_docs, rocchio FROM sc
        |ORDER BY rocchio DESC, token LIMIT $PrfTerms""".stripMargin,
    "tfidf_cosine_topk" ->
      s"""WITH $retrievalCtesSql
        |SELECT doc_id, cos FROM dcos
        |ORDER BY cos DESC, doc_id LIMIT $DenseTopK""".stripMargin,
    // graded gains off the BM25 list (k+1-rank), log2 discount as the
    // identical ln ratio, round-6 DECIMAL terms before both sums
    "retrieval_ndcg" ->
      s"""WITH $retrievalCtesSql,
        |la AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS ra
        |       FROM (SELECT doc_id, bm25 FROM bm25s ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK) t),
        |lb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rb
        |       FROM (SELECT doc_id, cos FROM dcos ORDER BY cos DESC, doc_id LIMIT $DenseTopK) t),
        |j AS MATERIALIZED (SELECT lb.rb,
        |  coalesce(${Bm25TopK + 1} - la.ra, 0) AS g
        | FROM lb LEFT JOIN la USING (doc_id)),
        |dc AS (SELECT CAST(sum(CAST(round(CAST(g AS DOUBLE) /
        |   (ln(CAST(rb AS DOUBLE) + 1.0) / ln(2.0)), 6) AS DECIMAL(18,6)))
        |  AS DOUBLE) AS dcg FROM j),
        |ic AS (SELECT CAST(sum(CAST(round(CAST(${Bm25TopK + 1} - ra AS DOUBLE) /
        |   (ln(CAST(ra AS DOUBLE) + 1.0) / ln(2.0)), 6) AS DECIMAL(18,6)))
        |  AS DOUBLE) AS idcg FROM la),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM j WHERE g > 0)
        |SELECT n_common, dcg, idcg, round(dcg / idcg, 6) AS ndcg
        |FROM nc, dc, ic WHERE idcg IS NOT NULL""".stripMargin,
    // one (source, token) aggregate; hapax = singleton types per source
    "hapax_ratio" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |tokh AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM dn),
        |st AS (SELECT d.source, t.token, CAST(count(*) AS BIGINT) AS c
        | FROM tokh t JOIN documents d USING (doc_id)
        | WHERE length(t.token) >= 1 GROUP BY d.source, t.token)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_types,
        | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        | round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS hapax_share,
        | round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr
        |FROM st GROUP BY source ORDER BY source""".stripMargin,
    // MI + min-entropy normalization over the lang x source cells;
    // round-6 DECIMAL terms for MI and both marginal entropies
    "lang_source_mi" ->
      """WITH cells AS MATERIALIZED (
        | SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY lang, source),
        |nl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cells GROUP BY lang),
        |ns AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM cells GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_cells FROM cells),
        |hl AS (SELECT CAST(sum(CAST(round(-(CAST(nl AS DOUBLE) / CAST(total AS DOUBLE)) *
        |   ln(CAST(nl AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS DECIMAL(18,6)))
        |  AS DOUBLE) AS hl FROM nl, tot),
        |hs AS (SELECT CAST(sum(CAST(round(-(CAST(ns AS DOUBLE) / CAST(total AS DOUBLE)) *
        |   ln(CAST(ns AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS DECIMAL(18,6)))
        |  AS DOUBLE) AS hs FROM ns, tot),
        |mi AS (SELECT CAST(sum(CAST(round((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) *
        |   ln(CAST(n AS DOUBLE) * CAST(total AS DOUBLE) /
        |      (CAST(nl.nl AS DOUBLE) * CAST(ns.ns AS DOUBLE))), 6) AS DECIMAL(18,6)))
        |  AS DOUBLE) AS mi
        | FROM cells JOIN nl USING (lang) JOIN ns USING (source), tot)
        |SELECT total AS n_docs, n_cells, mi,
        | round(mi / least(hl, hs), 6) AS nmi
        |FROM tot, mi, hl, hs WHERE n_cells > 0""".stripMargin,
    "retrieval_tau" ->
      s"""WITH $retrievalCtesSql,
        |la AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS ra
        |       FROM (SELECT doc_id, bm25 FROM bm25s ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK) t),
        |lb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rb
        |       FROM (SELECT doc_id, cos FROM dcos ORDER BY cos DESC, doc_id LIMIT $DenseTopK) t),
        |cm AS MATERIALIZED (SELECT doc_id, ra, rb FROM la JOIN lb USING (doc_id)),
        |pr AS (SELECT CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) > 0 THEN 1 ELSE 0 END AS conc
        |       FROM cm a JOIN cm b ON a.doc_id < b.doc_id),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(sum(conc), 0) AS BIGINT) AS concordant FROM pr),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM cm)
        |SELECT n_common, n_pairs, concordant,
        | n_pairs - concordant AS discordant, $TauExpr
        |FROM ag, nc""".stripMargin,
    "rrf_fusion" ->
      s"""WITH $retrievalCtesSql,
        |la AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS ra
        |       FROM (SELECT doc_id, bm25 FROM bm25s ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK) t),
        |lb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS rb
        |       FROM (SELECT doc_id, cos FROM dcos ORDER BY cos DESC, doc_id LIMIT $DenseTopK) t)
        |SELECT doc_id,
        | round(coalesce(1.0 / ($RrfK + ra), 0.0) + coalesce(1.0 / ($RrfK + rb), 0.0), 6) AS rrf
        |FROM la FULL OUTER JOIN lb USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "length_gini_by_source" ->
      """WITH hist AS (SELECT source, n_chars AS x, count(*) AS f
        | FROM documents GROUP BY source, n_chars),
        |cum AS (SELECT source, x, f,
        |  sum(f) OVER (PARTITION BY source ORDER BY x) AS c FROM hist),
        |per AS (SELECT source, CAST(sum(f) AS BIGINT) AS n_docs,
        |  CAST(sum(x * f) AS BIGINT) AS total_chars,
        |  sum(x * (2 * c - f + 1) * f) AS s2 FROM cum GROUP BY source)
        |SELECT source, n_docs, total_chars,
        | round(CAST(s2 AS DOUBLE)
        |   / (CAST(n_docs AS DOUBLE) * CAST(total_chars AS DOUBLE))
        |  - (CAST(n_docs AS DOUBLE) + 1.0) / CAST(n_docs AS DOUBLE), 6) AS gini
        |FROM per ORDER BY source""".stripMargin,
    "vocab_topk" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |tk AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM dn)
        |SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS df
        |FROM tk GROUP BY token
        |ORDER BY cnt DESC, token LIMIT $VocabTopK""".stripMargin,
    "vocab_coverage_curve" ->
      s"""WITH dn AS (SELECT ${TextOps.normSql} AS norm FROM documents),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
        | SELECT unnest(string_split(norm, ' ')) AS token FROM dn) t GROUP BY token),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rn FROM v),
        |ks AS (SELECT unnest([${CoverageKs.mkString(", ")}]) AS k)
        |SELECT k,
        | CAST(sum(CASE WHEN rn <= k THEN cnt ELSE 0 END) AS BIGINT) AS top_mass,
        | CAST(sum(cnt) AS BIGINT) AS total_mass,
        | round(CAST(CAST(sum(CASE WHEN rn <= k THEN cnt ELSE 0 END) AS BIGINT) AS DOUBLE) /
        |  CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE), 6) AS coverage
        |FROM r, ks GROUP BY k ORDER BY k""".stripMargin,
    "oov_rate" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |tk AS MATERIALIZED (SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM dn),
        |tv AS (SELECT token FROM (
        | SELECT token, count(*) AS cnt FROM tk GROUP BY token
        | ORDER BY cnt DESC, token LIMIT $OovVocabK) t)
        |SELECT doc_id, count(*) AS n_tokens,
        | CAST(sum(CASE WHEN tv.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | round(CAST(CAST(sum(CASE WHEN tv.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE), 6) AS oov_rate
        |FROM tk LEFT JOIN tv ON tk.token = tv.token
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "source_js_divergence" ->
      s"""WITH st AS MATERIALIZED (SELECT source, token, CAST(count(*) AS BIGINT) AS sc FROM (
        | SELECT source, unnest(string_split(${TextOps.normSql}, ' ')) AS token
        | FROM documents) t GROUP BY source, token),
        |corpus AS MATERIALIZED (SELECT token, CAST(sum(sc) AS BIGINT) AS cc FROM st GROUP BY token),
        |stot AS (SELECT source, CAST(sum(sc) AS BIGINT) AS stot FROM st GROUP BY source),
        |ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS ctot FROM corpus),
        |terms AS (SELECT st.source, corpus.cc,
        |  CAST(round(0.5 * (
        |    (CAST(sc AS DOUBLE) / CAST(stot AS DOUBLE)) *
        |     ln((CAST(sc AS DOUBLE) / CAST(stot AS DOUBLE)) /
        |        ((CAST(sc AS DOUBLE) / CAST(stot AS DOUBLE) + CAST(cc AS DOUBLE) / CAST(ctot AS DOUBLE)) / 2.0)) +
        |    (CAST(cc AS DOUBLE) / CAST(ctot AS DOUBLE)) *
        |     ln((CAST(cc AS DOUBLE) / CAST(ctot AS DOUBLE)) /
        |        ((CAST(sc AS DOUBLE) / CAST(stot AS DOUBLE) + CAST(cc AS DOUBLE) / CAST(ctot AS DOUBLE)) / 2.0))
        |  ), 6) AS DECIMAL(18,6)) AS term
        | FROM st JOIN corpus USING (token) JOIN stot USING (source), ctot)
        |SELECT source, count(*) AS n_tokens_shared,
        | round(CAST(sum(term) AS DOUBLE) + 0.5 * ln(2.0) *
        |  (CAST(ctot - CAST(sum(cc) AS BIGINT) AS DOUBLE) / CAST(ctot AS DOUBLE)), 6)
        |  AS js_divergence
        |FROM terms, ctot GROUP BY source, ctot ORDER BY source""".stripMargin,
    "bpe_fertility_by_lang" ->
      s"""WITH $bpeCtesSql,
        |ws AS (SELECT word,
        |  CAST(len(list_filter(string_split(sym, '  '), t -> t <> '')) AS BIGINT) AS n_syms
        | FROM v$BpeTrainMerges),
        |lw AS (SELECT lang, unnest(string_split(${TextOps.normSql}, ' ')) AS word
        | FROM documents),
        |j AS (SELECT lang, ws.n_syms FROM lw JOIN ws ON ws.word = lw.word
        | WHERE length(lw.word) >= 1)
        |SELECT lang, count(*) AS n_words, CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
        | round(CAST(CAST(sum(n_syms) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |  AS fertility
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    "zipf_slope" -> {
      val slopeSql = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
        | SELECT unnest(string_split(norm, ' ')) AS token FROM dn) t
        | WHERE length(token) >= 1 GROUP BY token
        | ORDER BY cnt DESC, token LIMIT $ZipfTopK),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM v),
        |q AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |             CAST(round(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |       sum(x * y) AS sxy, sum(x * x) AS sxx FROM q)
        |SELECT n AS n_terms,
        | round($slopeSql, 6) AS slope,
        | round((CAST(sy AS DOUBLE) - ($slopeSql) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
        |FROM s WHERE n >= 3""".stripMargin
    },
    "bigram_entropy" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT string_split(norm, ' ') AS tokens FROM dn
        |        WHERE array_length(string_split(norm, ' ')) >= 2),
        |bg AS (SELECT tokens[i] AS u, tokens[i + 1] AS v FROM (
        | SELECT tokens, unnest(generate_series(1, array_length(tokens) - 1)) AS i
        | FROM dtk) t),
        |cuv AS (SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY u, v),
        |cu AS (SELECT u, CAST(sum(c) AS BIGINT) AS cu FROM cuv GROUP BY u),
        |nbt AS (SELECT CAST(sum(c) AS BIGINT) AS nb FROM cuv)
        |SELECT nb AS n_bigrams, CAST(count(*) AS BIGINT) AS n_types,
        | CAST(CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / CAST(nb AS DOUBLE)) *
        |   ln(CAST(c AS DOUBLE) / CAST(cu AS DOUBLE)), 6) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |  AS cond_entropy
        |FROM cuv JOIN cu USING (u), nbt GROUP BY nb""".stripMargin,
    // same bigram base; both PMI margins derive from the cuv table,
    // every ln operand an exact integer, identical chain, support floor
    "collocation_topk" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT string_split(norm, ' ') AS tokens FROM dn
        |        WHERE array_length(string_split(norm, ' ')) >= 2),
        |bg AS (SELECT tokens[i] AS u, tokens[i + 1] AS v FROM (
        | SELECT tokens, unnest(generate_series(1, array_length(tokens) - 1)) AS i
        | FROM dtk) t),
        |cuv AS MATERIALIZED (SELECT u, v, CAST(count(*) AS BIGINT) AS c
        | FROM bg GROUP BY u, v),
        |cu AS (SELECT u, CAST(sum(c) AS BIGINT) AS cu FROM cuv GROUP BY u),
        |cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cuv GROUP BY v),
        |nbt AS (SELECT CAST(sum(c) AS BIGINT) AS nb FROM cuv)
        |SELECT cuv.u, cuv.v, cuv.c,
        | round(ln(CAST(cuv.c AS DOUBLE) * CAST(nbt.nb AS DOUBLE) /
        |  (CAST(cu.cu AS DOUBLE) * CAST(cv.cv AS DOUBLE))), 6) AS pmi
        |FROM cuv JOIN cu USING (u) JOIN cv USING (v), nbt
        |WHERE cuv.c >= $CollocMinCount
        |ORDER BY pmi DESC, cuv.u, cuv.v LIMIT $CollocTopK""".stripMargin,
    "bpe_merge_topk" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |w AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        | SELECT unnest(string_split(norm, ' ')) AS word FROM dn) t
        | WHERE length(word) >= 2 GROUP BY word),
        |p AS (SELECT substr(word, i, 2) AS pair, cnt
        | FROM w, (SELECT unnest(generate_series(1,
        |    (SELECT max(length(word)) FROM w) - 1)) AS i) s
        | WHERE i <= length(word) - 1)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT $BpeTopK""".stripMargin,
    // the trainer's rounds UNROLLED as chained CTEs (the kmeans_iterate
    // discipline): per round, pair counts over the symbol frame → 1-row
    // argmax (count desc, pair asc) → literal replace producing the
    // next frame; a round with no pairs leaves the frame unchanged
    // (LEFT JOIN ON TRUE fallback — matters only for degenerate input)
    "bpe_train" ->
      s"""WITH $bpeCtesSql
        |SELECT * FROM (
        | SELECT CAST(1 AS INTEGER) AS step, x, y, x || y AS merged, n FROM b1
        | UNION ALL SELECT 2, x, y, x || y, n FROM b2
        | UNION ALL SELECT 3, x, y, x || y, n FROM b3
        | UNION ALL SELECT 4, x, y, x || y, n FROM b4) u
        |ORDER BY step""".stripMargin,
    "bpe_encode" ->
      s"""WITH $bpeCtesSql
        |SELECT step, total_tokens, n_symbols FROM (
        |${(0 to BpeTrainMerges).map(i =>
          s""" SELECT CAST($i AS INTEGER) AS step,
            |  (SELECT CAST(sum(cnt * len(list_filter(string_split(sym, '  '), t -> t <> ''))) AS BIGINT)
            |   FROM v$i) AS total_tokens,
            |  (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM (
            |    SELECT unnest(list_filter(string_split(sym, '  '), t -> t <> '')) AS tok
            |    FROM v$i) q) AS n_symbols""".stripMargin).mkString("\n UNION ALL\n")}
        |) u WHERE total_tokens IS NOT NULL ORDER BY step""".stripMargin,
    "bpe_doc_tokens" ->
      s"""WITH $bpeCtesSql,
        |ws AS (SELECT word,
        |  CAST(len(list_filter(string_split(sym, '  '), t -> t <> '')) AS BIGINT) AS n_syms
        | FROM v$BpeTrainMerges),
        |dw AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS word FROM (
        | SELECT doc_id, ${TextOps.normSql} AS norm FROM documents) n),
        |j AS (SELECT doc_id, dw.word, ws.n_syms FROM dw JOIN ws ON ws.word = dw.word
        | WHERE length(dw.word) >= 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        | CAST(sum(length(word)) AS BIGINT) AS n_char_tokens,
        | CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
        | round(CAST(sum(n_syms) AS DOUBLE) / sum(length(word)), 6) AS compression
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ann_recall shape: exact top-k token counts re-stated, plus the CMS
    // guarantee verdict the deterministic sketch must clear (approxTopk)
    "approx_topk" ->
      s"""WITH dn AS (SELECT ${TextOps.normSql} AS norm FROM documents),
        |tok AS (SELECT unnest(string_split(norm, ' ')) AS token FROM dn)
        |SELECT token, count(*) AS true_cnt, TRUE AS within_bound
        |FROM tok GROUP BY token
        |ORDER BY true_cnt DESC, token LIMIT $CmsTopK""".stripMargin,
    "bigram_counts" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM dn),
        |bg AS (SELECT array_to_string(tokens[i:i+1], ' ') AS bigram FROM (
        | SELECT tokens, unnest(generate_series(1, greatest(array_length(tokens) - 1, 1))) AS i
        | FROM dtk) t)
        |SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
        |HAVING count(*) >= $BigramMinCount
        |ORDER BY cnt DESC, bigram LIMIT $BigramTopK""".stripMargin,
    "passage_dedup" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM dn),
        |p AS MATERIALIZED (SELECT doc_id,
        |  md5(array_to_string(tokens[(i-1)*$PassageTokens+1:(i-1)*$PassageTokens+$PassageTokens], ' ')) AS ph
        | FROM (SELECT doc_id, tokens,
        |   unnest(generate_series(1, greatest(CAST(ceil(array_length(tokens) / $PassageTokens.0) AS INT), 1))) AS i
        |  FROM dtk) t),
        |pdf AS (SELECT ph, count(DISTINCT doc_id) AS pdf FROM p GROUP BY ph)
        |SELECT p.doc_id, count(*) AS n_pass,
        | CAST(sum(CASE WHEN pdf.pdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        | round(CAST(sum(CASE WHEN pdf.pdf > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 4) AS dup_ratio
        |FROM p JOIN pdf ON pdf.ph = p.ph
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    "source_mix" ->
      s"""WITH t AS (SELECT doc_id, source,
        |  CAST(array_length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
        |  ${PipelineOps.keyHashSql("mix")} AS hk
        | FROM documents),
        |r AS (SELECT *, coalesce(sum(n_tokens) OVER (
        |   PARTITION BY source ORDER BY hk, doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        | FROM t)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
        |FROM r WHERE before < $MixTokenBudget
        |GROUP BY source ORDER BY source""".stripMargin,
    "boilerplate_strip" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM dn),
        |p AS MATERIALIZED (SELECT doc_id, i AS pos,
        |  array_to_string(tokens[(i-1)*$PassageTokens+1:(i-1)*$PassageTokens+$PassageTokens], ' ') AS ptext
        | FROM (SELECT doc_id, tokens,
        |   unnest(generate_series(1, greatest(CAST(ceil(array_length(tokens) / $PassageTokens.0) AS INT), 1))) AS i
        |  FROM dtk) t),
        |h AS MATERIALIZED (SELECT doc_id, pos, ptext, md5(ptext) AS ph FROM p),
        |bp AS (SELECT ph FROM (
        |  SELECT ph, count(DISTINCT doc_id) AS pdf FROM h GROUP BY ph) d
        | WHERE pdf > $BoilerplateMaxDf)
        |SELECT h.doc_id, count(*) AS n_pass,
        | CAST(sum(CASE WHEN b.ph IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | md5(coalesce(string_agg(CASE WHEN b.ph IS NULL THEN h.ptext END,
        |   ' ' ORDER BY h.pos), '')) AS kept_hash
        |FROM h LEFT JOIN bp b ON b.ph = h.ph
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,
    "intradoc_dedup" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM dn),
        |p AS (SELECT doc_id,
        |  md5(array_to_string(tokens[(i-1)*$PassageTokens+1:(i-1)*$PassageTokens+$PassageTokens], ' ')) AS ph
        | FROM (SELECT doc_id, tokens,
        |   unnest(generate_series(1, greatest(CAST(ceil(array_length(tokens) / $PassageTokens.0) AS INT), 1))) AS i
        |  FROM dtk) t),
        |o AS (SELECT doc_id, ph, count(*) AS occ FROM p GROUP BY doc_id, ph)
        |SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_pass,
        | count(*) AS n_unique,
        | round(CAST(sum(occ) - count(*) AS DOUBLE) / CAST(sum(occ) AS DOUBLE), 6)
        |  AS intra_dup_ratio
        |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ppl_bigram" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT doc_id, string_split(norm, ' ') AS ts FROM dn
        | WHERE array_length(string_split(norm, ' ')) >= 2),
        |db AS MATERIALIZED (SELECT doc_id, ts[i] AS u, ts[i + 1] AS v
        | FROM (SELECT doc_id, ts,
        |   unnest(generate_series(1, array_length(ts) - 1)) AS i FROM dtk) t),
        |big AS (SELECT u, v, count(*) AS cuv FROM db GROUP BY u, v),
        |uni AS (SELECT u, count(*) AS cu FROM db GROUP BY u),
        |vc AS (SELECT v, count(*) AS cv FROM db GROUP BY v),
        |nn AS (SELECT count(*) AS nn FROM db)
        |SELECT db.doc_id, count(*) AS n_bigrams,
        | round(CAST(CAST(sum(CAST(round(-ln(
        |   CAST(0.9 AS DOUBLE) * (CAST(big.cuv AS DOUBLE) / CAST(uni.cu AS DOUBLE)) +
        |   CAST(0.1 AS DOUBLE) * (CAST(vc.cv AS DOUBLE) / CAST(nn.nn AS DOUBLE))), 6) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE), 6) AS mean_nll
        |FROM db JOIN big ON big.u = db.u AND big.v = db.v
        | JOIN uni ON uni.u = db.u
        | JOIN vc ON vc.v = db.v, nn
        |GROUP BY db.doc_id ORDER BY db.doc_id""".stripMargin,
    "perplexity_score" ->
      s"""WITH $pplCtesSql
        |SELECT doc_id, n_tokens, mean_nll FROM nll ORDER BY doc_id""".stripMargin,
    "ppl_buckets" ->
      s"""WITH $pplCtesSql,
        |r AS (SELECT d.lang, nll.mean_nll,
        |  row_number() OVER (PARTITION BY d.lang ORDER BY nll.mean_nll, nll.doc_id) AS rn,
        |  count(*) OVER (PARTITION BY d.lang) AS n
        | FROM nll JOIN documents d USING (doc_id))
        |SELECT lang,
        | CASE WHEN rn * 3 <= n THEN 'head'
        |      WHEN rn * 3 <= n * 2 THEN 'middle' ELSE 'tail' END AS bucket,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | round(CAST(CAST(sum(CAST(mean_nll AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 6) AS avg_nll
        |FROM r GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "chunk_overlap" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM dn),
        |c AS (SELECT doc_id, len(tokens) AS n_tokens, i,
        |  tokens[(i-1)*$ChunkStride+1:(i-1)*$ChunkStride+$ChunkTokens] AS ctoks
        | FROM (SELECT doc_id, tokens,
        |   unnest(generate_series(1, greatest(
        |     CAST(ceil((len(tokens) - $ChunkTokens) / $ChunkStride.0) AS INT) + 1, 1))) AS i
        |  FROM dtk) t)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        | CAST(i AS INTEGER) AS chunk_id,
        | CAST(len(ctoks) AS INTEGER) AS chunk_len,
        | md5(array_to_string(ctoks, ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "winnow_fingerprints" ->
      s"""WITH dn AS (SELECT doc_id, ${TextOps.normSql} AS norm FROM documents),
        |dtk AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM dn),
        |sh AS (SELECT doc_id, i AS pos,
        |  CAST(CAST('0x' || substr(md5(array_to_string(tokens[i:i+2], ' ')), 1, 7) AS INTEGER) AS BIGINT) AS h
        | FROM (SELECT doc_id, tokens,
        |   unnest(generate_series(1, greatest(array_length(tokens) - 2, 1))) AS i
        |  FROM dtk) t),
        |wmin AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN CURRENT ROW AND ${WinnowWindow - 1} FOLLOWING) AS fp FROM sh),
        |f AS (SELECT DISTINCT doc_id, fp FROM wmin)
        |SELECT doc_id, count(*) AS n_fp, min(fp) AS fp_min, max(fp) AS fp_max,
        | CAST(sum(fp) AS BIGINT) AS fp_sum
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Shared oracle CTE stack for the multi-merge BPE trainer: the word
    * vocab `w`, the initial symbol frame `v0` ("^c  ^a  ^t  " — the
    * identical sentinel/terminator representation as [[bpeSymInit]]),
    * then per round i: toks `t_i`, pair counts `p_i`, 1-row argmax
    * `b_i`, next frame `v_i` (unchanged via LEFT JOIN ON TRUE when no
    * pair exists). MATERIALIZED at every multiply-referenced frame. */
  private lazy val bpeCtesSql: String = {
    val base =
      s"""dn AS (SELECT ${TextOps.normSql} AS norm FROM documents),
        |w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        | SELECT unnest(string_split(norm, ' ')) AS word FROM dn) t
        | WHERE length(word) >= 1 GROUP BY word),
        |v0 AS MATERIALIZED (SELECT word, regexp_replace(word, '(.)', '^\\1  ', 'g') AS sym, cnt FROM w)""".stripMargin
    val steps = (1 to BpeTrainMerges).map { i =>
      s"""t$i AS (SELECT cnt, list_filter(string_split(sym, '  '), t -> t <> '') AS toks FROM v${i - 1}),
        |p$i AS (SELECT substring(toks[i], 2) AS x, substring(toks[i + 1], 2) AS y,
        |  CAST(sum(cnt) AS BIGINT) AS n
        | FROM t$i, (SELECT unnest(generate_series(1,
        |    greatest((SELECT max(length(word)) FROM w) - 1, 1))) AS i) s
        | WHERE i + 1 <= len(toks) GROUP BY 1, 2),
        |b$i AS MATERIALIZED (SELECT x, y, n FROM p$i ORDER BY n DESC, x, y LIMIT 1),
        |v$i AS MATERIALIZED (SELECT v.word, CASE WHEN b.x IS NULL THEN v.sym
        |   ELSE replace(v.sym, '^' || b.x || '  ^' || b.y || '  ', '^' || b.x || b.y || '  ') END AS sym,
        |  v.cnt
        | FROM v${i - 1} v LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }
}
