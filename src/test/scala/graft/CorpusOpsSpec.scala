package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusOps, TextOps}

/** Semantic assertions for the corpus-statistics / mixture family.
  * The DuckDB oracle gates exact values; these tests pin the invariants
  * that make the answers MEANINGFUL (ordering, bounds, budget
  * semantics, bloom-prefilter transparency) against the smallest SF. */
class CorpusOpsSpec extends AnyFunSuite with SparkTest {

  test("vocab_topk is count-ordered, df-bounded, and complete for a tiny vocab") {
    val rows = CorpusOps.vocabTopk(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.sameElements(cnts.sortBy(-_)), "not ordered by cnt desc")
    rows.foreach { r =>
      val (cnt, df) = (r.getAs[Long]("cnt"), r.getAs[Long]("df"))
      assert(df >= 1 && df <= cnt, s"df $df outside [1, cnt=$cnt]")
    }
    // every token the corpus contains is in the table when |vocab| ≤ k
    val distinctTokens = graft.model.Tables.documents(spark, sf)
      .select(explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("t"))
      .distinct().count()
    if (distinctTokens <= 100) assert(rows.length == distinctTokens)
  }

  test("bpe trainer reproduces hand-computed greedy merges, ties, and overlap handling") {
    import spark.implicits._
    // corpus: "aaab"×3, "aab"×2 — hand-traced:
    //   round 1: (a,a)=3·2+2·1=8, (a,b)=3+2=5 → merge (a,a), n=8;
    //     greedy overlap: "a a a b" → "aa a b" (leftmost pair only)
    //   round 2: (aa,a)=3, (a,b)=3, (aa,b)=2 → TIE at 3, pair-text
    //     tiebreak picks (a,b) ("a" < "aa"); "aab"'s [aa, b] unchanged
    //   round 3: (aa,ab)=3, (aa,b)=2 → merge (aa,ab) → "aaab" whole
    //   round 4: (aa,b)=2 → merge (aa,b) → "aab" whole
    val words = Seq(("aaab", 3L), ("aab", 2L)).toDF("word", "cnt")
    val (merges, frames) = CorpusOps.bpeChainOf(CorpusOps.bpeSymInit(words))
    assert(merges == Seq((1, "a", "a", 8L), (2, "a", "b", 3L),
      (3, "aa", "ab", 3L), (4, "aa", "b", 2L)))
    // compression curve over the same frames: totals 18→13→10→7→5,
    // symbol types 2→3→3→3→2
    val curve = frames.zipWithIndex.map { case (v, step) =>
      val toks = v.select(col("cnt"),
        expr("filter(split(sym, '  '), t -> t != '')").as("toks"))
      (step, toks.agg(sum(col("cnt") * size(col("toks")))).head().getLong(0),
        toks.select(explode(col("toks")).as("s")).distinct().count())
    }
    assert(curve == Seq((0, 18L, 2L), (1, 13L, 3L), (2, 10L, 3L),
      (3, 7L, 3L), (4, 5L, 2L)))
    // the sentinel/terminator representation never lets a merge cross a
    // token boundary: pair (a,b) must NOT match inside ("a","ba")
    val tricky = Seq(("w1", 1L)).toDF("word", "cnt")
      .select(lit("^a  ^ba  ").as("sym"), col("cnt"))
    val merged = tricky.withColumn("sym",
      expr("replace(sym, '^a  ^b  ', '^ab  ')")).head().getString(0)
    assert(merged == "^a  ^ba  ", "merge leaked across a token boundary")
  }

  test("bpe merge replace survives quote and backslash symbols (no SQL interpolation)") {
    import spark.implicits._
    // "''"×4: winning pair is (', ') — an interpolated expr() would
    // throw AnalysisException on the unescaped quote (round-13 ADVICE);
    // the Column-API replace treats it as a plain literal
    val words = Seq(("''", 4L), ("\\\\", 3L), ("ab", 1L)).toDF("word", "cnt")
    val (merges, frames) = CorpusOps.bpeChainOf(CorpusOps.bpeSymInit(words))
    assert(merges.head == ((1, "'", "'", 4L)), s"got ${merges.head}")
    assert(merges(1) == ((2, "\\", "\\", 3L)), s"got ${merges(1)}")
    val syms = frames.last.select(col("sym")).collect().map(_.getString(0)).toSet
    assert(syms.contains("^''  "), s"quote merge not applied: $syms")
    assert(syms.contains("^\\\\  "), s"backslash merge not applied: $syms")
  }

  test("bpe_doc_tokens: per-doc bounds hold and totals reconcile with bpe_encode") {
    val rows = CorpusOps.bpeDocTokens(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (w, c, b, ratio) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_char_tokens"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[Double]("compression"))
      assert(b <= c, "merges can only shrink the symbol count")
      assert(b >= w, "a word is at least one symbol")
      assert(ratio > 0.0 && ratio <= 1.0)
      assert(math.abs(ratio - b.toDouble / c) < 1e-6)
    }
    // cross-query reconciliation: per-doc sums equal bpe_encode's corpus
    // curve endpoints (step 0 = characters, final step = BPE tokens)
    val curve = CorpusOps.bpeEncode(spark, sf).collect()
      .map(r => r.getAs[Int]("step") -> r.getAs[Long]("total_tokens")).toMap
    assert(rows.map(_.getAs[Long]("n_char_tokens")).sum == curve(0))
    assert(rows.map(_.getAs[Long]("n_bpe_tokens")).sum == curve(curve.keys.max))
  }

  test("bigram_counts honors the cutoff and the (cnt desc, bigram) order") {
    val rows = CorpusOps.bigramCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("cnt") >= 10))
    val key = rows.map(r => (-r.getAs[Long]("cnt"), r.getAs[String]("bigram")))
    assert(key.sameElements(key.sorted), "not ordered by (cnt desc, bigram)")
  }

  test("passage_dedup: ratios bounded, one row per doc, exact clones fully duplicated") {
    val out = CorpusOps.passageDedup(spark, sf).cache()
    val docs = graft.model.Tables.documents(spark, sf)
    assert(out.count() == docs.count())
    assert(out.filter(col("n_dup") > col("n_pass") ||
      col("dup_ratio") < 0 || col("dup_ratio") > 1).count() == 0)
    // docs sharing identical text must have every passage duplicated
    val clones = docs.groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_id"))
    val cloneRows = out.join(clones, Seq("doc_id"))
    if (cloneRows.count() > 0)
      assert(cloneRows.filter(col("dup_ratio") < 1.0).count() == 0,
        "an exact clone has a non-duplicated passage")
    out.unpersist()
  }

  test("boilerplate_strip: kept counts bounded, clones identical, untouched docs rebuild verbatim") {
    val out = CorpusOps.boilerplateStrip(spark, sf).cache()
    val docs = graft.model.Tables.documents(spark, sf)
    assert(out.count() == docs.count())
    assert(out.filter(col("n_kept") > col("n_pass") || col("n_kept") < 0).count() == 0)
    // the boilerplate decision is global: identical docs must strip identically
    val clones = docs.groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1).select(explode(col("ids")).as("doc_id"))
    val cloneGroups = out.join(clones, Seq("doc_id"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy(col("text"))
      .agg(countDistinct(col("n_kept"), col("kept_hash")).as("variants"))
    assert(cloneGroups.filter(col("variants") =!= 1).count() == 0,
      "identical documents stripped differently")
    // a doc that lost nothing must reassemble to exactly its normalized
    // text (consecutive windows partition the token list)
    val rebuilt = out.filter(col("n_kept") === col("n_pass"))
      .join(docs.select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm")), Seq("doc_id"))
    assert(rebuilt.filter(col("kept_hash") =!= md5(col("norm"))).count() == 0,
      "untouched doc did not rebuild to its normalized text")
    out.unpersist()
  }

  test("perplexity_score: surprisals bounded by ln N, corpus mean equals unigram entropy") {
    val out = CorpusOps.perplexityScore(spark, sf).cache()
    val toks = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
          .as("token"))
    val n = toks.count()
    val lnN = math.log(n.toDouble)
    assert(out.filter(col("mean_nll") <= 0 || col("mean_nll") > lnN + 1e-6).count() == 0,
      "mean surprisal outside (0, ln N]")
    // token-weighted mean over docs == corpus unigram entropy (exact up
    // to the 6-dp per-token rounding)
    val weighted = out.agg(sum(col("mean_nll") * col("n_tokens")))
      .head().getDouble(0) / n
    val entropy = toks.groupBy(col("token")).count()
      .agg(sum(-col("count") * log(col("count") / n.toDouble)))
      .head().getDouble(0) / n
    assert(math.abs(weighted - entropy) < 1e-3,
      s"weighted doc mean $weighted != corpus entropy $entropy")
    out.unpersist()
  }

  test("approx_topk: CMS verdict holds (never under, over ≤ eps*N) and is deterministic") {
    val out = CorpusOps.approxTopk(spark, sf).collect()
    assert(out.length == CorpusOps.CmsTopK)
    // the bound check moved INSIDE the query in r15 (the ann_recall
    // shape); an independently-recounted true_cnt cross-checks the
    // exact side, within_bound carries the CMS guarantee
    val truth = graft.model.Tables.documents(spark, sf)
      .select(explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(truth(r.getString(0)) == r.getAs[Long]("true_cnt"))
      assert(r.getAs[Boolean]("within_bound"),
        s"CMS estimate out of bound for ${r.getString(0)}")
    }
    // determinism: the pinned seed makes the verdicts reproducible
    assert(CorpusOps.approxTopk(spark, sf).collect().toSeq == out.toSeq)
  }

  test("pii regexes count and redact exactly the crafted artifacts") {
    import spark.implicits._
    val s = "write u5@mail2.com or u5@mail2.com call +1-555-0042 ip 10.3.0.21 end"
    val r = Seq(s).toDF("txt").select(
      regexp_count(col("txt"), lit(TextOps.EmailRe)).as("e"),
      regexp_count(col("txt"), lit(TextOps.PhoneRe)).as("p"),
      regexp_count(col("txt"), lit(TextOps.IpRe)).as("i"),
      regexp_replace(regexp_replace(regexp_replace(col("txt"),
        TextOps.EmailRe, "<EMAIL>"), TextOps.PhoneRe, "<PHONE>"),
        TextOps.IpRe, "<IP>").as("red")).head()
    assert(r.getAs[Int]("e") == 2 && r.getAs[Int]("p") == 1 && r.getAs[Int]("i") == 1)
    assert(r.getAs[String]("red") ==
      "write <EMAIL> or <EMAIL> call <PHONE> ip <IP> end")
  }

  test("pii_scrub counts match the injection formula for every document") {
    TextOps.piiScrub(spark, sf).collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (id % 3) + 1, s"doc $id email count")
      assert(r.getInt(2) == 1 && r.getInt(3) == 1, s"doc $id phone/ip count")
    }
  }

  test("source_mix keeps at least one doc per source and never exceeds budget+1 doc") {
    val docs = graft.model.Tables.documents(spark, sf)
    val maxDocTokens = docs
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("n")).agg(max(col("n")))
      .head().getLong(0)
    val rows = CorpusOps.sourceMix(spark, sf).collect()
    val nSources = docs.select(col("source")).distinct().count()
    assert(rows.length == nSources, "a source lost all its documents")
    rows.foreach { r =>
      val kept = r.getAs[Long]("n_tokens_kept")
      assert(r.getAs[Long]("n_docs") >= 1)
      // admit-while-below semantics can overshoot by at most one document
      assert(kept < 2500L + maxDocTokens,
        s"source ${r.getAs[String]("source")} kept $kept tokens")
    }
  }

  test("decontaminate_bloom is bit-identical to the exact path") {
    val exact = TextOps.decontaminate(spark, sf).collect().toSeq
    val bloom = TextOps.decontaminateBloom(spark, sf).collect().toSeq
    assert(bloom == exact)
  }

  test("edit_distance_pairs: zero for exact clones, symmetric-bounded for all") {
    val out = TextOps.editDistancePairs(spark, sf).cache()
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val withTexts = out
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
    // identical text ⇒ distance 0; and distance never exceeds the window
    assert(withTexts.filter(col("ta") === col("tb") && col("edit_dist") =!= 0)
      .count() == 0)
    assert(out.filter(col("edit_dist") < 0 ||
      col("edit_dist") > graft.operators.TextOps.EditPrefix).count() == 0)
    out.unpersist()
  }

  test("kmeans_assign matches a single-threaded reference Lloyd round exactly") {
    // independent reimplementation in plain Scala (same sequential fold
    // order as the codegen'd DotProduct): quantize → seed K centroids →
    // assign → exact mean update → reassign. The distributed aggregate
    // must land on the SAME labels and distances — whole-number sums are
    // order-independent, so any partitioning gives the reference answer.
    import graft.operators.SimilarityOps
    val raw = graft.model.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val q = raw.map { case (id, v) =>
      val m = v.map(math.abs).max
      id -> (if (m == 0.0) v.map(_ => 0.0)
             else v.map(x => math.floor(x * 127 / m + 0.5)))
    }
    def assign(cents: Seq[(Long, Array[Double])]): Map[Long, (Long, Double)] =
      q.map { case (id, vq) =>
        id -> cents.map { case (cid, c) =>
          (round6(dot(vq, vq) - 2 * dot(vq, c) + dot(c, c)), cid)
        }.min.swap
      }.toMap
    val c0 = q.filter(_._1 < 8).map { case (id, vq) => (id, vq) }.toSeq
    val a1 = assign(c0)
    val c1 = a1.toSeq.groupBy(_._2._1).map { case (cid, members) =>
      val vs = members.map(m => q.find(_._1 == m._1).get._2)
      cid -> vs.transpose.map(ds => ds.sum / ds.length).toArray
    }.toSeq
    val expected = assign(c1)
    val got = SimilarityOps.kmeansAssign(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (cl, dist)) =>
      assert((cl, dist) == expected(id),
        s"vec $id: got ($cl, $dist), reference ${expected(id)}")
    }
  }

  test("product_quantize matches a single-threaded reference PQ round exactly") {
    // independent plain-Scala PQ: quantize → slice into 4×16-dim
    // sub-vectors → seed 8 sub-centroids per subspace → assign → exact
    // mean update → reassign. The distributed version must land on the
    // SAME (code, dist) per (vector, subspace) under any partitioning —
    // the kmeans reference-Lloyd argument at subspace granularity.
    import graft.operators.SimilarityOps
    val raw = graft.model.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val subs = 0 until SimilarityOps.PqSubspaces
    val sq = raw.map { case (id, v) =>
      val m = v.map(math.abs).max
      val qv = if (m == 0.0) v.map(_ => 0.0)
               else v.map(x => math.floor(x * 127 / m + 0.5))
      id -> subs.map(s =>
        qv.slice(s * SimilarityOps.PqSubDim, (s + 1) * SimilarityOps.PqSubDim)).toArray
    }
    def assign(cents: Map[Int, Seq[(Long, Array[Double])]])
        : Map[(Long, Int), (Long, Double)] =
      sq.flatMap { case (id, sv) =>
        subs.map { s =>
          (id, s) -> cents(s).map { case (cid, c) =>
            (round6(dot(sv(s), sv(s)) - 2 * dot(sv(s), c) + dot(c, c)), cid)
          }.min.swap
        }
      }.toMap
    val c0 = subs.map(s => s ->
      sq.filter(_._1 < SimilarityOps.PqK).map { case (id, sv) => (id, sv(s)) }.toSeq).toMap
    val a1 = assign(c0)
    val c1 = subs.map { s =>
      // toSeq BEFORE collect: collecting key->value pairs straight off a
      // Map would rebuild a Map and silently drop same-cid members
      s -> a1.toSeq.collect { case ((id, `s`), (cid, _)) => cid -> id }
        .groupBy(_._1).map { case (cid, members) =>
          val vs = members.map(m => sq.find(_._1 == m._2).get._2(s))
          cid -> vs.transpose.map(ds => ds.sum / ds.length).toArray
        }.toSeq
    }.toMap
    val expected = assign(c1)
    val got = SimilarityOps.productQuantize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (code, dist)) =>
      assert((code, dist) == expected(k),
        s"(vec, sub) $k: got ($code, $dist), reference ${expected(k)}")
    }
  }

  test("lang_source_pmi: cells cover the corpus and mutual information is non-negative") {
    val rows = graft.operators.CorpusOps.langSourcePmi(spark, sf).collect()
    val total = graft.model.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total, "cells don't cover the corpus")
    // MI = Σ p(x,y)·pmi(x,y) ≥ 0 for any joint distribution; per-cell
    // round-6 can only perturb the sum by |cells|·5e-7
    val mi = rows.map(r => r.getLong(2).toDouble / total * r.getDouble(3)).sum
    assert(mi >= -1e-4, s"mutual information negative: $mi")
  }

  test("ngram_novelty: bounded ratios, novel counts tile the distinct-shingle universe") {
    val rows = graft.operators.TextOps.ngramNovelty(spark, sf).collect()
    val byDoc = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    for ((id, (n, novel, frac)) <- byDoc) {
      assert(novel >= 0 && novel <= n, s"doc $id: novel $novel of $n")
      assert(frac >= 0.0 && frac <= 1.0, s"doc $id: novelty $frac")
    }
    // the minimum doc_id owns every one of its shingles first
    val first = byDoc.minBy(_._1)
    assert(first._2._3 == 1.0, s"first doc not fully novel: $first")
    // every distinct shingle has exactly ONE first owner, so the novel
    // counts partition the shingle universe
    val universe = graft.operators.TextOps.distinctShingleCount(spark, sf)
    assert(byDoc.map(_._2._2).sum == universe)
  }

  test("bm25_topk: positive descending scores with doc_id tiebreak") {
    val rows = graft.operators.CorpusOps.bm25Topk(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= graft.operators.CorpusOps.Bm25TopK)
    // Robertson idf ln((N-df+0.5)/(df+0.5)+1) is strictly positive, so
    // every retrieved doc (≥1 query-term hit) scores > 0
    assert(rows.forall(_.getDouble(1) > 0.0))
    val ranked = rows.map(r => (-r.getDouble(1), r.getLong(0))).toSeq
    assert(ranked == ranked.sorted, "rows not in (score desc, doc_id) order")
  }
}
