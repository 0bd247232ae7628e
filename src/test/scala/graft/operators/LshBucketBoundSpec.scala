package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** The hot-bucket ceiling (`spark.graft.lsh.maxBucket`) — round-13
  * verdict #1. Three properties:
  *
  *  1. BOUND: a clone family of m docs in one bucket emits the star
  *     Σᵢ₌₁..min(m,B) (m−i) pairs under the gate (linear in m), versus
  *     C(m,2) ungated (quadratic); buckets at or under B are unchanged.
  *  2. CONNECTIVITY: every bucket member beyond rank B still pairs with
  *     the bucket minimum, so connected-component consumers
  *     (dedup_groups et al.) are BIT-IDENTICAL gated or not — proven on
  *     the real corpus at the most aggressive setting B = 1.
  *  3. DEFAULT-OFF: unset (or ≤ 0) is the legacy all-pairs join —
  *     CORRECTNESS oracles never see the gate.
  */
class LshBucketBoundSpec extends AnyFunSuite with SparkTest {

  private val Key = TextOps.LshMaxBucketKey

  /** Pairs from a constructed norm frame under an optional gate. */
  private def pairsOf(normDf: org.apache.spark.sql.DataFrame,
      cap: Option[Int]): Set[(Long, Long)] = {
    cap.foreach(b => spark.conf.set(Key, b.toString))
    try {
      val sig = TextOps.signatureFrom(TextOps.docShinglesOf(normDf)).persist()
      sig.count()
      val got = TextOps.candidatePairsFromSig(sig).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      sig.unpersist()
      got
    } finally cap.foreach(_ => spark.conf.unset(Key))
  }

  test("maxBucket caps a clone family to the star bound; small buckets unchanged") {
    import spark.implicits._
    val clone = "the quick brown fox jumps over the lazy dog tonight"
    val m = 12
    val family = (1 to m).map(i => (i.toLong, clone))
    val smallPair = Seq((101L, "alpha beta gamma delta epsilon zeta"),
      (102L, "alpha beta gamma delta epsilon zeta"))
    val singles = Seq((201L, "uno dos tres cuatro cinco seis"),
      (202L, "eins zwei drei vier funf sechs"))
    val normDf = (family ++ smallPair ++ singles).toDF("doc_id", "norm")

    val ungated = pairsOf(normDf, None)
    // full family C(12,2) + the small 2-family's single pair
    assert(ungated.size == m * (m - 1) / 2 + 1, s"ungated ${ungated.size}")

    val b = 3
    val gated = pairsOf(normDf, Some(b))
    // star from the B smallest doc_ids: sum_{i=1..B} (m - i)
    val star = (1 to b).map(m - _).sum + 1
    assert(gated.size == star, s"gated ${gated.size} != star bound $star")
    assert(gated.subsetOf(ungated), "gate must only DROP pairs, never invent")
    // exact star set: left endpoints are ranks 1..B (doc_ids 1..3)
    val famGated = gated.filter(_._2 <= m.toLong)
    assert(famGated.forall(_._1 <= b.toLong),
      "left endpoints past rank B leaked through the gate")
    // connectivity: every family member beyond the reps still pairs
    // with the bucket minimum (doc 1)
    for (d <- (b + 1) to m)
      assert(gated.contains((1L, d.toLong)), s"doc $d lost its rep-1 edge")
    // the <= B bucket is untouched
    assert(gated.contains((101L, 102L)))
    // B >= bucket size: gate is a no-op even when on
    assert(pairsOf(normDf, Some(m)) == ungated)
  }

  test("dedup_groups is bit-identical under the most aggressive gate (B=1)") {
    val ungated = TextOps.dedupGroups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(Key, "1")
    val gated =
      try TextOps.dedupGroups(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset(Key)
    assert(gated == ungated,
      "connected components must be invariant under the star gate")
  }

  test("pair-level recall under B=2 on the real corpus: gated subset, full doc coverage") {
    val base = TextOps.normed(spark, sf)
    val ungated = pairsOf(base, None)
    val gated = pairsOf(base, Some(2))
    assert(gated.subsetOf(ungated))
    val cover = (s: Set[(Long, Long)]) => s.flatMap(p => Seq(p._1, p._2))
    assert(cover(gated) == cover(ungated),
      "every doc in an ungated pair must survive in some gated pair")
    val recall = if (ungated.isEmpty) 1.0 else gated.size.toDouble / ungated.size
    info(f"pair recall at B=2: $recall%.4f (${gated.size} of ${ungated.size})")
    assert(recall > 0.5, s"pair recall collapsed: $recall")
  }

  /** Pairs under a RAW conf value ("auto" or a number). */
  private def pairsOfRaw(normDf: org.apache.spark.sql.DataFrame,
      raw: String): Set[(Long, Long)] = {
    spark.conf.set(Key, raw)
    try {
      val sig = TextOps.signatureFrom(TextOps.docShinglesOf(normDf)).persist()
      sig.count()
      val got = TextOps.candidatePairsFromSig(sig).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      sig.unpersist()
      got
    } finally spark.conf.unset(Key)
  }

  test("maxBucket=auto derives the smallest B >= the p99 bucket size (r13 verdict #4)") {
    import spark.implicits._
    // 200 distinct singletons (size-1 buckets dominate: ~800 of ~804) +
    // one 12-clone family (4 size-12 buckets — the <1% tail): p99 = 1,
    // so auto must land at B = 1 — the family is star-capped, the rest
    // of the corpus is untouched
    val clone = "the quick brown fox jumps over the lazy dog tonight"
    val family = (1 to 12).map(i => (i.toLong, clone))
    val singles = (1 to 200).map(i =>
      (1000L + i, s"alpha$i bravo$i charlie$i delta$i echo$i"))
    val normDf = (family ++ singles).toDF("doc_id", "norm")
    val auto = pairsOfRaw(normDf, "auto")
    val b1 = pairsOf(normDf, Some(1))
    assert(auto == b1, "auto did not resolve to the p99-derived B = 1")
    // and the ceiling only sheds intra-family pairs — components hold
    val ungated = pairsOf(normDf, None)
    assert(auto.subsetOf(ungated))
    for (d <- 2 to 12)
      assert(auto.contains((1L, d.toLong)), s"doc $d lost its rep-1 edge under auto")
  }

  test("auto mode: dedup_groups bit-identical to ungated on the real corpus; empty corpus safe") {
    import spark.implicits._
    val ungated = TextOps.dedupGroups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(Key, "auto")
    val gated =
      try TextOps.dedupGroups(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset(Key)
    assert(gated == ungated,
      "connected components must be invariant under the auto ceiling")
    // empty corpus: auto's histogram is empty — cap falls back to 1, no pairs
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "norm")
    assert(pairsOfRaw(empty, "auto").isEmpty)
  }

  test("PROPERTY: the gate preserves connected components on ANY corpus (B = 1)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // random small corpora over a 4-word vocabulary — dense collisions
    // by construction, so band buckets of every size occur; the star
    // gate at its most aggressive setting must never change the
    // component structure (the invariant every CC consumer relies on)
    val doc = Gen.choose(3, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("red", "blue", "fox", "dog")).map(_.mkString(" ")))
    val corpora = (0 until 6).flatMap(i =>
      Gen.listOfN(14, doc).apply(Gen.Parameters.default, Seed(i.toLong)))
    for (docs <- corpora if docs.nonEmpty) {
      val normDf = docs.zipWithIndex
        .map { case (d, i) => (i.toLong + 1L, d) }.toDF("doc_id", "norm")
      def components(cap: Option[Int]): Map[Long, Long] = {
        cap.foreach(b => spark.conf.set(Key, b.toString))
        try {
          val sig = TextOps.signatureFrom(TextOps.docShinglesOf(normDf)).persist()
          sig.count()
          val cc = GraphOps
            .connectedComponents(TextOps.candidatePairsFromSig(sig), "doc_a", "doc_b")
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          sig.unpersist()
          cc
        } finally cap.foreach(_ => spark.conf.unset(Key))
      }
      assert(components(Some(1)) == components(None),
        s"star gate changed the components for corpus $docs")
    }
  }
}
