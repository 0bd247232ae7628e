package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** One-off A/B harness for the hot-bucket ceiling at a chosen SF —
  * skipped (canceled) unless `SPARK_GRAFT_AB_DIR` names a testdata dir.
  * Run with e.g.
  * `SPARK_GRAFT_AB_DIR=/tmp/sf1 SPARK_GRAFT_AB_CAP=64 sbt -batch
  * "testOnly graft.operators.LshBucketAbSpec"` — measures ungated vs
  * gated candidate-pair counts, pair recall, doc coverage, and kernel
  * wall time; the numbers land in SCALING.md's round-13 A/B table. */
class LshBucketAbSpec extends AnyFunSuite with SparkTest {

  test("A/B: candidate kernel ungated vs spark.graft.lsh.maxBucket") {
    assume(sys.env.contains("SPARK_GRAFT_AB_DIR"), "set SPARK_GRAFT_AB_DIR to run")
    val dir = sys.env("SPARK_GRAFT_AB_DIR")
    val cap = sys.env.getOrElse("SPARK_GRAFT_AB_CAP", "64")

    def run(): (Long, Long, Double, org.apache.spark.sql.DataFrame) = {
      val t0 = System.nanoTime()
      val sig = TextOps.signatureFrom(
        TextOps.docShinglesOf(TextOps.normed(spark, dir))).persist()
      sig.count()
      val pairs = TextOps.candidatePairsFromSig(sig).persist()
      val n = pairs.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val nDocs = pairs.select(explode(array(col("doc_a"), col("doc_b"))))
        .distinct().count()
      sig.unpersist()
      (n, nDocs, wall, pairs)
    }

    val (nU, dU, wU, pU) = run()
    spark.conf.set(TextOps.LshMaxBucketKey, cap)
    val (nG, dG, wG, pG) =
      try run() finally spark.conf.unset(TextOps.LshMaxBucketKey)
    val caught = pG.join(pU, Seq("doc_a", "doc_b"), "left_semi").count()
    info(f"dir=$dir cap=$cap")
    info(f"ungated: pairs=$nU docs=$dU wall=$wU%.2fs")
    info(f"gated:   pairs=$nG docs=$dG wall=$wG%.2fs")
    info(f"pair recall=${caught.toDouble / math.max(1, nU)}%.4f  " +
      f"doc coverage=${dG.toDouble / math.max(1, dU)}%.4f")
    assert(caught == nG, "gated pairs must be a subset of ungated pairs")
    assert(dG == dU, "every paired doc must stay covered under the gate")
    pU.unpersist(); pG.unpersist()
  }

  test("A/B: constructed viral clone family — quadratic ungated, linear gated") {
    assume(sys.env.contains("SPARK_GRAFT_AB_SKEW"),
      "set SPARK_GRAFT_AB_SKEW=<family size> to run")
    import spark.implicits._
    val m = sys.env("SPARK_GRAFT_AB_SKEW").toInt
    val cap = sys.env.getOrElse("SPARK_GRAFT_AB_CAP", "64").toInt
    // one viral page (m byte-identical copies — the 100 TB boilerplate
    // scenario) over a backdrop of distinct docs
    val viral = "subscribe to our newsletter for the latest updates and offers today"
    val normDf = spark.range(1, m + 1).select(col("id").as("doc_id"), lit(viral).as("norm"))
      .union(spark.range(1000000, 1010000).select(col("id").as("doc_id"),
        concat_ws(" ", lit("doc"), col("id"), lit("alpha"), col("id") * 7,
          lit("beta"), col("id") * 13, lit("gamma"), col("id") * 31).as("norm")))

    def run(c: Option[Int]): (Long, Double) = {
      c.foreach(b => spark.conf.set(TextOps.LshMaxBucketKey, b.toString))
      try {
        val t0 = System.nanoTime()
        val sig = TextOps.signatureFrom(TextOps.docShinglesOf(normDf)).persist()
        sig.count()
        val n = TextOps.candidatePairsFromSig(sig).count()
        sig.unpersist()
        (n, (System.nanoTime() - t0) / 1e9)
      } finally c.foreach(_ => spark.conf.unset(TextOps.LshMaxBucketKey))
    }

    val (nG, wG) = run(Some(cap))
    val starBound = (1 to cap).map(m - _).sum.toLong
    info(f"family m=$m cap=$cap: gated pairs=$nG (star bound $starBound) wall=$wG%.2fs")
    assert(nG == starBound, "gated family must emit exactly the star pairs")
    val (nU, wU) = run(None)
    info(f"ungated pairs=$nU (C(m,2)=${m.toLong * (m - 1) / 2}) wall=$wU%.2fs")
    assert(nU == m.toLong * (m - 1) / 2)

    // AUTO mode on the same corpus (round-13 verdict #4): the p99-derived
    // ceiling — size-1 backdrop buckets dominate, so auto must land at
    // B=1 and the family emits exactly its m-1 star pairs
    spark.conf.set(TextOps.LshMaxBucketKey, "auto")
    val (nA, wA) =
      try run(None) finally spark.conf.unset(TextOps.LshMaxBucketKey)
    // recover the effective B the auto mode derived from the family's
    // star count: nFam = sum_{i=1..B} (m - i); backdrop pairs are the
    // same under every setting (their buckets are under any B)
    val backdrop = nU - m.toLong * (m - 1) / 2
    val famA = nA - backdrop
    val bEff = (1 to m).find(b => (1 to b).map(m - _).sum.toLong >= famA).getOrElse(m)
    info(f"auto: pairs=$nA wall=$wA%.2fs derived B=$bEff (family star $famA)")
    assert(famA == (1 to bEff).map(m - _).sum.toLong,
      "auto pairs are not a star set — ceiling not applied cleanly")
    assert(bEff <= cap, s"auto derived B=$bEff above the manual cap $cap")
  }
}
