package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** MEASURED recall gate for the banded MinHash grid — the text-side
  * analog of `ann_recall`/`ivf_recall`. The 8-piece / 4-band grid's
  * recall at s = 0.8 is 1 − (1 − s²)⁴ ≈ 94% analytically
  * (TextOps.scala MinHash grid comment); this spec checks the MEASURED
  * recall on the driver corpus: ground truth is the exact Jaccard over
  * EVERY co-shingling pair (complete for J > 0 — a pair sharing no
  * shingle has J = 0), candidates are the production banded equi-join.
  * Everything is hash-deterministic, so the measured number is stable
  * run-over-run; the gate guards grid-parameter regressions.
  */
class MinhashRecallSpec extends AnyFunSuite with SparkTest {

  test("banded MinHash candidates catch >=90% of true Jaccard>=0.8 pairs") {
    val s3 = TextOps.shinglesOf(TextOps.normed(spark, sf), 3).distinct().persist()
    val sig = TextOps.signatureFrom(TextOps.docShinglesOf(TextOps.normed(spark, sf))).persist()
    sig.count()
    val sizes = sig.select(col("doc_id"), col("sz"))
    val truth = s3.as("a")
      .join(s3.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), Seq("doc_b"))
      .withColumn("j", col("inter") / (col("sza") + col("szb") - col("inter")))
      .filter(col("j") >= 0.8)
      .select("doc_a", "doc_b").persist()
    val nTruth = truth.count()
    assert(nTruth > 0, "fixture has no true J>=0.8 pairs")
    val caught = truth
      .join(TextOps.candidatePairsFromSig(sig), Seq("doc_a", "doc_b"), "left_semi")
      .count()
    val recall = caught.toDouble / nTruth
    info(f"measured recall $recall%.4f ($caught of $nTruth true pairs)")
    assert(recall >= 0.9, s"measured recall $recall ($caught/$nTruth)")
    s3.unpersist(); sig.unpersist(); truth.unpersist()
  }
}
