package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.functions.TextFunctions.{minhash_pieces, word_shingles}

/** Parity of the row-local MinHash kernel with the exploded formulation it
  * replaced. The reference below is that formulation verbatim: lambda
  * shingles exploded to one row per shingle, a (doc, sh) `distinct`, a
  * min-aggregate signature grouped by doc_id, and the exact overlap as a
  * (doc, sh) equi-join count. Signatures, candidate pairs and overlaps must
  * be identical row multisets (`exceptAll` both ways), on the sf0.01 corpus
  * and on edge fixtures the corpus never produces. */
class MinhashKernelParitySpec extends AnyFunSuite with SparkTest {

  private val sf01 = sf.replace("sf0.001", "sf0.01")

  // ------------------------------------------------ exploded reference
  private def refShingles(normDf: DataFrame, n: Int): DataFrame =
    normDf
      .select(col("doc_id"), split(col("norm"), " ").as("tokens"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, greatest(size(tokens) - ${n - 1}, 1)), " +
          s"i -> array_join(slice(tokens, i, $n), ' '))")).as("sh"))

  private def refSignature(sh: DataFrame): DataFrame = {
    val hashes = (TextOps.MinhashPieces + 3) / 4
    val hashed = sh.select(col("doc_id") +:
      (0 until hashes).map(i => md5(concat(lit(s"$i:"), col("sh"))).as(s"h$i")): _*)
    val aggs = (0 until TextOps.MinhashPieces).map { k =>
      min(substring(col(s"h${k / 4}"), (k % 4) * 8 + 1, 8)).as(s"mh${k + 1}")
    } :+ count(lit(1)).as("sz")
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  private def refOverlap(cand: DataFrame, s3: DataFrame): DataFrame = {
    val sizes = s3.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    cand
      .join(s3.as("x"), col("x.doc_id") === col("doc_a"))
      .join(s3.as("y"), col("y.doc_id") === col("doc_b") && col("y.sh") === col("x.sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sizes.as("sb"), col("sb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("i"),
        col("sa.sz").as("sa"), col("sb.sz").as("sb"))
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Long = {
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    assert(extra == 0 && missing == 0,
      s"$what: $extra rows only in the kernel, $missing only in the reference")
    want.count()
  }

  /** Signature, candidate pairs and overlap of `normDf` under both
    * formulations; `extraPairs` are candidate pairs injected into the
    * overlap on top of the LSH ones. Returns the LSH pair count. */
  private def checkKernel(normDf: DataFrame, extraPairs: Seq[(Long, Long)] = Nil): Long = {
    import spark.implicits._
    val ds = TextOps.docShinglesOf(normDf).persist()
    val s3 = refShingles(normDf, 3).distinct().persist()
    try {
      val sig = TextOps.signatureFrom(ds)
      val ref = refSignature(s3)
      assert(assertSame(sig, ref, "signature") > 0, "no signatures: vacuous fixture")
      val cand = TextOps.candidatePairsFromSig(sig)
      val refCand = TextOps.candidatePairsFromSig(ref)
      val nPairs = assertSame(cand, refCand, "candidate pairs")
      val injected = extraPairs.toDF("doc_a", "doc_b")
      assertSame(TextOps.overlapOf(cand.union(injected).distinct(), ds),
        refOverlap(refCand.union(injected).distinct(), s3), "overlap")
      nPairs
    } finally {
      ds.unpersist()
      s3.unpersist()
    }
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** Edge documents: empty, whitespace-only and null text, 1- and 2-token
    * documents, trigrams repeated within a document, an exact clone pair
    * and a near-duplicate. */
  private def edgeDocs: DataFrame = {
    val long = (1 to 40).map(i => s"word$i").mkString(" ")
    val rows = Seq[(Long, String)](
      1L -> "",
      2L -> "   \t  ",
      3L -> null,
      4L -> "Alpha",
      5L -> "alpha  beta",
      6L -> "a b c a b c a b c a b c",
      7L -> "a b c a b c",
      8L -> null,
      10L -> long,
      11L -> long.toUpperCase,
      12L -> (long + " tail"),
      13L -> "completely different words in this one")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (d, t) => Row(d, t) }, 3), schema)
  }

  test("row-local kernel equals the exploded formulation on the sf0.01 corpus") {
    val normDf = TextOps.normed(spark, sf01).persist()
    try {
      val nPairs = checkKernel(normDf)
      assert(nPairs > 0, "sf0.01 produced no candidate pairs: vacuous")
    } finally normDf.unpersist()
  }

  test("row-local kernel equals the exploded formulation on edge documents") {
    val normDf = edgeDocs.select(col("doc_id"), TextOps.normCol.as("norm"))
    // (4, 5), (1, 3) and the two null texts (3, 8) share no shingle;
    // (1, 2) share only the empty one
    val nPairs = checkKernel(normDf,
      extraPairs = Seq(4L -> 5L, 1L -> 3L, 3L -> 8L, 1L -> 2L))
    assert(nPairs > 0, "edge fixture produced no candidate pairs: vacuous")
  }

  test("word_shingles matches the split/slice/join lambda on raw strings") {
    val texts = Seq("", " ", "x", "a  b", " lead", "trail ", "a b c d e",
      "ünïcödé wörds  here too", "日本 語 の テキスト", null)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2), schema)
      .select(col("doc_id"), col("text").as("norm"))
    for (n <- 1 to 4) {
      assertSame(df.select(col("doc_id"), explode(word_shingles(col("norm"), n)).as("sh")),
        refShingles(df, n), s"shingles n=$n")
    }
  }

  test("word_shingles and minhash_pieces agree interpreted and under codegen") {
    val normDf = TextOps.normed(spark, sf01).limit(300)
      .union(edgeDocs.select(col("doc_id"), TextOps.normCol.as("norm")))
    def run(factoryMode: String, wholeStage: Boolean): Seq[String] = {
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      try normDf
        .select(col("doc_id"), word_shingles(col("norm"), 2).as("s2"),
          word_shingles(col("norm"), 3).as("s3"))
        .select(col("doc_id"), col("s2"), col("s3"),
          minhash_pieces(col("s3"), TextOps.MinhashPieces).as("p"),
          minhash_pieces(lit(null).cast("array<string>"), 4).as("pnull"))
        .collect().map(_.toString).sorted.toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val interpreted = run("NO_CODEGEN", wholeStage = false)
    val generated = run("CODEGEN_ONLY", wholeStage = true)
    assert(interpreted.size > 300)
    assert(interpreted == generated)
  }
}
