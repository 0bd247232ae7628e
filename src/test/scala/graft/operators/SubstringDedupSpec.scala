package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.model.Tables

/** Exact-substring dedup (substring_spans / substring_dedup_stats):
  * constructed-corpus ground truth (the natural corpus is word soup, so
  * long repeated runs exist only where the generator planted clones —
  * constructed docs pin exact boundaries), plus full brute-force
  * equality on the real sf0.001 corpus.
  */
class SubstringDedupSpec extends AnyFunSuite with SparkTest {

  private val K = TextOps.SubstrK

  /** Windows → repeated (≥2 docs) → islands, in plain Scala over the
    * same normalization — the reference implementation. */
  private def bruteSpans(docs: Seq[(Long, String)]): Seq[(Long, Int, Int, Int, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
    }.toMap
    val windows = toks.toSeq.flatMap { case (id, ts) =>
      if (ts.length < K) Seq.empty
      else (1 to ts.length - K + 1).map(i => (id, i, ts.slice(i - 1, i - 1 + K).mkString(" ")))
    }
    val repeated = windows.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    windows.filter(w => repeated(w._3)).groupBy(_._1).toSeq.flatMap { case (id, ws) =>
      val ps = ws.map(_._2).sorted
      // islands: split where consecutive positions gap
      val spans = ps.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.reverse
      spans.map { case (s, e) => (id, s, e + K - 1, e - s + K, (e - s + 1).toLong) }
    }.sortBy(t => (t._1, t._2))
  }

  private def bruteStats(docs: Seq[(Long, String)]): Map[Long, (Int, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
    }.toMap
    val windows = toks.toSeq.flatMap { case (id, ts) =>
      if (ts.length < K) Seq.empty
      else (1 to ts.length - K + 1).map(i => (id, i, ts.slice(i - 1, i - 1 + K).mkString(" ")))
    }
    val byGram = windows.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2)
    val firstDoc = byGram.map { case (g, ws) => g -> ws.map(_._1).min }
    val removable = windows.filter(w => firstDoc.get(w._3).exists(_ != w._1))
    removable.groupBy(_._1).map { case (id, ws) =>
      val ps = ws.map(_._2).distinct.sorted
      val spans = ps.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      id -> (toks(id).length, spans.map { case (s, e) => (e - s + K).toLong }.sum)
    }
  }

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    val dir = tempDir("substr")
    val rows = docs.map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("constructed corpus: exact span boundaries, sub-K and unique docs excluded") {
    val shared = (1 to 12).map("s" + _).mkString(" ") // 12-token planted run
    val docs = Seq(
      1L -> ((1 to 5).map("a" + _).mkString(" ") + " " + shared + " " +
        (1 to 4).map("b" + _).mkString(" ")),   // run at tokens 6..17
      2L -> ((1 to 3).map("c" + _).mkString(" ") + " " + shared + " " +
        (1 to 6).map("d" + _).mkString(" ")),   // run at tokens 4..15
      3L -> "t1 t2 t3 t4 t5",                    // sub-K: no windows
      4L -> (1 to 30).map("u" + _).mkString(" ")) // unique: no repeats
    val dir = writeDocs(docs)
    val spans = TextOps.substringSpans(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("start_pos"),
        r.getAs[Int]("end_pos"), r.getAs[Int]("span_tokens"), r.getAs[Long]("n_windows")))
    assert(spans.toSeq == Seq(
      (1L, 6, 17, 12, 5L),
      (2L, 4, 15, 12, 5L)))
    // keep-first: doc 1 owns every shared gram, only doc 2 pays
    val stats = TextOps.substringDedupStats(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_tokens"),
        r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_frac")))
    assert(stats.toSeq == Seq((2L, 21, 12L, math.rint(12.0 / 21.0 * 1e6) / 1e6)))
  }

  test("substring_spans equals the brute-force reference on the real corpus") {
    val out = TextOps.substringSpans(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("start_pos"),
        r.getAs[Int]("end_pos"), r.getAs[Int]("span_tokens"), r.getAs[Long]("n_windows")))
    assert(out.nonEmpty) // the generator plants clone clusters
    // structural identities
    out.foreach { case (_, s, e, st, nw) =>
      assert(st == e - s + 1, "span_tokens != end-start+1")
      assert(nw == st - K + 1, "windows != span_tokens - K + 1")
    }
    // islands are maximal: consecutive spans of a doc cannot touch
    out.groupBy(_._1).values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case ((_, _, e1, _, _), (_, s2, _, _, _)) =>
        assert(s2 > e1 - K + 2, s"adjacent islands not merged: end=$e1 next=$s2")
      }
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out.toSeq.sortBy(t => (t._1, t._2)) == bruteSpans(docs))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Keep-first cut applied in plain Scala: affected doc → kept text. */
  private def bruteApply(docs: Seq[(Long, String)]): Map[Long, (Long, String)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
    }.toMap
    val windows = toks.toSeq.flatMap { case (id, ts) =>
      if (ts.length < K) Seq.empty
      else (1 to ts.length - K + 1).map(i => (id, i, ts.slice(i - 1, i - 1 + K).mkString(" ")))
    }
    val byGram = windows.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2)
    val firstDoc = byGram.map { case (g, ws) => g -> ws.map(_._1).min }
    val removable = windows.filter(w => firstDoc.get(w._3).exists(_ != w._1))
    removable.groupBy(_._1).map { case (id, ws) =>
      val covered = ws.flatMap(w => w._2 until w._2 + K).toSet // 1-based positions
      val kept = toks(id).zipWithIndex.collect {
        case (w, idx) if !covered(idx + 1) => w
      }
      id -> (kept.length.toLong, md5hex(kept.mkString(" ")))
    }
  }

  test("substring_dedup_apply produces the exact cleaned corpus (incl. wholly-cut clones)") {
    // constructed: doc 2 keeps exactly its 9 unique tokens
    val shared = (1 to 12).map("s" + _).mkString(" ")
    val docs = Seq(
      1L -> ((1 to 5).map("a" + _).mkString(" ") + " " + shared + " " +
        (1 to 4).map("b" + _).mkString(" ")),
      2L -> ((1 to 3).map("c" + _).mkString(" ") + " " + shared + " " +
        (1 to 6).map("d" + _).mkString(" ")))
    val dir = writeDocs(docs)
    val cons = TextOps.substringDedupApply(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_kept"),
        r.getAs[String]("kept_hash")))
    val expectKept = ((1 to 3).map("c" + _) ++ (1 to 6).map("d" + _)).mkString(" ")
    assert(cons.toSeq == Seq((2L, 9L, md5hex(expectKept))))
    // real corpus: exact brute-force equality + the stats identity
    val out = TextOps.substringDedupApply(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_kept"), r.getAs[String]("kept_hash")))).toMap
    val corpus = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == bruteApply(corpus))
    // n_kept = n_tokens - dup_tokens, row for row against the stats query
    val stats = TextOps.substringDedupStats(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens").toLong - r.getAs[Long]("dup_tokens"))).toMap
    assert(out.keySet == stats.keySet)
    out.foreach { case (id, (kept, _)) => assert(kept == stats(id)) }
  }

  test("substring_dedup_stats equals the brute-force keep-first reference") {
    val out = TextOps.substringDedupStats(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("n_tokens"), r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_frac"))))
      .toMap
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val brute = bruteStats(docs)
    assert(out.keySet == brute.keySet)
    out.foreach { case (id, (nt, dt, frac)) =>
      val (bn, bd) = brute(id)
      assert(nt == bn && dt == bd, s"doc $id: ($nt,$dt) != ($bn,$bd)")
      assert(dt >= 1 && dt <= nt, "coverage out of bounds")
      assert(math.abs(frac - math.rint(dt.toDouble / nt.toDouble * 1e6) / 1e6) < 1e-9)
    }
    // removable coverage can never exceed the doc's repeated-span coverage
    val spanCover = TextOps.substringSpans(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Int]("span_tokens").toLong).sum }
    out.foreach { case (id, (_, dt, _)) => assert(dt <= spanCover(id)) }
  }
}
