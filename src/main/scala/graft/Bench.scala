package graft
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // Untimed warm-up: the first queries otherwise pay one-time JVM costs
    // (classloading, Janino codegen compilation, parquet reader, shuffle
    // and broadcast machinery) that no steady-state deployment would
    // attribute to them — round-5 bench charged ~5s of session warm-up to
    // whichever query ran first. Warm at the SMALLEST sf so the warm-up
    // itself is cheap; it warms code paths, not data caches (cleanup()
    // drops every cached block before timing starts).
    val warmSf = {
      val sib = new java.io.File(sfDir).getParentFile
      val d = new java.io.File(sib, "sf0.001")
      if (d.isDirectory) d.toString else sfDir
    }
    Seq("limit_offset", "sessionize", "ngram_jaccard", "dedup_canonical",
        "doc_embed_similarity", "embedding_neardup", "ann_lsh",
        "decontaminate", "decontaminate_bloom", "edit_distance_pairs",
        "image_resize", "kmeans_assign", "passage_dedup")
      .foreach { n =>
        SparkEntry.queries.get(n).foreach { fn =>
          try { fn(spark, warmSf).count() } catch { case _: Throwable => () }
        }
      }
    // Synthesized media payload tables materialize to parquet once per
    // SF; build them for the TIMED sf here so the one-time synthesis
    // write never lands inside a timed query window (round-8 SCALING
    // bench-fidelity caveat — the multimodal queries now time decode
    // against a real binary-column table, not payload synthesis).
    try operators.MultimodalOps.warmPayloads(spark, sfDir)
    catch { case _: Throwable => () }
    cleanup(spark)
    // Deterministic name order so per-query numbers are comparable
    // round-over-round (Map iteration order is arbitrary).
    // Optional comma-separated allowlist for local iteration on a few
    // queries (the driver never sets it → full run).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // Two consecutive in-JVM repetitions per query, report the MIN
    // (round-8 verdict item 6): the box-level variance of this VM is
    // ±30% and single-shot totals made the round-over-round perf gate a
    // coin flip — the min of two runs strips one-sided noise spikes
    // (GC, page cache misses, sibling load) while staying honest about
    // systematic cost. Caches are swept between reps, so rep 2 re-runs
    // the full pipeline, not a cached shortcut.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    val (results, failed) = runQueries(spark, sfDir,
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) },
      reps)
    val total = results.map(_._2).sum
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LAST.json")
    // Full per-query map goes to a FILE only: at 105 queries the map is
    // ~2.4k chars, and the driver captures a 2,000-char stdout tail — a
    // per-query stdout line is unparsable no matter the float precision
    // (that truncation broke the bench artifact seven rounds running).
    val full = detail(total, reps, cpus, results, failed, sfDir)
    Files.writeString(Paths.get(outPath), full + "\n")
    // r19 (PERF_r18 n_common=0 fix): ALSO write a per-core-count copy of
    // the detail file. BENCH_LAST.json is overwritten by every run — the
    // driver's low-core scaling run was clobbering the main run's
    // per-query map, leaving the round-over-round perf comparison with no
    // per-query data. BENCH_LAST_c<cpus>.json survives runs at other core
    // counts, so both the c32 and c8 per-query maps outlive the session
    // (and get committed as round artifacts). Stdout contract unchanged.
    writeDetailCopy(outPath, cpus, full + "\n")
    spark.stop()
    // The LAST stdout line is a compact summary (~120 chars) that can
    // never outgrow the tail capture; it names the file holding the
    // per-query map so an auditor can recover it. summaryLine is
    // unit-tested to stay < 1900 chars even with pathological inputs.
    println(summaryLine(total, results.size, sfDir, outPath, reps, failed.size))
  }

  /** The detail file's JSON: the per-query map, the failing keys
    * (`errors`) and each one's cause (`causes`). */
  private[graft] def detail(total: Double, reps: Int, cpus: String,
      results: Seq[(String, Double, Double, Double)], failed: Seq[(String, String)],
      sfDir: String): String = {
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Per-query [min,max] across reps (round-14 verdict item 4): with
    // only the settled value, a +2.6 s pagerank delta round-over-round is
    // unfalsifiable against this box's ±6% total / ±30% per-key noise —
    // the spread states each key's OWN within-run variance so a real
    // regression (new min above old max) separates from a noisy rep.
    val spread = results.map { case (k, _, lo, hi) =>
      "\"" + k + "\":[" + fmt(lo) + "," + fmt(hi) + "]" }
      .mkString("{", ",", "}")
    val errs = failed.map(f => "\"" + f._1 + "\"").mkString("[", ",", "]")
    val causes = failed.map { case (k, c) => "\"" + k + "\":" + Verify.jsonString(c) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,""" +
      s""""cpus":"$cpus","errors":$errs,"causes":$causes,"queries":$qs,"spread":$spread,""" +
      s""""sf":"$sfDir"}"""
  }

  /** Path of the per-core-count detail copy, `<out>_c<cpus>.json` — or
    * None when the out name already ends in `_c<cpus>`: that file IS the
    * per-core copy, and a second one would be a `_c8_c8` duplicate. */
  private[graft] def detailCopyPath(outPath: String, cpus: String): Option[Path] = {
    val p = Paths.get(outPath)
    val name = p.getFileName.toString
    val base = if (name.endsWith(".json")) name.dropRight(5) else name
    if (base.endsWith(s"_c$cpus")) None else Some(p.resolveSibling(s"${base}_c$cpus.json"))
  }

  /** Writes the detail copy. A failed write is reported on stderr and does
    * not fail the run: the main detail file and the stdout summary line
    * are already the run's result. */
  private[graft] def writeDetailCopy(outPath: String, cpus: String, content: String): Unit =
    detailCopyPath(outPath, cpus).foreach { copy =>
      try Files.writeString(copy, content)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench: detail copy $copy not written: $e")
      }
    }

  // Millisecond precision: box-level variance is ±30%, finer digits are noise.
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** Timed min-of-`reps` loop over `queries`, with per-query cache sweep.
    * A query that throws must not masquerade as a fast one (round-9
    * verdict item 3): failures are NAMED in the returned error list (the
    * artifact's "errors" array and the stdout summary's count), each with
    * the cause of its first failing rep ([[cause]]), and the failed
    * query's elapsed-to-failure still counts toward the total — honest
    * cost, visibly marked broken. Per-query settling is adaptive: see
    * [[settle]]. */
  private[graft] def runQueries(
      spark: SparkSession,
      sfDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      reps: Int): (Seq[(String, Double, Double, Double)], Seq[(String, String)]) = {
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = queries.map { case (name, fn) =>
      def rep(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case scala.util.control.NonFatal(e) =>
          if (!failed.contains(name)) failed(name) = cause(e)
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        cleanup(spark)
        elapsed
      }
      val (settled, all) = settleFull(() => rep(), reps)
      (name, settled, all.min, all.max)
    }
    (results, failed.toSeq)
  }

  /** `"<ExceptionClass>: <message>"`, cut to 500 characters. */
  private[graft] def cause(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}".take(500)

  /** Settle one query's reported time from `reps` timed repetitions.
    * Agreeing reps (max ≤ 2× min) report the MIN — the round-8 rationale:
    * this box's variance is ±30%, and the min strips one-sided noise
    * (GC, page cache, sibling load) while staying honest about
    * systematic cost. When the reps DISAGREE by more than 2×, something
    * external stalled one of them (round-10 driver run: a multi-second
    * environment stall printed `bigram_counts` at 7.8× its same-code
    * time); one extra rep is run and the MEDIAN of all reps reported, so
    * a single stalled — or single anomalously fast — repetition cannot
    * decide the official artifact by itself. */
  private[graft] def settle(runRep: () => Double, reps: Int): Double =
    settleFull(runRep, reps)._1

  /** [[settle]] plus every observed rep time (r15: the artifact records
    * per-query [min,max] so round-over-round deltas are falsifiable
    * against each key's own within-run spread). */
  private[graft] def settleFull(
      runRep: () => Double, reps: Int): (Double, Vector[Double]) = {
    val times = (1 to math.max(1, reps)).map(_ => runRep()).toVector
    if (times.size >= 2 && times.max > 2 * times.min) {
      val all = (times :+ runRep()).sorted
      (all(all.size / 2), all)
    } else (times.min, times)
  }

  /** The single stdout line the driver parses. Kept total-only (no
    * per-query map) so query-count growth can never push it past the
    * driver's 2,000-char stdout tail capture; BenchSpec asserts the
    * bound. `detail` points at the file carrying the per-query map.
    */
  def summaryLine(total: Double, n: Int, sfDir: String, outPath: String,
      reps: Int = 1, errors: Int = 0): String =
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":$n,"reps":$reps,""" +
      s""""errors":$errors,"sf":"$sfDir","detail":"$outPath"}"""

  /** Runs OUTSIDE the timed window — it is harness overhead, not query
    * cost. clearCache() alone unpersists ASYNCHRONOUSLY: over 70+ queries
    * in one JVM the eager persist() chains in the text/similarity family
    * leave multi-GB block + GC debris that lands on whichever queries run
    * next (round-3 verdict: trivial queries inflated 10-20×).
    * Blocking-unpersist every persistent RDD, then force a full GC so the
    * next query starts from a clean heap — the closest one JVM gets to
    * fresh-JVM-per-query, which is the number a per-job cluster
    * deployment would actually see. */
  private def cleanup(spark: SparkSession): Unit = {
    // Guarded belt-and-braces on top of release's own per-RDD NonFatal
    // guards: cleanup sits OUTSIDE the per-query try/catch, so any throw
    // here would kill the whole run (that is exactly how the round-9
    // driver bench died — an async listener-sweep block removal landed
    // between release's registry snapshot and its blocking unpersist).
    try graft.api.Caches.release(spark)
    catch { case scala.util.control.NonFatal(_) => () }
    System.gc()
  }
}
