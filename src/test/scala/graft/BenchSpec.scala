package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the bench's driver contract: the LAST stdout line must fit
  * inside the driver's 2,000-char stdout tail capture. The per-query
  * map overflowed that bound once query count passed ~90, which made
  * the round artifact unparsable — the summary line is total-only so
  * query growth can never re-break it, and this spec enforces the
  * bound against worst-case inputs.
  */
class BenchSpec extends AnyFunSuite with SparkTest {

  test("summary line stays far under the driver's 2000-char tail capture") {
    val line = Bench.summaryLine(89.942, 105, "/root/testdata/sf0.1", "/root/repo/BENCH_LAST.json")
    assert(line.length < 1900, s"summary line is ${line.length} chars")
    assert(line.length < 300, s"expected a compact line, got ${line.length} chars")
  }

  test("a throwing query is named in the error list, not masked as fast") {
    // round-9 verdict item 3: the old `catch { _ => -1L }` let a broken
    // query contribute a near-zero time and nothing marked it failed
    val ok = (s: org.apache.spark.sql.SparkSession, _: String) => s.range(5).toDF("id")
    val boom = (_: org.apache.spark.sql.SparkSession, _: String) =>
      sys.error("boom"): org.apache.spark.sql.DataFrame
    val (results, failed) =
      Bench.runQueries(spark, sf, Seq("ok" -> ok, "boom" -> boom), reps = 1)
    assert(failed.map(_._1) == Seq("boom"))
    assert(results.map(_._1) == Seq("ok", "boom"))
    // and the summary line carries the count without growing unboundedly
    val line = Bench.summaryLine(1.0, 2, sf, "/tmp/out.json", reps = 1, errors = failed.size)
    assert(line.contains("\"errors\":1"))
    assert(line.length < 1900)
  }

  test("disagreeing reps trigger a third and the median is reported") {
    // round-10 verdict item 2: a stalled rep printed bigram_counts at
    // 7.8× its same-code time into the official artifact. When the two
    // reps disagree >2×, a third must run and the median win, so one
    // stalled (or one anomalously fast) repetition cannot decide the
    // artifact alone.
    val stalled = Iterator(4.03, 0.52, 0.50) // rep1 stalled, rep2+3 honest
    assert(Bench.settle(() => stalled.next(), reps = 2) == 0.52)
    assert(stalled.isEmpty, "the disagreement must consume exactly three reps")
    val fastGlitch = Iterator(0.10, 0.52, 0.50) // rep1 anomalously fast
    assert(Bench.settle(() => fastGlitch.next(), reps = 2) == 0.50)
  }

  test("runQueries records each key's per-rep spread alongside the settled time") {
    // round-14 verdict item 4: without per-query min/max, a pagerank
    // +2.6s round-over-round delta is unfalsifiable against rep noise
    val ok = (s: org.apache.spark.sql.SparkSession, _: String) => s.range(5).toDF("id")
    val (results, failed) = Bench.runQueries(spark, sf, Seq("ok" -> ok), reps = 2)
    assert(failed.isEmpty)
    val (name, settled, lo, hi) = results.head
    assert(name == "ok")
    assert(lo <= settled && settled <= hi, s"settled $settled outside [$lo,$hi]")
    assert(lo > 0 && hi > 0)
  }

  test("settleFull returns every observed rep, including the disagreement third") {
    val stalled = Iterator(4.03, 0.52, 0.50)
    val (settled, all) = Bench.settleFull(() => stalled.next(), reps = 2)
    assert(settled == 0.52)
    assert(all.sorted == Vector(0.50, 0.52, 4.03)) // third rep recorded
    val (s2, all2) = Bench.settleFull(() => 0.5, reps = 2)
    assert(s2 == 0.5 && all2 == Vector(0.5, 0.5))
  }

  test("agreeing reps keep the min-of-2 contract and run no extra rep") {
    var calls = 0
    val agreeing = () => { calls += 1; if (calls == 1) 0.60 else 0.55 }
    assert(Bench.settle(agreeing, reps = 2) == 0.55)
    assert(calls == 2, s"agreeing reps must not pay a third repetition, ran $calls")
    // single-rep mode (SPARK_GRAFT_BENCH_REPS=1) can never disagree
    var single = 0
    assert(Bench.settle(() => { single += 1; 1.23 }, reps = 1) == 1.23)
    assert(single == 1)
  }

  test("summary line is valid minimal JSON with the driver's expected fields") {
    val line = Bench.summaryLine(12.5, 7, "/tmp/sfX", "/tmp/out.json", reps = 2)
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(line.contains("\"metric\":\"total\""))
    assert(line.contains("\"value\":12.500"))
    assert(line.contains("\"unit\":\"sec\""))
    assert(line.contains("\"n\":7"))
    assert(line.contains("\"reps\":2"))
    assert(line.contains("\"sf\":\"/tmp/sfX\""))
    assert(line.contains("\"detail\":\"/tmp/out.json\""))
    // exactly one line — a trailing newline would split the tail capture
    assert(!line.contains("\n"))
  }

  test("bound holds even with pathologically long paths and totals") {
    val longPath = "/very/long/" + ("d" * 600) + "/sf0.1"
    val line = Bench.summaryLine(1.234567e9, 100000, longPath, longPath + "/out.json")
    assert(line.length < 1900, s"summary line is ${line.length} chars")
  }

  test("detail copy skips an already-suffixed name and logs a failed write") {
    assert(Bench.detailCopyPath("out/BENCH_r19_c8.json", "8").isEmpty,
      "an out name ending in _c<cpus> must not get a _c8_c8 copy")
    assert(Bench.detailCopyPath("out/BENCH_LAST.json", "8")
      .contains(java.nio.file.Paths.get("out/BENCH_LAST_c8.json")))
    assert(Bench.detailCopyPath("out/BENCH_r19_c8.json", "32")
      .contains(java.nio.file.Paths.get("out/BENCH_r19_c8_c32.json")))

    val dir = java.nio.file.Paths.get(tempDir("bench-detail"))
    val ok = dir.resolve("out.json").toString
    Bench.writeDetailCopy(ok, "4", "{}\n")
    assert(java.nio.file.Files.readString(dir.resolve("out_c4.json")) == "{}\n")

    // a copy whose directory does not exist: no exception, one stderr line
    val missing = dir.resolve("no-such-dir").resolve("out.json").toString
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Bench.writeDetailCopy(missing, "4", "{}\n")
    finally System.setErr(saved)
    assert(err.toString.contains("out_c4.json not written"), s"stderr was: $err")
  }

  test("a failing key's exception class and message reach the detail file") {
    val ok = (s: org.apache.spark.sql.SparkSession, _: String) => s.range(5).toDF("id")
    val message = "table \"x\" is missing\n\tat line 2"
    val boom = (_: org.apache.spark.sql.SparkSession, _: String) =>
      (throw new IllegalStateException(message)): org.apache.spark.sql.DataFrame
    val (results, failed) =
      Bench.runQueries(spark, sf, Seq("ok" -> ok, "boom" -> boom), reps = 2)
    val cause = s"java.lang.IllegalStateException: $message"
    assert(failed == Seq("boom" -> cause), "one entry per key, with its first cause")

    val out = java.nio.file.Paths.get(tempDir("bench-causes")).resolve("out.json")
    java.nio.file.Files.writeString(out, Bench.detail(1.0, 2, "4", results, failed, sf) + "\n")
    val d = spark.read.json(out.toString).head()
    assert(d.getAs[org.apache.spark.sql.Row]("causes").getAs[String]("boom") == cause)
    assert(d.getAs[scala.collection.Seq[String]]("errors") == Seq("boom"))
    assert(d.getAs[org.apache.spark.sql.Row]("queries").fieldIndex("ok") >= 0)
    // a long message is cut to 500 characters
    assert(Bench.cause(new RuntimeException("x" * 2000)).length == 500)
  }
}
