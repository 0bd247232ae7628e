package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Exactness spec for the r19 chunked-overlap anomaly_zscore rewrite:
  * the chunked form must equal the plain per-type trailing window
  * BIT-FOR-BIT on every fixture — including chunk sizes small enough
  * that real data crosses many chunk boundaries (the default 4096-row
  * chunk never splits the test SFs, so the boundary logic is exercised
  * here with forced-small chunks). */
class ZscoreChunkSpec extends AnyFunSuite with SparkTest {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def eventsAt(sfDir: String) = graft.model.Tables.events(spark, sfDir)

  test("chunked == plain at sf0.001 and sf0.01, default and forced-small chunks") {
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         chunk <- Seq(AnalyticOps.ZscoreChunk, 64, AnalyticOps.ZscoreWindow)) {
      val plain = rows(AnalyticOps.anomalyZscorePlain(eventsAt(sfDir)))
      val chunked = rows(AnalyticOps.anomalyZscoreChunked(eventsAt(sfDir), chunk))
      assert(chunked === plain, s"sf=$sfDir chunk=$chunk")
    }
  }

  test("chunked == plain on a synthetic single-type stream crossing many chunks") {
    // one event type, 640 rows, chunk=64 → 10 chunks, every boundary hit;
    // values chosen so some frames DO flag (a spike every 97 rows)
    val ev = spark.range(0, 640).selectExpr(
      "id AS event_id",
      "timestamp_micros(1700000000000000 + id * 1000000) AS ts",
      "CAST(id % 7 AS BIGINT) AS user_id",
      "'click' AS event_type",
      "CASE WHEN id % 97 = 0 THEN 500.0 ELSE CAST(10 + id % 5 AS DOUBLE) END AS value",
      "'' AS props")
    val plain = rows(AnalyticOps.anomalyZscorePlain(ev))
    val chunked = rows(AnalyticOps.anomalyZscoreChunked(ev, 64))
    assert(plain.nonEmpty, "fixture produced no flagged rows — spec is vacuous")
    assert(chunked === plain)
  }

  test("chunked == plain when some events have a null ts") {
    // the plain window orders null ts first within each type; the chunked
    // form must keep those rows and rank them the same way
    def nullTs(ev: org.apache.spark.sql.DataFrame, every: Int) =
      ev.withColumn("ts", when(col("event_id") % every === 0,
        lit(null).cast("timestamp")).otherwise(col("ts")))
    for (chunk <- Seq(AnalyticOps.ZscoreChunk, 64)) {
      val ev = nullTs(eventsAt(sf.replace("sf0.001", "sf0.01")), 50)
      assert(rows(AnalyticOps.anomalyZscoreChunked(ev, chunk)) ===
        rows(AnalyticOps.anomalyZscorePlain(ev)), s"sf0.01 chunk=$chunk")
    }
    // single type, every 3rd row null-ts: the null rows form a run of 214
    // at the head of the order, and the spike at id 291 (null ts, 98th in
    // that run) has a full frame of null-ts rows and must be flagged
    val synth = nullTs(spark.range(0, 640).selectExpr(
      "id AS event_id",
      "timestamp_micros(1700000000000000 + id * 1000000) AS ts",
      "CAST(id % 7 AS BIGINT) AS user_id",
      "'click' AS event_type",
      "CASE WHEN id % 97 = 0 THEN 500.0 ELSE CAST(10 + id % 5 AS DOUBLE) END AS value",
      "'' AS props"), 3)
    val plain = AnalyticOps.anomalyZscorePlain(synth)
    assert(plain.filter(col("event_id") === 291).count() == 1,
      "fixture's null-ts spike was not flagged — spec is vacuous")
    assert(rows(AnalyticOps.anomalyZscoreChunked(synth, 64)) === rows(plain))
  }

  test("the sliding aggregates partition by (event_type, chunk), not event_type alone") {
    // the expensive sliding pass must never run under the 5-way per-type
    // parallelism ceiling r19 removed; only the metadata-sized bucket
    // prefix-sum may still partition by event_type alone
    val p = AnalyticOps.anomalyZscore(spark, sf)
      .queryExecution.executedPlan.toString
    val slidingSpec = "windowspecdefinition\\(event_type#\\d+, chunk#\\d+L?,".r
    assert(slidingSpec.findFirstIn(p).isDefined,
      s"sliding window not (event_type, chunk)-partitioned:\n$p")
  }

  test("chunk size below the window is rejected") {
    intercept[IllegalArgumentException] {
      AnalyticOps.anomalyZscoreChunked(eventsAt(sf), AnalyticOps.ZscoreWindow - 1)
    }
  }
}
