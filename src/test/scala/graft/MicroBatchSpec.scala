package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamingBottomK, StreamingCdc, StreamingQuotaSample, StreamingWeightedSample}
import graft.streaming.ConsumerPipeline.RawEvent

/** The snapshot store the sampler and CDC streams share
  * (`MicroBatch.startSnapshots` / `MicroBatch.snapshot`): the first
  * batch starts from no snapshot, a replayed batch rewrites its own
  * version from the same predecessor, two versions remain, and readers
  * only ever see a committed version. */
class MicroBatchSpec extends AnyFunSuite with SparkTest {

  /** (name, start(events, statePath, checkpointDir), state reader). */
  private def stores: Seq[(String, (DataFrame, String, String) => StreamingQuery,
      (SparkSession, String) => DataFrame)] = Seq(
    ("bottom-k", StreamingBottomK.start, StreamingBottomK.state),
    ("quota sample",
      (evs, st, ck) => StreamingQuotaSample.start(
        evs.select(col("event_id").as("id"), col("event_type").as("grp")), st, ck),
      StreamingQuotaSample.state),
    ("weighted sample",
      (evs, st, ck) => StreamingWeightedSample.start(
        evs.select(col("event_id"), (col("user_id") + 1L).as("w")), st, ck),
      StreamingWeightedSample.state),
    ("cdc", StreamingCdc.start, StreamingCdc.state))

  private def versionDirs(statePath: String): Set[String] =
    new File(statePath).list().filter(_.startsWith("v=")).toSet

  private def partFiles(dir: String): Set[String] =
    new File(dir).list().filter(_.startsWith("part-")).toSet

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("snapshot store: first batch starts empty, a replayed batch rewrites its version, two remain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.model.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[RawEvent].collect().toSeq
    val waves = evs.grouped(math.max(evs.length / 3, 1)).toSeq.take(3)
    for ((name, start, state) <- stores) {
      val stream = MemoryStream[RawEvent]
      val statePath = tempDir("store_state")
      val ckpt = tempDir("store_ckpt")
      val q = start(stream.toDF(), statePath, ckpt)
      val (first, lastRows, lastFiles) =
        try {
          stream.addData(waves.head: _*)
          q.processAllAvailable()
          val first = versionDirs(statePath)
          waves.tail.foreach { w => stream.addData(w: _*); q.processAllAvailable() }
          (first, rows(state(spark, statePath)), partFiles(s"$statePath/v=2"))
        } finally q.stop()
      assert(first == Set("v=0"), s"$name: first batch")
      assert(versionDirs(statePath) == Set("v=1", "v=2"), s"$name: pruning")

      // a crash after the write of batch 2 but before its commit: the
      // restarted query runs batch 2 again over the same offsets
      Seq("2", ".2.crc").foreach(f => new File(s"$ckpt/commits/$f").delete())
      val again = start(stream.toDF(), statePath, ckpt)
      try again.processAllAvailable() finally again.stop()
      assert(again.recentProgress.exists(_.batchId == 2), s"$name: batch 2 not replayed")
      assert(partFiles(s"$statePath/v=2") != lastFiles, s"$name: v=2 not rewritten")
      assert(rows(state(spark, statePath)) == lastRows, s"$name: replay changed the snapshot")
      assert(versionDirs(statePath) == Set("v=1", "v=2"), s"$name: pruning after replay")
    }
  }

  test("a fresh checkpoint on a used statePath fails instead of serving the old run's snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.model.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[RawEvent].collect().toSeq
    val statePath = tempDir("store_reused")
    val stream = MemoryStream[RawEvent]
    val q = StreamingBottomK.start(stream.toDF(), statePath, tempDir("store_ckpt_old"))
    try evs.take(3).foreach { e => stream.addData(e); q.processAllAvailable() }
    finally q.stop()
    assert(versionDirs(statePath) == Set("v=1", "v=2"))
    val oldRows = rows(StreamingBottomK.state(spark, statePath))

    val fresh = MemoryStream[RawEvent]
    val again = StreamingBottomK.start(fresh.toDF(), statePath, tempDir("store_ckpt_new"))
    val err = try {
      fresh.addData(evs.drop(3).take(2): _*)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](again.processAllAvailable())
    } finally again.stop()
    val cause = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalStateException => e }
    assert(cause.exists(_.getMessage.contains(statePath)), err)
    // nothing of the new run was committed over the old snapshots
    assert(versionDirs(statePath) == Set("v=1", "v=2"))
    assert(rows(StreamingBottomK.state(spark, statePath)) == oldRows)
  }

  test("snapshot readers return the newest committed version, not a write in flight") {
    import spark.implicits._
    for ((name, _, state) <- stores) {
      val statePath = tempDir("store_inflight")
      Seq((1L, "a"), (2L, "b")).toDF("key", "v").write.parquet(s"$statePath/v=0")
      // what a write of v=1 leaves on disk before its job commits
      assert(new File(s"$statePath/v=1/_temporary/0").mkdirs())
      assert(rows(state(spark, statePath)) == Seq("[1,a]", "[2,b]"), name)
    }
  }
}
