package graft.streaming

import scala.math.BigDecimal.RoundingMode

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.io.NioLocalFs
import graft.streaming.ConsumerPipeline.RawEvent

/** The effectively-once policy every streaming operator shares, in one
  * place. `foreachBatch` is only at-least-once: after a crash between an
  * output write and the checkpoint commit, the same micro-batch runs
  * again with the same id. Each output is therefore keyed by the batch
  * id and written in overwrite mode, so a replay rewrites what the first
  * run wrote instead of adding to it (the *Structured Streaming*,
  * SIGMOD 2018, idempotent-sink contract).
  *
  * Three mechanisms build on that:
  *  - [[startSnapshots]]: a versioned state snapshot `statePath/v=<id>`.
  *    Batch N reads the newest COMMITTED version below N, writes `v=N`
  *    and prunes versions below N-1, so a replay of N recomputes from
  *    the same predecessor and `{v=N-1, v=N}` remain.
  *  - [[startSink]]: per-batch outputs `path/batch=<id>`, written from
  *    one persist of the batch.
  *  - [[foldInEventOrder]]: a per-key fold over the state store, each
  *    micro-batch's events of a key taken in (ts, nanos, event_id) order.
  *
  * Every query starts in [[foreachBatch]] and every per-batch file goes
  * out through [[write]], so both route their `file:` I/O through
  * [[graft.io.NioLocalFs]]: checkpoint logs, state store and outputs
  * without a `chmod`/`readlink` fork per file.
  */
object MicroBatch {

  /** Run `body(batch, batchId)` on every micro-batch of `input`. */
  def foreachBatch(input: DataFrame, queryName: String, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    NioLocalFs.install(input.sparkSession)
    input.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .start()
  }

  /** Overwrite `path` with `df` as parquet: the one file write of the
    * streaming operators. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").options(NioLocalFs.writerOptions(df.sparkSession)).parquet(path)

  /** Where batch `batchId`'s output under `path` lives. */
  def batchDir(path: String, batchId: Long): String = s"$path/batch=$batchId"

  /** Persist each batch, overwrite every `(path, frame)` of
    * `outputs(batch)` into [[batchDir]], then drop the persist. The
    * persist decodes the source once although the outputs (or one
    * output's plan) read the batch more than once. */
  def startSink(input: DataFrame, queryName: String, checkpointDir: String)(
      outputs: DataFrame => Seq[(String, DataFrame)]): StreamingQuery =
    foreachBatch(input, queryName, checkpointDir) { (batch, batchId) =>
      val b = batch.persist()
      try outputs(b).foreach { case (path, out) =>
        write(out, batchDir(path, batchId))
      }
      finally graft.api.Caches.dropTransient(b)
    }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Every `v=<id>` directory under `statePath`, committed or not. */
  private def versionDirs(fs: FileSystem, statePath: String): Seq[(Long, Path)] = {
    val p = new Path(statePath)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .collect { case d if d.getName.startsWith("v=") => d.getName.drop(2).toLong -> d }
  }

  /** Ids of the snapshots whose write committed: the directory holds
    * `_SUCCESS`. One still being written holds only `_temporary/`. */
  private def committed(fs: FileSystem, statePath: String): Seq[Long] =
    versionDirs(fs, statePath)
      .collect { case (v, d) if fs.exists(new Path(d, "_SUCCESS")) => v }

  /** The newest committed snapshot under `statePath` (for readers). */
  def snapshot(spark: SparkSession, statePath: String): DataFrame = {
    val vs = committed(fileSystem(spark, statePath), statePath)
    require(vs.nonEmpty, s"no committed snapshot under $statePath")
    spark.read.parquet(s"$statePath/v=${vs.max}")
  }

  /** Fold every micro-batch into the snapshot store under `statePath`:
    * `next(batch, prev)` builds version `v=<batchId>` from the batch and
    * the newest committed version below it (None for the first batch).
    * A committed version above `batchId` can only be another run's (a
    * fresh checkpoint on a used `statePath`), which readers would serve
    * as this run's state, so the batch fails instead. */
  def startSnapshots(input: DataFrame, queryName: String, statePath: String,
      checkpointDir: String)(
      next: (DataFrame, Option[DataFrame]) => DataFrame): StreamingQuery =
    foreachBatch(input, queryName, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val fs = fileSystem(spark, statePath)
      val vs = committed(fs, statePath)
      if (vs.exists(_ > batchId)) throw new IllegalStateException(
        s"$statePath holds snapshot v=${vs.max} of another run, above batch $batchId; " +
          "use a fresh statePath or the checkpoint that wrote it")
      val prev = vs.filter(_ < batchId).maxOption
        .map(v => spark.read.parquet(s"$statePath/v=$v"))
      write(next(batch, prev), s"$statePath/v=$batchId")
      // a replay of batch N only ever needs version N-1
      versionDirs(fs, statePath).foreach { case (v, d) =>
        if (v < batchId - 1) fs.delete(d, true)
      }
    }

  /** Per-key fold over the checkpointed state store in Append mode with
    * no timeout. Each micro-batch's events of a key are sorted by
    * (ts, nanos, event_id) and folded through `step(key, state, event)`,
    * which returns the next state and at most one output row; a key's
    * state starts at `zero`. Ordering ACROSS batches is the source's
    * contract, as for every trailing-window stream. */
  def foldInEventOrder[K: Encoder, S: Encoder, O: Encoder](
      events: Dataset[RawEvent], key: RawEvent => K, zero: S)(
      step: (K, S, RawEvent) => (S, Option[O])): Dataset[O] =
    events.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: K, it: Iterator[RawEvent], state: GroupState[S]) =>
          var s = state.getOption.getOrElse(zero)
          val out = Vector.newBuilder[O]
          it.toVector.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              val (nextState, row) = step(k, s, e)
              s = nextState
              out ++= row
            }
          state.update(s)
          out.result().iterator
      }
}

/** Scala replays of Catalyst's decimal rounding (BigDecimal HALF_UP —
  * NOT math.round: they differ on negative half-cents), shared by the
  * streaming operators whose outputs must equal a batch column bit for
  * bit. */
trait CatalystRounding {

  /** `round(v, 6)`; non-finite values, which the BigDecimal replay
    * would throw on, pass through as themselves. */
  private[graft] def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, RoundingMode.HALF_UP).toDouble

  /** `round(v, 0)` as a Long: `toCents(value * 100.0)` is a value's
    * exact cents. */
  private[graft] def toCents(v: Double): Long =
    BigDecimal(v).setScale(0, RoundingMode.HALF_UP).toLong
}
