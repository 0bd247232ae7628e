package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.Caches
import graft.model.Tables
import graft.operators.TextOps
import graft.streaming.ConsumerPipeline.RawEvent
import graft.streaming.{StreamingAnomaly, StreamingBottomK, StreamingCdc, StreamingDedup}

/** Micro-batch throughput bench for the streaming half of the engine
  * (round-8 verdict item 5: the streaming analogs carry bit-equality
  * tests but no SCALING rows). Each path streams its REAL table through
  * a file source in bounded micro-batches (`maxFilesPerTrigger`) — the
  * deployment shape, unlike MemoryStream, and it never collects data to
  * the driver, so the same main measures the 10× replica honestly.
  *
  * Prints one JSON line per path:
  * `{"stream":name,"rows":N,"batches":B,"sec":S,"rows_per_sec":R,...}`.
  * Env: `SPARK_GRAFT_SF_DIR` (default sf0.1), `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_STREAM_FILES` (input file count, default 20),
  * `SPARK_GRAFT_STREAM_FPT` (files per trigger, default 2).
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES", "20").toInt
    val fpt = sys.env.getOrElse("SPARK_GRAFT_STREAM_FPT", "2")
    val spark = LocalSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val stage = Files.createTempDirectory("graft_streambench").toString

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def fileStream(path: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", fpt).parquet(path)
    def dirBytes(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(path))
    }
    def report(name: String, rows: Long, sec: Double, extra: String = ""): Unit =
      println(f"""{"stream":"$name","rows":$rows,"files":$nFiles,"fpt":$fpt,""" +
        f""""sec":$sec%.2f,"rows_per_sec":${rows / sec}%.0f$extra,"sf":"$sfDir"}""")
    // optional comma-separated allowlist (SPARK_GRAFT_STREAM_ONLY) so a
    // big-replica run can measure a stream family without paying all 12
    val onlyStreams = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def stream(name: String)(body: => Unit): Unit =
      if (onlyStreams.forall(_.contains(name))) body

    // ---- streaming dedup: new docs vs the corpus signature index ------
    stream("dedup") {
      val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 =!= 9)
      val bands = Caches.materialize(TextOps.signatureIndex(corpus))
      val newDocs = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 === 9).select("doc_id", "text")
      newDocs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/dedup_in")
      val n = spark.read.parquet(s"$stage/dedup_in").count()
      val in = fileStream(s"$stage/dedup_in", newDocs.schema)
      val q = StreamingDedup.start(in, bands, s"$stage/dedup_ckpt", s"$stage/dedup_out")
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val outRows = spark.read.parquet(s"$stage/dedup_out").count()
      require(outRows == n, s"dedup verdicts $outRows != streamed $n")
      report("dedup", n, sec)
      Caches.dropTransient(bands, blocking = true)
      Caches.release(spark)
    }

    // ---- streaming cdc: events fold into a latest-wins snapshot -------
    stream("cdc") {
      val evs = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      evs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/cdc_in")
      val n = spark.read.parquet(s"$stage/cdc_in").count()
      val in = fileStream(s"$stage/cdc_in", evs.schema)
      val q = StreamingCdc.start(in, s"$stage/cdc_state", s"$stage/cdc_ckpt")
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val state = StreamingCdc.state(spark, s"$stage/cdc_state")
      report("cdc", n, sec,
        s""","state_rows":${state.count()},"state_bytes":${dirBytes(s"$stage/cdc_state")}""")
      Caches.release(spark)
    }

    // ---- streaming bottom-k: exact uniform sample over the stream -----
    stream("bottomk") {
      val evs = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      evs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/btk_in")
      val n = spark.read.parquet(s"$stage/btk_in").count()
      val in = fileStream(s"$stage/btk_in", evs.schema)
      val q = StreamingBottomK.start(in, s"$stage/btk_state", s"$stage/btk_ckpt")
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val state = StreamingBottomK.state(spark, s"$stage/btk_state")
      report("bottomk", n, sec,
        s""","state_rows":${state.count()},"state_bytes":${dirBytes(s"$stage/btk_state")}""")
      Caches.release(spark)
    }

    // ---- streaming weighted sample: exact A-Res over the stream -------
    stream("weighted_sample") {
      val recs = Tables.events(spark, sfDir)
        .select(col("event_id"), (col("user_id") + 1L).as("w"))
      recs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/wks_in")
      val n = spark.read.parquet(s"$stage/wks_in").count()
      val in = fileStream(s"$stage/wks_in", recs.schema)
      val q = graft.streaming.StreamingWeightedSample.start(
        in, s"$stage/wks_state", s"$stage/wks_ckpt")
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val state = graft.streaming.StreamingWeightedSample.state(spark, s"$stage/wks_state")
      report("weighted_sample", n, sec,
        s""","state_rows":${state.count()},"state_bytes":${dirBytes(s"$stage/wks_state")}""")
      Caches.release(spark)
    }

    // ---- streaming quota sample: exact per-group budgets --------------
    stream("quota_sample") {
      val recs = Tables.events(spark, sfDir)
        .select(col("event_id").as("id"), col("event_type").as("grp"))
      recs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/qta_in")
      val n = spark.read.parquet(s"$stage/qta_in").count()
      val in = fileStream(s"$stage/qta_in", recs.schema)
      val q = graft.streaming.StreamingQuotaSample.start(
        in, s"$stage/qta_state", s"$stage/qta_ckpt")
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val state = graft.streaming.StreamingQuotaSample.state(spark, s"$stage/qta_state")
      report("quota_sample", n, sec,
        s""","state_rows":${state.count()},"state_bytes":${dirBytes(s"$stage/qta_state")}""")
      Caches.release(spark)
    }

    // ---- streaming anomaly: trailing z-score rings per event_type -----
    stream("anomaly") {
      // rate measurement only: file order does not reproduce the batch
      // query's (ts, event_id) delivery contract (StreamingSpec covers
      // parity; this main covers throughput and state size)
      val evs = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      evs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/anom_in")
      val n = spark.read.parquet(s"$stage/anom_in").count()
      val nKeys = spark.read.parquet(s"$stage/anom_in")
        .select(countDistinct(col("event_type"))).head().getLong(0)
      val in = fileStream(s"$stage/anom_in", evs.schema).as[RawEvent]
      val q = StreamingAnomaly.detect(in)
        .writeStream.format("parquet")
        .option("path", s"$stage/anom_out")
        .option("checkpointLocation", s"$stage/anom_ckpt")
        .outputMode("append").start()
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val outRows = spark.read.parquet(s"$stage/anom_out").count()
      // state = one ring of ZscoreWindow doubles per key — constant
      report("anomaly", n, sec,
        s""","anomalies":$outRows,"state_keys":$nKeys,""" +
          s""""state_doubles_per_key":${operators.AnalyticOps.ZscoreWindow}""")
    }
    // ---- streaming ewma: trailing integer smoothing rings per user ----
    stream("ewma") {
      // rate measurement only, like anomaly: StreamingSpec covers the
      // bit-parity contract under ordered delivery
      val evs = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      evs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/ewma_in")
      val n = spark.read.parquet(s"$stage/ewma_in").count()
      val nKeys = spark.read.parquet(s"$stage/ewma_in")
        .select(countDistinct(col("user_id"))).head().getLong(0)
      val in = fileStream(s"$stage/ewma_in", evs.schema).as[RawEvent]
      val q = graft.streaming.StreamingEwma.smooth(in)
        .writeStream.format("parquet")
        .option("path", s"$stage/ewma_out")
        .option("checkpointLocation", s"$stage/ewma_ckpt")
        .outputMode("append").start()
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val outRows = spark.read.parquet(s"$stage/ewma_out").count()
      require(outRows == n, s"ewma rows $outRows != streamed $n")
      // state = one ring of ≤ EwmaWindow longs per user — constant
      report("ewma", n, sec,
        s""","state_keys":$nKeys,""" +
          s""""state_longs_per_key":${operators.AnalyticOps.EwmaWindow}""")
    }
    // ---- streaming rolling median: robust twin of the ewma ring -------
    stream("rolling_median") {
      val evs = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      evs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/rmed_in")
      val n = spark.read.parquet(s"$stage/rmed_in").count()
      val nKeys = spark.read.parquet(s"$stage/rmed_in")
        .select(countDistinct(col("user_id"))).head().getLong(0)
      val in = fileStream(s"$stage/rmed_in", evs.schema).as[RawEvent]
      val q = graft.streaming.StreamingRollingMedian.smooth(in)
        .writeStream.format("parquet")
        .option("path", s"$stage/rmed_out")
        .option("checkpointLocation", s"$stage/rmed_ckpt")
        .outputMode("append").start()
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val outRows = spark.read.parquet(s"$stage/rmed_out").count()
      require(outRows == n, s"rolling median rows $outRows != streamed $n")
      report("rolling_median", n, sec,
        s""","state_keys":$nKeys,""" +
          s""""state_longs_per_key":${operators.AnalyticOps.RollMedianW}""")
    }
    // ---- streaming benford: nine longs of state TOTAL ------------------
    stream("benford") {
      val evs = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      evs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/benford_in")
      val n = spark.read.parquet(s"$stage/benford_in").count()
      val in = fileStream(s"$stage/benford_in", evs.schema).as[RawEvent]
      val q = graft.streaming.StreamingBenford.profile(in)
        .writeStream.format("memory").queryName("benford_bench")
        .option("checkpointLocation", s"$stage/benford_ckpt")
        .outputMode("update").start()
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      // update mode: final snapshot = per-digit max of the emitted counts
      val counted = spark.table("benford_bench")
        .groupBy(col("digit")).agg(max(col("n")).as("n"))
        .agg(sum(col("n"))).head().getLong(0)
      val inScope = spark.read.parquet(s"$stage/benford_in")
        .filter(col("value") > 0.0).count()
      require(counted == inScope, s"benford counted $counted != in-scope $inScope")
      report("benford", n, sec, s""","state_keys":9,"state_longs_per_key":1""")
    }
    // ---- streaming cusum: offline moments, two longs of state per type
    stream("cusum") {
      val moments = graft.streaming.StreamingCusum.offlineMoments(spark, sfDir)
      val evs = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      evs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/cusum_in")
      val n = spark.read.parquet(s"$stage/cusum_in").count()
      val in = fileStream(s"$stage/cusum_in", evs.schema).as[RawEvent]
      val q = graft.streaming.StreamingCusum.scan(in, moments)
        .writeStream.format("parquet")
        .option("path", s"$stage/cusum_out")
        .option("checkpointLocation", s"$stage/cusum_ckpt")
        .outputMode("append").start()
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val outRows = spark.read.parquet(s"$stage/cusum_out").count()
      require(outRows == n, s"cusum rows $outRows != streamed $n")
      report("cusum", n, sec,
        s""","state_keys":${moments.size},"state_longs_per_key":2""")
    }
    // ---- streaming decontamination: train docs vs the eval index ------
    stream("decontaminate") {
      val evalIdx = Caches.materialize(TextOps.evalShingleIndex(spark, sfDir))
      val train = TextOps.trainSplitDocs(spark, sfDir)
      train.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/decon_in")
      val n = spark.read.parquet(s"$stage/decon_in").count()
      val in = fileStream(s"$stage/decon_in", train.schema)
      val q = graft.streaming.StreamingDecontaminate.start(
        in, evalIdx, s"$stage/decon_ckpt", s"$stage/decon_out")
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val incidents = spark.read.parquet(s"$stage/decon_out").count()
      report("decontaminate", n, sec, s""","incidents":$incidents""")
      Caches.dropTransient(evalIdx, blocking = true)
      Caches.release(spark)
    }

    // ---- streaming image dedup: payloads vs the phash index -----------
    stream("image_dedup") {
      import graft.operators.MultimodalOps
      val mkDims = (id: Long) => (((id % 32) + 2).toInt, ((id % 24) + 2).toInt)
      val ids = Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
      val corpus = ids.filter(_ % 10 != 9).mapPartitions(_.map { id =>
        val (w, h) = mkDims(id)
        MultimodalOps.ImageBytes(id, MultimodalOps.synthPngPixels(w, h))
      })
      val index = Caches.materialize(MultimodalOps.phashIndex(corpus))
      val newImgs = ids.filter(_ % 10 == 9).mapPartitions(_.map { id =>
        val (w, h) = mkDims(id)
        MultimodalOps.ImageBytes(id, MultimodalOps.synthPngPixels(w, h))
      }).toDF()
      newImgs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/img_in")
      val n = spark.read.parquet(s"$stage/img_in").count()
      val in = fileStream(s"$stage/img_in", newImgs.schema)
      val q = graft.streaming.StreamingImageDedup.start(
        in, index, s"$stage/img_ckpt", s"$stage/img_out")
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      val out = spark.read.parquet(s"$stage/img_out")
      require(out.count() == n, "image verdicts incomplete")
      val dups = out.filter(!col("kept")).count()
      report("image_dedup", n, sec,
        s""","dups":$dups,"index_classes":${index.count()}""")
      Caches.dropTransient(index, blocking = true)
      Caches.release(spark)
    }

    // ---- streaming top-k: Misra-Gries heavy hitters, bounded state ----
    stream("topk") {
      val evs = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      evs.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/topk_in")
      val n = spark.read.parquet(s"$stage/topk_in").count()
      val shards = 4
      val capacity = 64
      val in = fileStream(s"$stage/topk_in", evs.schema).as[RawEvent]
      // Update-mode stateful op: parquet sinks are append-only, so each
      // micro-batch's summary rows land via foreachBatch (same
      // no-driver-collection rule as the other paths)
      val q = graft.streaming.StreamingTopK.track(in, shards, capacity)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingTopK.TopCand], _: Long) =>
          batch.write.mode("append").parquet(s"$stage/topk_out")
        }
        .option("checkpointLocation", s"$stage/topk_ckpt")
        .outputMode("update").start()
      val sec = timed { try q.processAllAvailable() finally q.stop() }
      // state = at most capacity (key, count) entries per shard — the
      // bound that distinguishes this from an exact streaming count
      report("topk", n, sec,
        s""","shards":$shards,"max_state_entries":${shards * capacity}""")
    }
    spark.stop()
  }
}
