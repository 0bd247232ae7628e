package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Canonical data model + loaders for the driver-generated tables
  * (`TESTDATA.md`, `FIXTURES.md`).
  *
  * The reference's single data abstraction is an event: a schemaless JSON
  * payload plus a fixed metadata envelope (reference
  * `lib/hivent/models/event.ex:27-33`). The driver's `events` table is the
  * concrete stand-in: `event_type` ↔ `meta.name`, `ts` ↔ `meta.created_at`,
  * `user_id` ↔ the partition `key`, `props` ↔ the schemaless payload.
  */
object Tables {

  /** All driver tables, one parquet file each under `sfDir`. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every table read goes through here, so this is where the
    * session gets its AQE guard ([[graft.api.AqeGuards]]): any operator
    * that reads a table — through `SparkEntry`, a harness or a direct
    * library call — runs with the guard installed. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    graft.api.AqeGuards(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark rejects by
    * default. Read it as long nanos (legacy conf) and truncate to
    * microsecond timestamps — exactly what DuckDB does when it reads the
    * same file, so oracle parity holds.
    *
    * SIDE EFFECT (deliberate): this sets the session conf
    * `spark.sql.legacy.parquet.nanosAsLong` and leaves it set — the flag
    * must still be active when the lazily-planned scan executes, so a
    * set/restore around the read would break execution. Any later nanos
    * parquet read in the same session will therefore yield long columns
    * instead of an error; the schema match below handles both layouts.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    val tsCol = raw.schema("ts").dataType match {
      // driver data: TIMESTAMP(NANOS) read as long via the legacy conf
      case LongType => org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
      // DuckDB-written replicas: parquet µs with isAdjustedToUTC=false
      // reads as TIMESTAMP_NTZ, which unix_micros/window ops reject —
      // reinterpret the naive value as UTC (the session timezone every
      // engine session pins), same instant DuckDB reads back
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        org.apache.spark.sql.functions.col("ts").cast("timestamp")
      // engine-written data: already microsecond timestamps
      case _ => org.apache.spark.sql.functions.col("ts")
    }
    raw.withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")

  /** Minimum table rows before [[fanned]] bothers (overridable via
    * `spark.graft.fanout.minRows`): below this the whole map pipeline is
    * sub-second on one core and the fan-out's exchange + task overhead
    * costs more than it parallelizes — the same adaptivity argument as
    * the CC local-union-find ceiling (pick the physical strategy AFTER
    * the size is known). Measured on this class of box: fanning a
    * 5k-row corpus REGRESSED the suite (+15 s of 32-tiny-task stages
    * across the MinHash family) while fanning the 50k-row 10× replica
    * cut its heavy keys 3–6×. */
  private val FanMinRowsDefault = 20000L

  /** Target rows per fanned slice — bounds the partition count so a
    * just-over-threshold table gets a few well-filled slices, not
    * `defaultParallelism` near-empty ones. */
  private val FanRowsPerSlice = 500L

  /** What [[fanned]] knows about one version of a table: the exact row
    * count from the parquet footers and, once planned, the scan's
    * partition count. */
  private final class ScanStats(val rows: Long) {
    @volatile var partitions: Int = -1
  }

  /** Scan plannings [[fanned]] has paid (each one builds the scan's
    * physical plan and RDD); the spec reads it to check the memo. */
  private[graft] val scanPlans = new java.util.concurrent.atomic.AtomicLong()

  /** The parquet files of the table at `path` and its VERSION KEY
    * (path, total file length, newest file mtime) — one driver-side
    * listing, no Spark job. Handles both single-file tables (as DuckDB
    * writes them) and Spark-written dataset directories. A table
    * rewritten at the same path — a regenerated replica, a test's temp
    * dir — lists different file stats and so gets a new key. */
  private def listVersion(spark: SparkSession, path: String)
      : (Seq[org.apache.hadoop.fs.FileStatus], (String, Long, Long)) = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    val status = fs.getFileStatus(fsPath)
    val files =
      if (status.isDirectory)
        fs.listStatus(fsPath).filter(s => s.isFile &&
          s.getPath.getName.endsWith(".parquet")).toSeq
      else Seq(status)
    (files, (path, files.map(_.getLen).sum,
      files.map(_.getModificationTime).foldLeft(0L)(math.max)))
  }

  /** Version key of table `name` under `sfDir`, as a file-name-safe
    * `<total length>_<newest mtime>` tag: caches derived from the table
    * key on it (with the path) so a rewrite invalidates them. */
  private[graft] def versionTag(spark: SparkSession, sfDir: String, name: String): String = {
    val (_, (_, len, mtime)) = listVersion(spark, s"$sfDir/$name.parquet")
    s"${len}_$mtime"
  }

  /** Exact row count from the parquet FOOTERS (driver-side metadata
    * read, no Spark job), memoized per table version: an unchanged
    * table costs one file listing per call. */
  private val rowCountCache = new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), ScanStats]()
  private def scanStats(spark: SparkSession, path: String): ScanStats =
    try {
      val (files, key) = listVersion(spark, path)
      rowCountCache.computeIfAbsent(key, { _ =>
        val conf = spark.sessionState.newHadoopConf()
        var total = 0L
        files.foreach { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
          try total += reader.getRecordCount
          finally reader.close()
        }
        new ScanStats(total)
      })
    } catch { case scala.util.control.NonFatal(_) => new ScanStats(0L) }

  /** Adaptive post-scan fan-out for CPU-heavy per-row pipelines (r19
    * optimization round, guide §2.5 "one huge unsplittable file →
    * repartition immediately after the read").
    *
    * The driver tables are written by DuckDB as a SINGLE parquet row
    * group each (50k documents ≈ 0.9 MB compressed), and a parquet row
    * group is readable by exactly one task — byte-range splitting,
    * `maxPartitionBytes`, `minPartitionNum` and `openCostInBytes` cannot
    * break it up. Every expensive map pipeline over documents/embeddings
    * (normalize → shingle explode → seeded md5s; 64-dim dot products per
    * codebook) was therefore running on ONE core at ANY core count —
    * measured at 10× sf0.1: the shingle+signature pipeline held 1
    * partition and 32 cores ran it no faster than 8 (the k_core/
    * jaccard_band_histogram inverse-scaling pathology in
    * BENCH_r19_sf1_prefan_c{32,8}.json).
    *
    * The fan-out is SIZE-ADAPTIVE twice over, never a local[32]
    * constant: it only engages above [[FanMinRowsDefault]] rows (footer
    * metadata, no job — below that, task overhead provably beats the
    * parallelism on this workload), targets
    * min(defaultParallelism, rows/[[FanRowsPerSlice]]) so the partition
    * count scales with BOTH the cluster and the data, and skips
    * entirely when the scan already has at least half that many
    * partitions — on a real multi-file 100 TB table it is a provable
    * no-op. Round-robin repartition is retry-deterministic (Spark's
    * sort-before-repartition, on by default) and every consumer is
    * partitioning-insensitive (hash-keyed aggregates/joins; sampling is
    * md5-seeded, never rand()), so results are bit-identical — the
    * oracle gate re-proved all 293 after this change.
    *
    * The scan's partition count is planned once per table version and
    * kept next to its row count: it follows from the file layout and
    * the session's split settings, which the library never changes.
    * Count-only consumers read the plain [[load]]: a row count needs no
    * fan-out, and would pay its exchange for nothing. */
  def fanned(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val stats = scanStats(spark, s"$sfDir/$name.parquet")
    val minRows = graft.api.GraftConfig.getLong(spark,
      "spark.graft.fanout.minRows", FanMinRowsDefault)
    if (stats.rows < math.max(1L, minRows)) return df
    val target = math.min(spark.sparkContext.defaultParallelism.toLong,
      stats.rows / FanRowsPerSlice).toInt
    if (stats.partitions < 0) {
      scanPlans.incrementAndGet()
      stats.partitions = df.rdd.getNumPartitions
    }
    if (target > stats.partitions * 2) df.repartition(target) else df
  }

  /** The `documents` table through [[fanned]]: the corpus operators'
    * tokenize, shingle, md5 and regexp map work would otherwise run on
    * the one task of a single-row-group scan. */
  def fannedDocuments(spark: SparkSession, sfDir: String): DataFrame =
    fanned(spark, sfDir, "documents")

  /** Typed event-envelope model (reference `lib/hivent/models/event.ex:27-33`).
    * `payload` stays a JSON string: a fixed StructType would betray the
    * reference's schemaless contract (SURVEY.md §1.3).
    */
  case class Meta(
      name: String,
      producer: String,
      version: Int,
      cid: String,
      uuid: String,
      created_at: java.sql.Timestamp,
      key: String)

  case class Event(meta: Meta, payload: String)

  /** Default server-side partition count (reference `config/config.exs:8`). */
  val DefaultPartitionCount = 4
}
