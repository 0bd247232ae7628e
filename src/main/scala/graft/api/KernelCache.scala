package graft.api

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped shared-kernel cache (round-14 verdict item 5).
  *
  * The dedup-diagnostic family (`minhash_est_error`,
  * `dedup_method_agreement`, `minhash_containment`,
  * `dedup_threshold_sweep`, `ngram_jaccard`) rebuilds the IDENTICAL
  * per-document shingle-set + MinHash-signature kernel per query — each
  * query must be self-contained, so at the 10× replica
  * the five queries each pay ~20 s rebuilding the same tables. A real
  * deployment running the diagnostic SUITE in one session shouldn't:
  * the kernel result is a pure function of (corpus, grid constants), so
  * sharing it across queries is bit-neutral by construction.
  *
  * Flag-gated (`spark.graft.kernel.sessionCache`, default OFF — the
  * oracle gate and every official artifact run the self-contained
  * default). When ON, [[getOrBuild]] materializes the kernel ONCE to a
  * cluster-visible parquet directory and later calls read it back —
  * parquet, not `.persist()`, deliberately: the harnesses sweep every
  * persisted RDD between queries (`Caches.release`), and a kernel that
  * must survive that sweep belongs in storage, which is also exactly
  * the shape a 100 TB deployment uses (checkpoint the shingle kernel to
  * the lake, fan the diagnostic suite out over it). Parquet round-trips
  * the kernel's types (long ids, hex-string pieces, counts) exactly, so
  * cached and rebuilt kernels are bit-identical — KernelCacheSpec pins
  * output parity per consumer query.
  *
  * Keys are (applicationId, logical key): a new application never sees
  * a previous one's files; entries live until [[clear]] or JVM exit.
  *
  * The materialization directory must be visible to every executor, so
  * it is resolved through the SESSION, not the driver's local tmpfs:
  * `spark.graft.kernel.cacheDir` when set (point it at the lake on a
  * real cluster), else `<spark.sql.warehouse.dir>/_graft_kernel` — the
  * warehouse dir is the one path Spark already requires to be
  * cluster-visible for managed tables, so the default inherits whatever
  * storage the deployment configured (local-mode default: a local
  * `spark-warehouse` dir, same behavior as before). All I/O goes through
  * the DataFrame reader/writer, i.e. the Hadoop filesystem of the path's
  * scheme. */
object KernelCache {

  val EnabledKey = "spark.graft.kernel.sessionCache"
  /** Cluster-visible root for materialized kernels; defaults under the
    * session's warehouse dir (see object doc). */
  val CacheDirKey = "spark.graft.kernel.cacheDir"

  /** One in-flight-or-done build per key. `path`/`error` publish the
    * outcome; `done` releases waiters; `owner` is the building thread
    * (for the same-key re-entry check). */
  private final class Slot {
    @volatile var path: String = null
    @volatile var error: Throwable = null
    @volatile var owner: Thread = null
    val done = new java.util.concurrent.CountDownLatch(1)
  }

  private val slots = new ConcurrentHashMap[String, Slot]()
  private val dirSeq = new AtomicLong(0)
  private val hitCounter = new AtomicLong(0)
  private val missCounter = new AtomicLong(0)

  private def cacheRoot(spark: SparkSession): String = {
    val explicit = GraftConfig.get(spark, CacheDirKey, "").trim
    if (explicit.nonEmpty) explicit.stripSuffix("/")
    else spark.sessionState.conf.warehousePath.stripSuffix("/") + "/_graft_kernel"
  }

  def enabled(spark: SparkSession): Boolean =
    GraftConfig.get(spark, EnabledKey, "false").trim.equalsIgnoreCase("true")

  /** `build` when the cache is off; the parquet-materialized kernel when
    * on. The build runs at most once per (application, key).
    *
    * Locking is PER KEY (a [[Slot]] claimed via `putIfAbsent`), not a
    * global monitor: unrelated kernel builds in concurrent sessions run
    * in parallel instead of serializing end-to-end behind one lock held
    * across a full Spark job, and a build that nests another
    * [[getOrBuild]] (the contaminated-docs kernel builds FROM the
    * windows kernel — the r17 `computeIfAbsent` recursion trap) just
    * claims a SECOND slot with no lock held across the pair, so nesting
    * can never deadlock. The one cycle that would self-deadlock — a key
    * whose build re-enters the SAME key on the SAME thread — means the
    * kernel depends on its own result (a bug in the kernel definition),
    * and the thread-owner check fails loud instead of hanging. A failed
    * build removes its slot and wakes waiters, who retry (one of them
    * becomes the next builder); the failing call itself rethrows. */
  def getOrBuild(spark: SparkSession, key: String,
      build: => DataFrame): DataFrame = {
    if (!enabled(spark)) return build
    val fullKey = spark.sparkContext.applicationId + "\u0000" + key
    var path: String = null
    while (path == null) {
      val fresh = new Slot
      val existing = slots.putIfAbsent(fullKey, fresh)
      if (existing == null) {
        fresh.owner = Thread.currentThread()
        missCounter.incrementAndGet()
        try {
          val dir = s"${cacheRoot(spark)}/${spark.sparkContext.applicationId}/" +
            s"${Integer.toHexString(fullKey.hashCode)}_${dirSeq.getAndIncrement()}"
          build.write.mode("overwrite").parquet(dir)
          fresh.path = dir
        } catch {
          case t: Throwable =>
            fresh.error = t
            slots.remove(fullKey, fresh)
            throw t
        } finally fresh.done.countDown()
        path = fresh.path
      } else {
        if ((existing.owner eq Thread.currentThread()) &&
            existing.path == null && existing.error == null) {
          throw new IllegalStateException(
            s"KernelCache: re-entrant build of key '$key' on its own " +
              "thread — the kernel's build depends on its own result")
        }
        existing.done.await()
        path = existing.path
        // null here means the builder failed and removed the slot —
        // loop and retry (this thread may become the next builder)
      }
    }
    // a fresh read per caller: downstream persist/track lifecycles stay
    // per-query exactly as before, only the BUILD is shared
    hitCounter.incrementAndGet()
    spark.read.parquet(path)
  }

  /** Hits observed so far (a hit includes the building call's own read
    * — parity specs assert hits grew across queries). */
  private[graft] def hits: Long = hitCounter.get()
  private[graft] def misses: Long = missCounter.get()

  /** Drop every entry (files stay on disk under the cache root; the
    * next getOrBuild rebuilds). Test/lifecycle hook. */
  private[graft] def clear(): Unit = slots.clear()
}
