package graft.api

import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Lifecycle management for query-internal caches.
  *
  * Several multi-stage queries (the MinHash/Jaccard family, the LSH
  * near-dup paths) eagerly persist intermediates they consume more than
  * once within one job. The returned DataFrame is lazy, so the query
  * builder cannot know when its caller is done with those blocks — in a
  * long-lived SparkSession they would otherwise accumulate across
  * invocations (ADVICE round 3: MEMORY_AND_DISK leak over repeated bench
  * runs).
  *
  * Two mechanisms, layered:
  *
  *  1. **Scoped release (round 9, the library-correct path)**: every
  *     `SparkEntry.queries` entry builds inside [[scoped]], each internal
  *     [[persist]] registers with the enclosing scope, and a
  *     [[QueryExecutionListener]] releases the scope's caches as soon as
  *     ANY action over the scope's result plan completes — so a
  *     long-lived session calling query functions as a library never
  *     accumulates blocks, with no harness cooperation required.
  *     Internal materializing actions ([[materialize]] during the build)
  *     cannot release anything because the scope's result plan is only
  *     recorded after the builder returns.
  *  2. **Global sweep ([[release]])**: the bench/verify harnesses still
  *     sweep between queries — a backstop for builders invoked directly
  *     (unit tests call operator functions without the SparkEntry
  *     wrapper) and for the timing-isolation GC discipline the bench
  *     needs anyway.
  *
  * Operators and streaming sinks never call `persist`, `cache`,
  * `unpersist` or `checkpoint` themselves: [[persist]], [[materialize]],
  * [[checkpoint]] and [[dropTransient]] are the library's only cache
  * calls, so how an intermediate is cached, filled, cut and dropped is
  * decided here, once.
  *
  * == Why one sweeper thread owns every unpersist (round 11) ==
  *
  * Two removal paths racing on the same RDD is what produced the
  * round-9/10 `Block rdd_N_M does not exist` failures: one path snapshots
  * the block list while the other's removal is still in flight inside the
  * BlockManager, and the loser's per-block remove finds the block gone
  * (Spark logs an executor-side ERROR even when the caller swallows the
  * exception, which is why round 10's NonFatal guards fixed the crash but
  * not the log tail, and why the in-flight stall still landed inside
  * timed bench windows). A lock around the *calls* cannot close that
  * window when any call is non-blocking — the removal outlives the lock.
  * So round 11 removes the concurrency itself: every unpersist in the
  * library (listener sweep, [[dropTransient]], [[release]]) executes ON a
  * single daemon sweeper thread and BLOCKS there until its block
  * removals complete. With one thread and blocking semantics, no removal
  * is ever in flight when the next begins; callers that don't need to
  * wait get asynchrony by enqueueing, not by overlapping removals. The
  * NonFatal guards remain as defense in depth (e.g. blocks evicted by
  * memory pressure between snapshot and removal), but the library no
  * longer creates the race it is guarding against.
  */
object Caches {

  /** The single thread that performs EVERY unpersist issued by this
    * library. Daemon so it never pins a shutting-down JVM. */
  private val sweeper = Executors.newSingleThreadExecutor(new ThreadFactory {
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-cache-sweeper")
      t.setDaemon(true)
      t
    }
  })

  @volatile private var sweeperThread: Thread = _

  /** Run `body` on the sweeper thread and wait for it. Re-entrant: a call
    * already on the sweeper runs inline (submitting and waiting from the
    * sweeper's own single thread would deadlock). */
  private def onSweeperAwait(body: => Unit): Unit =
    if (Thread.currentThread() eq sweeperThread) body
    else sweeper.submit(new Runnable {
      override def run(): Unit = { sweeperThread = Thread.currentThread(); body }
    }).get()

  /** Enqueue `body` on the sweeper thread without waiting. The caller
    * gets asynchrony; the removals themselves still serialize. */
  private def onSweeperAsync(body: => Unit): Unit =
    if (Thread.currentThread() eq sweeperThread) body
    else sweeper.execute(new Runnable {
      override def run(): Unit = { sweeperThread = Thread.currentThread(); body }
    })

  /** Blocking release of every cached plan and persisted RDD in the
    * session. `clearCache()` alone unpersists ASYNCHRONOUSLY — over 70+
    * queries in one JVM the departing blocks and GC debris land on
    * whichever queries run next (round-3 verdict: trivial queries
    * inflated 10-20×) — so sweep the RDD registry with blocking
    * unpersist as well, ON the sweeper thread so it cannot overlap any
    * listener-initiated removal. Order matters: the blocking per-RDD
    * unpersist runs FIRST (fully draining block storage), and
    * `clearCache()` runs after only to clear the CacheManager's
    * plan-keyed bookkeeping — its internally non-blocking removal
    * messages then target RDDs that no longer hold blocks, which the
    * BlockManager treats as a no-op instead of a racing removal. */
  def release(spark: SparkSession): Unit = {
    live.clear() // scope bookkeeping for anything the sweep is about to drop
    onSweeperAwait {
      spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
        try rdd.unpersist(blocking = true)
        catch { case NonFatal(_) => () }
      }
      try spark.catalog.clearCache()
      catch { case NonFatal(_) => () }
    }
  }

  /** Guarded unpersist for a TRANSIENT build-internal cache (one that
    * dies before the builder returns, so scope tracking would hold it
    * too long). The single audited drop path for operator builders — no
    * bare `.unpersist` calls in operator code. The removal itself is
    * always blocking ON the sweeper thread (serialization is what kills
    * the race); `blocking` only selects whether the CALLER waits for it —
    * pass `blocking = true` where the builder needs the memory back
    * before its next heavy stage (e.g. the CC fixpoint loop). */
  def dropTransient(df: DataFrame, blocking: Boolean = false): Unit = {
    def drop(): Unit =
      try df.unpersist(blocking = true)
      catch { case NonFatal(_) => () }
    if (blocking) onSweeperAwait(drop()) else onSweeperAsync(drop())
  }

  /** One query's registered caches + (once built) its result plan, owned
    * by the session that built it: a sweep triggered by ANOTHER
    * session's action must not release it, else two sessions running the
    * same query (sameResult plans) would sweep each other's scopes on
    * whichever action finishes first. Block STORAGE isolation is out of
    * scope — Spark's CacheManager is plan-keyed and context-global, so
    * identical plans share one cache entry regardless; the owner check
    * guarantees each scope's bookkeeping releases exactly on its own
    * session's terminal action (no premature removal, no scope leak),
    * and a scope whose shared blocks were already dropped simply
    * no-ops its unpersist. */
  private final class Scope(val session: SparkSession) {
    /** One blocking unpersist per registered cache or checkpoint. */
    val drops = mutable.ArrayBuffer.empty[() => Unit]
    @volatile var resultPlan: LogicalPlan = _
  }

  /** Innermost scope currently BUILDING on this thread (builders are
    * synchronous, so a thread-local stack is the whole story). */
  private val building = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Built scopes awaiting their terminal action. */
  private val live = ConcurrentHashMap.newKeySet[Scope]()

  /** Sessions that already carry the release listener (weak keys — the
    * registry must not pin a stopped session in a JVM that recreates
    * sessions, e.g. long test runs). */
  private val registered = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Persist `df` and register it with the enclosing [[scoped]] build
    * (no registration outside one — direct operator calls keep the old
    * harness-swept behavior). Lazy: the first action over `df` fills the
    * cache, for builders whose next action reads `df` anyway. Use as
    * `Caches.persist(df)` or `df.transform(Caches.persist)`. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    building.get().headOption.foreach(_.drops += (() => df.unpersist(blocking = true)))
    df
  }

  /** [[persist]] `df` and fill the cache now with one `count()` job, so
    * every later consumer reads blocks, not the lineage. */
  def materialize(df: DataFrame): DataFrame = {
    persist(df).count()
    df
  }

  /** Eager lineage cut for iterative builders: a reliable checkpoint when
    * the session has a checkpoint dir (cluster deployments),
    * executor-local otherwise (single JVM / no dir configured). The
    * checkpoint's blocks register with the enclosing [[scoped]] build
    * like a [[persist]], so its release drops them; outside a scope the
    * harness [[release]] sweep does. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cut =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint(true)
    val rdds = cut.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    building.get().headOption.foreach(
      _.drops += (() => rdds.foreach(_.unpersist(blocking = true))))
    cut
  }

  /** Run `build`, collecting every [[persist]] and [[checkpoint]] into a
    * scope that auto-releases when an action over the returned plan
    * completes.
    *
    * CONTRACT — one terminal action: the scope releases as soon as the
    * FIRST action whose plan contains the scope's result plan completes
    * (a `count()` wraps the result in an Aggregate, so the match must be
    * containment, not root-only). A caller running a second action on the
    * returned DataFrame still gets correct results — the plan is lazy and
    * simply recomputes without the internal caches — except past a
    * [[checkpoint]]: a released local checkpoint has no lineage left to
    * recompute from, so a second action over such a result fails loudly
    * (Spark's "Checkpoint block ... not found"). Callers that need
    * repeated actions at cached speed should `.persist()` the returned
    * DataFrame themselves (their persist, their lifecycle) — exactly what
    * the bench/verify harnesses' per-query single-action pattern avoids
    * needing. */
  def scoped(spark: SparkSession)(build: => DataFrame): DataFrame = {
    ensureListener(spark)
    val scope = new Scope(spark)
    building.set(scope :: building.get())
    val df =
      try build
      finally building.set(building.get().tail)
    if (scope.drops.nonEmpty) {
      // recorded AFTER the build: internal cache.count() materializations
      // during the build can never match (resultPlan is still null)
      scope.resultPlan = df.queryExecution.analyzed
      live.add(scope)
    }
    df
  }

  /** Listener delivery is async (ExecutionListenerBus) — callers that
    * assert on cache state right after an action should spin briefly. */
  private[graft] def pendingScopes: Int = live.size()

  /** Wait until every removal enqueued so far has fully completed —
    * the sweeper is single-threaded, so an awaited no-op barrier proves
    * the queue ahead of it has drained. Test/diagnostic hook. */
  private[graft] def drainSweeper(): Unit = onSweeperAwait(())

  private def ensureListener(spark: SparkSession): Unit =
    if (registered.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = sweep(qe)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = sweep(qe)
      })
    }

  /** Release every live scope whose result plan is contained in the
    * completed action's plan. Identity check first (actions on the very
    * DataFrame the builder returned reuse its plan subtree by reference);
    * `sameResult` covers analyzer rewrites (e.g. self-join exprId
    * deduplication). Scope matching runs here on the listener bus (cheap
    * plan comparison); the unpersists are handed to the sweeper thread so
    * the bus is never blocked and the removals serialize with every other
    * removal in the library. The registry entry is removed synchronously
    * either way. */
  private def sweep(qe: QueryExecution): Unit = {
    val it = live.iterator()
    while (it.hasNext) {
      val scope = it.next()
      val rp = scope.resultPlan
      // Same-session only: two sessions running the same query build
      // sameResult plans, and a cross-session match would release the
      // OTHER session's still-needed caches mid-flight. Then identity
      // first; the sameResult fallback is gated on the node CLASS so the
      // canonicalization cost is paid only for the handful of candidate
      // nodes, not every node of every completed action.
      if ((scope.session eq qe.sparkSession) && rp != null &&
          qe.analyzed.exists(n =>
            (n eq rp) || (n.getClass == rp.getClass && n.sameResult(rp)))) {
        it.remove()
        val toDrop = scope.drops.toList
        onSweeperAsync {
          toDrop.foreach { drop =>
            try drop()
            catch { case NonFatal(_) => () }
          }
        }
      }
    }
  }
}
