package graftbench

import java.time.Instant
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchAccess, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Cumulative task-shape, work and cache counters fed by [[Trace]]'s
  * SparkListener. Read a [[Counters.snapshot]] before and after a unit of
  * work and subtract. */
final class Counters {
  var jobs, stages, tasks, emptyTasks, failedTasks = 0L
  var schedDelayMs, runMs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var persistedRdds, cacheReads = 0L
  var cachedBytes, cachedPeakBytes = 0L
  var actions = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def snapshot: Map[String, Long] = synchronized(Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "empty_tasks" -> emptyTasks, "failed_tasks" -> failedTasks,
    "sched_delay_ms" -> schedDelayMs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "persisted_rdds" -> persistedRdds, "cache_reads" -> cacheReads,
    "cached_peak_bytes" -> cachedPeakBytes, "actions" -> actions,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs))

  /** Start a new peak window for cached bytes (one per query key). */
  def resetCachePeak(): Unit = synchronized { cachedPeakBytes = cachedBytes }
}

/** In-memory span recorder plus the three public Spark listeners, all
  * owned by the benchmark. Disabled (the plain run), `span` just runs its
  * body and no listener is registered. Times are epoch nanoseconds so the
  * harness's own spans line up with the millisecond times Spark reports.
  *
  * A span is (id, name, start, end, parent, op). Names are
  * `<layer>:<call>`; Python assigns listener-made spans (parent -1) to the
  * innermost harness span that contains them and derives self times. */
object Trace {
  @volatile private var on = false
  private val spans = new JList[Array[Any]]()
  private var nextId = 0L
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var opId: Long = -1L
  val counters = new Counters
  /** Time spent in the listeners, span bookkeeping and bus drains. */
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong(0L)
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var session: SparkSession = _

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  private def charge[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private def record(name: String, startNs: Long, endNs: Long, parent: Long,
      op: Long): Long = spans.synchronized {
    nextId += 1
    spans.add(Array(nextId, name, startNs, endNs, parent, op))
    nextId
  }

  /** Time `body` as span `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val (id, parent, startNs) = charge {
        val p = stack.get().headOption.getOrElse(-1L)
        val id = spans.synchronized { nextId += 1; nextId }
        stack.set(id :: stack.get())
        (id, p, nowNs)
      }
      try body
      finally charge {
        val endNs = nowNs
        stack.set(stack.get().tail)
        spans.synchronized(spans.add(Array(id, name, startNs, endNs, parent, opId)))
      }
    }

  /** A span whose interval was measured elsewhere (epoch ms). */
  def external(name: String, startMs: Long, endMs: Long): Unit =
    record(name, startMs * 1000000L, endMs * 1000000L, -1L, -1L)

  /** Wait for the listener bus so counters cover every finished action. */
  def drain(): Unit =
    if (on) charge(BenchAccess.drainListenerBus(session.sparkContext))

  def start(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(new ExecListener)
    spark.listenerManager.register(new CatalystListener)
    spark.streams.addListener(new ProgressListener)
    on = true
  }

  def stop(): Unit = { drain(); on = false }

  def overheadMs: Double = overheadNs.get() / 1e6

  def spanList: JList[JList[Any]] = spans.synchronized {
    val out = new JList[JList[Any]]()
    spans.asScala.sortBy(_(0).asInstanceOf[Long]).foreach { s =>
      out.add(new JList[Any](s.toSeq.asJava))
    }
    out
  }

  /** exec: job spans and task-shape, work, memory and cache counters. */
  private final class ExecListener extends SparkListener {
    private val jobStarts = mutable.HashMap.empty[Int, Long]
    private val materialized = mutable.HashSet.empty[Int]
    private val blockBytes = mutable.HashMap.empty[RDDBlockId, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = charge {
      counters.synchronized { counters.jobs += 1 }
      jobStarts.synchronized(jobStarts(e.jobId) = e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = charge {
      jobStarts.synchronized(jobStarts.remove(e.jobId))
        .foreach(t0 => external("exec:job", t0, e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = charge {
      val info = e.stageInfo
      counters.synchronized {
        counters.stages += 1
        // a persisted RDD in a stage after the one that first computed it
        // is a read of that cache
        info.rddInfos.filter(_.storageLevel.isValid).foreach { r =>
          if (materialized.add(r.id)) counters.persistedRdds += 1
          else counters.cacheReads += 1
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charge {
      val m = e.taskMetrics
      val info = e.taskInfo
      counters.synchronized {
        counters.tasks += 1
        if (e.reason != Success) counters.failedTasks += 1
        if (m != null) {
          val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          val out = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
          if (in == 0 && out == 0) counters.emptyTasks += 1
          counters.runMs += m.executorRunTime
          counters.gcMs += m.jvmGCTime
          counters.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          counters.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          counters.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          // the web UI's scheduler delay: task wall time not spent running,
          // deserializing or serializing its result
          counters.schedDelayMs += math.max(0L, info.finishTime - info.launchTime -
            m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = charge {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case id: RDDBlockId => counters.synchronized {
          val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
          counters.cachedBytes += now - blockBytes.getOrElse(id, 0L)
          if (now == 0L) blockBytes.remove(id) else blockBytes(id) = now
          counters.cachedPeakBytes = math.max(counters.cachedPeakBytes, counters.cachedBytes)
        }
        case _ => ()
      }
    }
  }

  /** catalyst: analysis, optimization and planning of every action. */
  private final class CatalystListener extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = charge {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      counters.synchronized {
        counters.actions += 1
        counters.analysisMs += ms("analysis")
        counters.optimizationMs += ms("optimization")
        counters.planningMs += ms("planning")
      }
      ph.foreach { case (name, s) =>
        if (Set("analysis", "optimization", "planning")(name))
          external(s"catalyst:$name", s.startTimeMs, s.endTimeMs)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  /** streaming.ConsumerPipeline: one span per micro-batch. */
  private final class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = charge {
      val p = e.progress
      val start = Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      external("streaming.ConsumerPipeline:batch", start, start + dur)
    }
  }

  /** A progress record as plain values (used traced or not). */
  def progressRecord(p: StreamingQueryProgress): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    val start = Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    m.put("batch_id", p.batchId)
    m.put("start_ms", start)
    m.put("end_ms", start + d.getOrElse("triggerExecution", 0L))
    m.put("rows", p.numInputRows)
    val dm = new JMap[String, Any](); d.foreach { case (k, v) => dm.put(k, v) }
    m.put("duration_ms", dm)
    m.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
    m.put("state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
    val src = p.sources.headOption
    m.put("start_offsets", src.map(s => offsets(s.startOffset)).getOrElse(new JMap[String, Any]()))
    m.put("end_offsets", src.map(s => offsets(s.endOffset)).getOrElse(new JMap[String, Any]()))
    m.put("latest_offsets", src.map(s => offsets(s.latestOffset)).getOrElse(new JMap[String, Any]()))
    m
  }

  /** The topic source's offset JSON, {"0":123,"1":456}, as a map. */
  private def offsets(json: String): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    if (json != null) {
      val body = json.trim.stripPrefix("{").stripSuffix("}").trim
      if (body.nonEmpty) body.split(",").foreach { kv =>
        val Array(k, v) = kv.split(":").map(_.trim)
        m.put(k.stripPrefix("\"").stripSuffix("\""), v.toLong)
      }
    }
    m
  }
}
