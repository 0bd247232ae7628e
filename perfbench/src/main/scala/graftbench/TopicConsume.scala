package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{ArrayList => JList}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{EventSource, GraftTopicLog}
import graft.streaming.ConsumerPipeline
import graftbench.Main.{jlist, jmap}

/** topic_consume: the write path. Events are appended to a GraftTopicLog,
  * read by one consumer-group member (`EventSource.streamTopic`), decoded
  * (`parseTopicEvents`) and consumed by `ConsumerPipeline.start` (uuid
  * dedup state, ok/dlq parquet split per micro-batch).
  *
  * Phase 1 drains a preloaded backlog. Phase 2 is open loop: one generator
  * thread appends at a fixed rate for `seconds`, in `ts` order, whatever
  * the consumer does. Each live event's scheduled append time and its end
  * byte offset in its partition are recorded; run.py pairs them with the
  * micro-batches' end offsets to get each event's latency. */
class TopicConsume(spark: SparkSession, plan: Main.Plan, result: Main.Result) extends Workload {
  private val Topic = "events"
  private val Partitions = graft.model.Tables.DefaultPartitionCount
  private val work = plan.str("work_dir")

  /** (key, tsMicros, value JSON, is an expected quarantine) in ts order. */
  private lazy val records: Array[(String, Long, String, Boolean)] = {
    val df = graft.model.Tables.events(spark, plan.str("data_dir")).orderBy("ts", "event_id")
    df.collect().map { r =>
      val ts = r.getTimestamp(1)
      val micros = ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
      val iso = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .format(ts.toInstant.atOffset(java.time.ZoneOffset.UTC))
      val json = s"""{"event_id":${r.getLong(0)},"ts":"$iso","user_id":${r.getLong(2)},""" +
        s""""event_type":"${r.getString(3)}","value":${r.getDouble(4)},""" +
        s""""props":"${r.getString(5).replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
      (r.getLong(2).toString, micros, json, r.getString(3) == "error" || r.getDouble(4) < 0)
    }
  }

  private def lineBytes(r: (String, Long, String, Boolean)): Long =
    s"${r._1}\t${r._2}\t${r._3}\n".getBytes(UTF_8).length.toLong

  private def start(dir: String, name: String): StreamingQuery = {
    val src = EventSource.streamTopic(spark, s"$dir/log", Topic,
      maxBytesPerTrigger = Some(plan.long("max_bytes_per_trigger")),
      group = Some(("perfbench", "member-0")))
    ConsumerPipeline.start(EventSource.parseTopicEvents(src),
      s"$dir/ok", s"$dir/dlq", s"$dir/checkpoint", service = name)
  }

  private def endOffsets(q: StreamingQuery): java.util.Map[String, Any] =
    Option(q.lastProgress).map(Trace.progressRecord(_).get("end_offsets")
      .asInstanceOf[java.util.Map[String, Any]]).getOrElse(java.util.Map.of())

  /** Block until the query has committed every byte in `target`. */
  private def awaitOffsets(q: StreamingQuery, target: Map[Int, Long], timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    def done = {
      val e = endOffsets(q)
      target.forall { case (p, off) =>
        off == 0L || e.getOrDefault(p.toString, 0L).asInstanceOf[Long] >= off }
    }
    while (!done && System.nanoTime() < deadline && q.isActive) Thread.sleep(5)
    done
  }

  /** Why the query stopped, if it failed. */
  private def failure(q: StreamingQuery): String =
    q.exception.map(e => String.valueOf(e.getMessage).take(2000)).getOrElse("")

  private def fileEnds(dir: String): Map[Int, Long] =
    (0 until Partitions).map { p =>
      val f = GraftTopicLog.partitionFile(s"$dir/log", Topic, p)
      p -> (if (f.exists()) f.length() else 0L)
    }.toMap

  private def append(dir: String, recs: Seq[(String, Long, String, Boolean)]): Unit =
    Trace.span("sources.GraftTopicSource:append")(
      GraftTopicLog.append(s"$dir/log", Topic, recs.map(r => (r._1, r._2, r._3))))

  def warmUp(): Unit = {
    val dir = s"$work/warm"
    append(dir, records.take(plan.int("warm_events")).toSeq)
    val q = start(dir, "perfbench-warm")
    try awaitOffsets(q, fileEnds(dir), 120)
    finally q.stop()
  }

  def measure(): Unit = {
    val dir = s"$work/topic"
    val backlogN = plan.int("backlog_events")
    val rate = plan.dbl("rate_eps")
    val seconds = plan.dbl("seconds")
    val chunkMs = plan.long("chunk_ms")
    val backlog = records.take(backlogN)
    backlog.grouped(1000).foreach(c => append(dir, c.toSeq))
    val backlogEnds = fileEnds(dir)

    val q = start(dir, "perfbench-consumer")
    result.check("backlog drained", awaitOffsets(q, backlogEnds, 120), failure(q))

    // open loop: event i is due at liveStart + i / rate, appended by the
    // first chunk tick at or after that time
    val live = records.drop(backlogN)
    val lengths = scala.collection.mutable.Map(backlogEnds.toSeq: _*)
    val events = new JList[JList[Any]]() // [scheduled ms, partition, end offset]
    val lateness = new JList[Double]()  // per chunk: append time - due time of its last event
    val t0Ns = System.nanoTime()
    val liveStartMs = System.currentTimeMillis()
    val gen = new Thread(() => {
      var sent = 0
      var tick = 1L
      val total = math.min(live.length, (rate * seconds).toInt)
      while (sent < total) {
        val tickNs = t0Ns + tick * chunkMs * 1000000L
        val sleepNs = tickNs - System.nanoTime()
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
        val dueBy = math.min(total, ((System.nanoTime() - t0Ns) / 1e9 * rate).toInt)
        if (dueBy > sent) {
          val chunk = live.slice(sent, dueBy)
          append(dir, chunk.toSeq)
          val appendedNs = System.nanoTime()
          chunk.zipWithIndex.foreach { case (r, j) =>
            val p = GraftTopicLog.partitionFor(r._1, Partitions)
            lengths(p) = lengths(p) + lineBytes(r)
            events.add(jlist(Seq[Any](liveStartMs + (sent + j) / rate * 1000.0, p, lengths(p))))
          }
          lateness.add((appendedNs - t0Ns) / 1e6 - (dueBy - 1) / rate * 1000.0)
          sent = dueBy
        }
        tick += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    result.check("live events consumed", awaitOffsets(q, lengths.toMap, 60), failure(q))
    q.stop()

    val appended = backlog.length + events.size
    result.attempted += appended
    val batches = q.recentProgress.map(Trace.progressRecord).toSeq
    result.put("topic", jmap(
      "backlog_events" -> backlog.length,
      "backlog_ends" -> jmap(backlogEnds.toSeq.map { case (p, o) => p.toString -> o }: _*),
      "backlog_bytes" -> backlogEnds.values.sum,
      "live_start_ms" -> liveStartMs,
      "rate_eps" -> rate,
      "events" -> events,
      "lateness_ms" -> lateness,
      "batches" -> jlist(batches),
      "appended" -> appended,
      "expected_dlq" -> (backlog ++ live.take(events.size)).count(_._4),
      "ok_path" -> s"$dir/ok",
      "dlq_path" -> s"$dir/dlq"))
  }

  def finish(): Unit = ()
}
