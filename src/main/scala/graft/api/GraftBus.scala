package graft.api

import java.time.Instant
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Tables.{Event, Meta}

/** Result of a request-reply exchange (reference
  * `lib/hivent/phoenix/channel_client.ex:196-224`): the reply payload's
  * `status` field selects ok/error; no reply within the timeout is
  * [[ReplyTimeout]]. */
sealed trait ReplyResult
case class ReplyOk(response: String) extends ReplyResult
case class ReplyError(response: String) extends ReplyResult
case object ReplyTimeout extends ReplyResult

/** Migration facade for reference users: the public surface of
  * hivent/ex-hivent (`Hivent.emit`, `Hivent.Consumer`, `Hivent.Memory` —
  * reference `lib/hivent.ex:27`, `lib/hivent/consumer.ex:25`,
  * `lib/support/memory.ex:101-142`), re-expressed over the engine's Spark
  * operators so every query a reference user runs today has a direct
  * equivalent here.
  *
  * This is the *test/interactive* backend (the analog of the reference's
  * in-memory store): events buffer on the driver and materialize as a
  * Dataset on demand. Production streams use
  * [[graft.streaming.ConsumerPipeline]] — same semantics, checkpointed.
  *
  * Fidelity notes:
  * - `version` must be an integer — enforced by the type system here,
  *   mirroring the reference's `is_integer` guard (`emitter.ex:64`).
  * - enrichment stamps producer/uuid/created_at/cid at ingest
  *   (`memory.ex:81-97`); cid falls back to a fresh uuid like
  *   `cid || UUID.uuid4`.
  * - `include` implements the DOCUMENTED partial-match semantics (payload
  *   AND meta submap), not the reference's vacuously-true payload
  *   `match?` bug (SURVEY.md §2.1 #15).
  */
class GraftBus(spark: SparkSession, clientId: String = "graft",
    partitionCount: Int = 4) {

  // one lock guards both collections so clear() is atomic w.r.t. consume()
  private val lock = new Object
  private val buffer = mutable.ArrayBuffer.empty[Event]
  private val quarantined = mutable.ArrayBuffer.empty[(Event, String)]

  /** Emit with enrichment + synchronous "ack" (returns the published
    * event, like `Emitter.emit` — reference `emitter.ex:63-68,96-100`). */
  def emit(name: String, payload: String, version: Int,
      cid: Option[String] = None, key: Option[String] = None): Event = {
    val uuid = UUID.randomUUID().toString.replace("-", "")
    val event = Event(
      Meta(name = name, producer = clientId, version = version,
        cid = cid.getOrElse(UUID.randomUUID().toString.replace("-", "")),
        uuid = uuid,
        created_at = java.sql.Timestamp.from(Instant.now()),
        key = key.orNull),
      payload)
    lock.synchronized { buffer += event }
    event
  }

  /** The store as a DataFrame (meta struct + payload string + derived
    * partition), in insertion order via a monotonic seq column. The frame
    * is a snapshot: events emitted after the call are not in it.
    *
    * The rows are plain [[Row]]s over a schema computed once in the
    * companion, so a call pays no encoder construction, and the frame is a
    * `LocalRelation` the optimizer can fold filters and limits into. */
  def toDF: DataFrame = {
    val events = lock.synchronized { buffer.toVector }
    val rows = new java.util.ArrayList[Row](events.size)
    events.iterator.zipWithIndex.foreach { case (e, i) =>
      val m = e.meta
      rows.add(Row(i.toLong, Row(Row(m.name, m.producer, m.version, m.cid,
        m.uuid, m.created_at, m.key), e.payload)))
    }
    spark.createDataFrame(rows, GraftBus.StoreSchema)
      .select(col("seq"), col("event.meta").as("meta"),
        col("event.payload").as("payload"))
      .withColumn("partition",
        pmod(hash(coalesce(col("meta.key"), col("meta.uuid"))), lit(partitionCount)))
  }

  // ------------------------------------------------- Memory store queries
  /** `Memory.all` — full scan in insertion order (`memory.ex:62-64`). */
  def all(): Seq[Event] = lock.synchronized { buffer.toVector }

  /** `Memory.last` (`memory.ex:58-60`). */
  def last(): Option[Event] = lock.synchronized { buffer.lastOption }

  /** `Memory.empty?` (`memory.ex:133`). */
  def isEmpty: Boolean = lock.synchronized { buffer.isEmpty }

  /** `Memory.clear` (`memory.ex:54-56`). */
  def clear(): Unit = lock.synchronized {
    buffer.clear()
    quarantined.clear()
  }

  /** `Memory.include?` — partial match on payload and/or meta
    * (documented semantics). Predicates are Spark Columns over the store
    * schema (`meta.*`, `payload`), so the same JSON-path predicates used
    * in the oracle-checked `include_match` query apply here.
    *
    * When Catalyst can evaluate `pred` on the driver (no Python UDF, no
    * subquery), the filter folds into the store's `LocalRelation` and the
    * answer needs no Spark job. */
  def include(pred: Column): Boolean =
    !toDF.filter(pred).isEmpty

  // ------------------------------------------------------------ consumer
  /** Batch consumer: the reference's per-event `process` contract
    * (`consumer.ex:25,68-81`) over everything currently in the store for
    * a topic. `Left(reason)` quarantines the event with its queue name;
    * `Right(())` acks. Returns (ok, quarantined) counts. */
  def consume(topic: String)(process: Event => Either[String, Unit]): (Long, Long) = {
    val events = lock.synchronized { buffer.toVector }
      .filter(_.meta.name == topic)
    var ok = 0L
    var bad = 0L
    events.foreach { e =>
      process(e) match {
        case Right(_) => ok += 1
        case Left(_) =>
          lock.synchronized { quarantined += ((e, s"event:$topic")) }
          bad += 1
      }
    }
    (ok, bad)
  }

  /** The dead-letter queue with source-queue tags (`consumer.ex:98-100`). */
  def deadLetters(): Seq[(Event, String)] =
    lock.synchronized { quarantined.toVector }

  // ------------------------------------------------------- request-reply
  /** Monotonic reply-correlation refs (`channel_client.ex:341-345` —
    * `:make_ref` per push). */
  private val refCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Waiters keyed by ref: the engine's rendition of the reference's
    * per-ref reply subscription (`channel_client.ex:199-216` — subscribe
    * a matcher on (topic, reply-event, ref), push, block with timeout,
    * unsubscribe in `after`). */
  private val pendingReplies =
    new java.util.concurrent.ConcurrentHashMap[
      Long, java.util.concurrent.ArrayBlockingQueue[ReplyResult]]()

  /** Topic responders — the test/interactive stand-in for the reference
    * server's channel-side reply (`push_and_receive`'s counterparty).
    * `Right(response)` replies ok; `Left(response)` replies error. */
  private val responders =
    new java.util.concurrent.ConcurrentHashMap[String, Event => Either[String, String]]()

  def onRequest(topic: String)(handler: Event => Either[String, String]): Unit =
    responders.put(topic, handler)

  /** Deliver a reply for `ref` (server side). Returns false when nobody
    * is waiting — the waiter timed out and unsubscribed, mirroring the
    * reference's unsubscribe-in-`after`. */
  def reply(ref: Long, result: Either[String, String]): Boolean = {
    val q = pendingReplies.get(ref)
    q != null && q.offer(result.fold(ReplyError.apply, ReplyOk.apply))
  }

  /** Push an event and block for its correlated reply
    * (`channel_client.ex:196-224`): default timeout 5 s, hard max 60 s
    * (the reference's `@default_timeout`/`@max_timeout`). The reply
    * subscription is registered BEFORE the push (no lost-reply race) and
    * always dropped afterwards. A registered [[onRequest]] responder for
    * the topic runs asynchronously, like the server-side channel. */
  def pushAndReceive(name: String, payload: String, version: Int,
      timeoutMillis: Long = GraftBus.DefaultReplyTimeoutMillis,
      cid: Option[String] = None, key: Option[String] = None): ReplyResult = {
    val bounded = math.min(timeoutMillis, GraftBus.MaxReplyTimeoutMillis)
    val ref = refCounter.incrementAndGet()
    val waiter = new java.util.concurrent.ArrayBlockingQueue[ReplyResult](1)
    pendingReplies.put(ref, waiter)
    try {
      val event = emit(name, payload, version, cid, key)
      Option(responders.get(name)).foreach { handler =>
        val t = new Thread(() => {
          val res = try handler(event)
          catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
          reply(ref, res)
        }, s"graft-responder-$ref")
        t.setDaemon(true)
        t.start()
      }
      val r = waiter.poll(bounded, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (r == null) ReplyTimeout else r
    } finally pendingReplies.remove(ref)
  }
}

object GraftBus {
  /** `(seq, event)` rows of [[GraftBus.toDF]]: field names, types and
    * nullability are those of the product encoder for `(Long, Event)`. */
  private val StoreSchema: StructType = {
    val Array(seq, event) = Encoders.product[(Long, Event)].schema.fields
    StructType(Seq(seq.copy(name = "seq"), event.copy(name = "event")))
  }

  /** `@default_timeout` / `@max_timeout` (`channel_client.ex:64-65`). */
  val DefaultReplyTimeoutMillis: Long = 5000L
  val MaxReplyTimeoutMillis: Long = 60000L
}
