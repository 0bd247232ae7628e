package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{GraftBus, ReplyError, ReplyOk, ReplyTimeout}

/** Mirrors the reference's public-API tests: emitter enrichment
  * (`test/lib/emitter_test.exs:53-64`), memory store semantics
  * (`test/lib/support/memory_test.exs:12-92`), consumer happy-path +
  * quarantine (`test/lib/consumer_test.exs:47-111`).
  */
class GraftBusSpec extends AnyFunSuite with SparkTest {

  test("emit enriches: producer, uuid, created_at, cid fallback, returns event") {
    val bus = new GraftBus(spark, clientId = "hivent_test")
    val e = bus.emit("an:event", """{"foo": "bar"}""", version = 1,
      cid = Some("a_cid"), key = Some("a_key"))
    assert(e.meta.producer == "hivent_test")
    assert(e.meta.version == 1)
    assert(e.meta.cid == "a_cid")
    assert(e.meta.key == "a_key")
    assert(e.meta.uuid.nonEmpty && e.meta.created_at != null)
    val noCid = bus.emit("an:event", "{}", version = 2)
    assert(noCid.meta.cid.nonEmpty) // cid || uuid4 (memory.ex:93)
  }

  test("memory store: all / last / empty? / clear (memory_test.exs)") {
    val bus = new GraftBus(spark)
    assert(bus.isEmpty)
    bus.emit("some:event", """{"item": 55}""", 1)
    bus.emit("other:event", """{"item": 56}""", 1)
    assert(bus.all().map(_.meta.name) == Seq("some:event", "other:event"))
    assert(bus.last().get.payload.contains("56"))
    bus.clear()
    assert(bus.isEmpty && bus.last().isEmpty)
  }

  test("include?: partial matching on payload and meta (memory_test.exs:72-91)") {
    val bus = new GraftBus(spark)
    bus.emit("some:event", """{"item": 55}""", 1)
    assert(bus.include(col("meta.name") === "some:event"))
    assert(bus.include(col("meta.name") === "some:event" &&
      get_json_object(col("payload"), "$.item").cast("int") === 55))
    assert(!bus.include(col("meta.name") === "some:event" &&
      get_json_object(col("payload"), "$.item").cast("int") === 99))
    assert(!bus.include(col("meta.name") === "no:event"))
  }

  test("consumer: ok acks, error quarantines with queue tag (consumer_test.exs:90-111)") {
    val bus = new GraftBus(spark)
    bus.emit("some:event", """{"response": "ok"}""", 1)
    bus.emit("some:event", """{"response": "error"}""", 1)
    bus.emit("unrelated:event", """{"response": "error"}""", 1)
    val (ok, bad) = bus.consume("some:event") { e =>
      if (e.payload.contains("\"error\"")) Left("boom") else Right(())
    }
    assert(ok == 1 && bad == 1)
    val dlq = bus.deadLetters()
    assert(dlq.size == 1)
    assert(dlq.head._2 == "event:some:event") // source queue carried along
    assert(dlq.head._1.payload.contains("error"))
  }

  test("empty store: toDF and include behave, no crash on zero events") {
    val bus = new GraftBus(spark)
    assert(bus.toDF.count() == 0)
    assert(!bus.include(col("meta.name") === "anything"))
    bus.clear() // idempotent on empty
    assert(bus.isEmpty)
  }

  test("push_and_receive: ok reply correlated by ref; request is published (channel_client.ex:196-224)") {
    val bus = new GraftBus(spark)
    bus.onRequest("search") { e =>
      Right(s"""{"result": "found", "echo": ${e.payload}}""")
    }
    val r = bus.pushAndReceive("search", """{"query": "Elixir"}""", version = 1)
    r match {
      case ReplyOk(resp) =>
        assert(resp.contains("\"found\""))
        assert(resp.contains("\"Elixir\"")) // the reply saw the pushed payload
      case other => fail(s"expected ok reply, got $other")
    }
    // the request event was published to the store like any emit
    // (emitter_test.exs:66-72 — reply path returns the published event)
    assert(bus.all().map(_.meta.name) == Seq("search"))
    assert(bus.last().get.payload.contains("Elixir"))
  }

  test("push_and_receive: error replies and timeouts") {
    val bus = new GraftBus(spark)
    bus.onRequest("failing") { _ => Left("""{"reason": "nope"}""") }
    bus.pushAndReceive("failing", "{}", 1) match {
      case ReplyError(resp) => assert(resp.contains("nope"))
      case other => fail(s"expected error reply, got $other")
    }
    // no responder for this topic → no reply arrives → timeout
    assert(bus.pushAndReceive("unanswered", "{}", 1, timeoutMillis = 50L) == ReplyTimeout)
    // a reply after the waiter gave up is dropped (unsubscribe-in-after)
    assert(!bus.reply(999L, Right("late")))
  }

  test("store DF: partition derived from key within [0, partitionCount)") {
    val bus = new GraftBus(spark, partitionCount = 4)
    (1 to 20).foreach(i => bus.emit("e", "{}", 1, key = Some(s"k$i")))
    val parts = bus.toDF.select("partition").collect().map(_.getInt(0))
    assert(parts.forall(p => p >= 0 && p < 4))
    assert(bus.toDF.count() == 20)
  }

  // ------------------------------------------------ store frame parity
  /** The store frame as it used to be built, kept as the reference: a
    * product encoder through `spark.implicits` over the same events. */
  private def referenceDF(bus: GraftBus, partitionCount: Int): DataFrame = {
    import spark.implicits._
    bus.all().zipWithIndex.map { case (e, i) => (i.toLong, e) }
      .toDF("seq", "event")
      .select(col("seq"), col("event.meta").as("meta"),
        col("event.payload").as("payload"))
      .withColumn("partition",
        pmod(hash(coalesce(col("meta.key"), col("meta.uuid"))), lit(partitionCount)))
  }

  /** The reference existence test: a counted limit. */
  private def referenceInclude(bus: GraftBus, partitionCount: Int, pred: Column): Boolean =
    referenceDF(bus, partitionCount).filter(pred).limit(1).count() > 0

  private def payloadK: Column = get_json_object(col("payload"), "$.k").cast("int")

  /** Jobs submitted from this thread while `body` runs. The listener bus
    * delivers events in order, so once a sentinel job run afterwards is
    * seen, every job `body` started has been counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graftbus-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val counted = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`sentinel`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  private def filled(bus: GraftBus, n: Int, key: Int => Option[String]): GraftBus = {
    (0 until n).foreach(i =>
      bus.emit(s"topic:${i % 7}", s"""{"k": $i}""", 1 + i % 3, key = key(i)))
    bus
  }

  /** (name, partition count, store) — built lazily, inside each test. */
  private val fixtures: Seq[(String, Int, () => GraftBus)] = Seq(
    ("an empty store", 4, () => new GraftBus(spark)),
    ("null keys: the partition comes from the uuid", 4,
      () => filled(new GraftBus(spark), 12, _ => None)),
    ("keyed events", 3,
      () => filled(new GraftBus(spark, partitionCount = 3), 20, i => Some(s"k${i % 5}"))),
    ("a store after clear()", 4, () => {
      val bus = filled(new GraftBus(spark), 10, i => Some(s"k$i"))
      bus.clear()
      bus.emit("after:clear", """{"k": 77}""", 1, key = Some("late"))
      bus
    }),
    ("1,000 events", 4,
      () => filled(new GraftBus(spark), 1000, i => if (i % 4 == 0) None else Some(s"k${i % 50}"))))

  for ((name, parts, make) <- fixtures)
    test(s"store frame and include equal the encoder reference: $name") {
      val bus = make()
      val got = bus.toDF
      val ref = referenceDF(bus, parts)
      assert(got.schema == ref.schema, s"schema differs:\n${got.schema.treeString}\n${ref.schema.treeString}")
      assert(got.count() == bus.all().size)
      assert(got.exceptAll(ref).isEmpty, "Row-built frame has rows the reference lacks")
      assert(ref.exceptAll(got).isEmpty, "Row-built frame lost reference rows")

      val events = bus.all()
      val hits = events.headOption.toSeq ++ events.lastOption
      val probes: Seq[(Column, Boolean)] = hits.flatMap { e =>
        val k = "\\d+".r.findFirstIn(e.payload).get.toInt
        val keyMatch = Option(e.meta.key).map(col("meta.key") === _)
          .getOrElse(col("meta.key").isNull)
        Seq(
          (col("meta.name") === e.meta.name, true),
          (keyMatch && col("meta.uuid") === e.meta.uuid, true),
          (payloadK === k, true),
          (col("meta.name") === e.meta.name && payloadK === k, true),
          (col("meta.name") === e.meta.name && payloadK === -1, false))
      } ++ Seq(
        (col("meta.name") === "absent:event", false),
        (col("meta.key") === "absent-key", false),
        (payloadK === -1, false),
        (get_json_object(col("payload"), "$.missing").isNotNull, false))
      probes.foreach { case (pred, expected) =>
        val found = bus.include(pred)
        assert(found == referenceInclude(bus, parts, pred), s"include($pred)")
        assert(found == expected, s"include($pred) should be $expected")
      }
    }

  test("include with an evaluable predicate runs on the driver: no Spark job") {
    val bus = filled(new GraftBus(spark), 50, i => Some(s"k$i"))
    val hit = col("meta.key") === "k7" && payloadK === 7
    val miss = col("meta.name") === "absent:event"
    val (found, hitJobs) = jobsDuring(bus.include(hit))
    val (missed, missJobs) = jobsDuring(bus.include(miss))
    assert(found && !missed)
    assert(hitJobs == 0, s"include (hit) submitted $hitJobs jobs")
    assert(missJobs == 0, s"include (miss) submitted $missJobs jobs")
    // the counter sees jobs: the reference's counted limit submits some
    val (_, refJobs) = jobsDuring(referenceInclude(bus, 4, hit))
    assert(refJobs > 0, "the job counter saw no job for the counted reference")
  }

  test("include with a subquery predicate still answers through a job") {
    val bus = filled(new GraftBus(spark), 20, i => Some(s"k$i"))
    def nameIs(n: String) = col("meta.name") === spark.range(1).select(lit(n)).scalar()
    assert(bus.include(nameIs("topic:3")) == referenceInclude(bus, 4, nameIs("topic:3")))
    assert(bus.include(nameIs("topic:3")))
    assert(!bus.include(nameIs("absent:event")))
  }

  test("a toDF taken before further emits keeps its row count") {
    val bus = filled(new GraftBus(spark), 5, _ => None)
    val snapshot = bus.toDF
    filled(bus, 3, i => Some(s"k$i"))
    assert(snapshot.count() == 5)
    assert(bus.toDF.count() == 8)
  }
}
