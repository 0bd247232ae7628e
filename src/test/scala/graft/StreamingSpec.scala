package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ConsumerPipeline
import graft.streaming.ConsumerPipeline.RawEvent

/** Streaming semantics via MemoryStream + processAllAvailable — the
  * synchronous replacement for the reference's `wait_until` polling
  * (SURVEY.md §5.2 item 4). Asserts the same outcomes as the batch
  * oracle-checked queries.
  */
class StreamingSpec extends AnyFunSuite with SparkTest {

  private def ts(minute: Int): Timestamp =
    // explicit UTC instant: Timestamp.valueOf would parse in the host
    // zone while window boundaries align to UTC epoch instants
    Timestamp.from(java.time.Instant.parse(f"2024-01-01T10:$minute%02d:00Z"))

  private def fixture = Seq(
    RawEvent(1L, ts(0), 7L, "purchase", 10.0, """{"k": 1}"""),
    RawEvent(2L, ts(1), 7L, "error", 5.0, """{"k": 2}"""),
    RawEvent(3L, ts(2), 8L, "click", 1.0, """{"k": 3}"""),
    RawEvent(4L, ts(3), 8L, "purchase", -4.0, """{"k": 4}"""),
    RawEvent(5L, ts(4), 9L, "view", 2.0, """{"k": 5}"""))

  test("consume path: ok/dlq split with checkpointing (consumer_test.exs:90-111)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[RawEvent]
    val okPath = tempDir("ok")
    val dlqPath = tempDir("dlq")
    val q = ConsumerPipeline.start(stream.toDF(), okPath, dlqPath, tempDir("ckpt"))
    try {
      stream.addData(fixture: _*)
      q.processAllAvailable()
    } finally q.stop()

    val ok = spark.read.parquet(okPath)
    val dlq = spark.read.parquet(dlqPath)
    // error-typed event 2 and negative-value purchase 4 are quarantined
    assert(dlq.select("event_id").as[Long].collect().sorted.sameElements(Array(2L, 4L)))
    assert(ok.count() == 3)
    // DLQ rows carry their source queue (consumer.ex:98-100)
    assert(dlq.filter(col("queue").isNull).count() == 0)
    assert(dlq.filter(col("name") === "error").select("queue").distinct()
      .head().getString(0) == "event:error")
  }

  test("stream-stream correlate joins within the interval and matches the batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      RawEvent(1L, ts(0), 7L, "request", 1.0, "{}"),
      RawEvent(2L, ts(2), 7L, "reply", 1.0, "{}"),   // +2 min: inside 5-min window
      RawEvent(3L, ts(10), 7L, "reply", 1.0, "{}"),  // +10 min: outside
      RawEvent(4L, ts(1), 8L, "request", 1.0, "{}"),
      RawEvent(5L, ts(3), 9L, "reply", 1.0, "{}"),   // no request for user 9
      RawEvent(6L, ts(20), 7L, "view", 1.0, "{}"))   // watermark driver
    val stream = MemoryStream[RawEvent]
    val joined = ConsumerPipeline.correlate(stream.toDF(), "request", "reply")
    val q = joined.writeStream.format("memory").queryName("corr_out")
      .outputMode("append").start()
    try {
      stream.addData(data: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("corr_out").select("l_id", "r_id")
      .as[(Long, Long)].collect().toSet
    // only (request 1, reply 2) pairs: same user, within 5 minutes
    assert(got == Set((1L, 2L)))
    // identical semantics to the batch interval join over the same rows
    val batch = ConsumerPipeline.correlate(data.toDF(), "request", "reply")
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(batch == got)
  }

  test("sink is idempotent under micro-batch replay (crash between commit and checkpoint)") {
    val events = graft.model.Tables.events(spark, sf)
    val stage = tempDir("stage")
    events.write.mode("overwrite").parquet(stage)
    val okPath = tempDir("ok")
    val dlqPath = tempDir("dlq")
    val ckpt = tempDir("ckpt")
    val stream = graft.sources.EventSource.streamParquet(spark, stage)
    val q1 = ConsumerPipeline.start(stream, okPath, dlqPath, ckpt)
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
    val okAfterFirst = spark.read.parquet(okPath).count()

    // simulate a crash after the sink wrote but before the batch was
    // committed: delete the newest commit marker so restart replays it
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) crc.delete() // local-FS checksum shadow of the marker

    // q1's checkpoint-path registration is released asynchronously after
    // stop(); wait it out before restarting on the same checkpoint
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(spark.streams.active.isEmpty)

    val q2 = ConsumerPipeline.start(
      graft.sources.EventSource.streamParquet(spark, stage), okPath, dlqPath, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val ok = spark.read.parquet(okPath)
    assert(ok.count() == okAfterFirst) // replayed batch overwrote, not appended
    assert(ok.select("event_id").distinct().count() == okAfterFirst)
  }

  test("effectively-once: duplicate uuids within the watermark are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[RawEvent]
    val deduped = ConsumerPipeline.dedupByUuid(ConsumerPipeline.enrich(stream.toDF()))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", tempDir("ckpt"))
      .outputMode("append").start()
    try {
      stream.addData(fixture: _*)
      q.processAllAvailable()
      stream.addData(fixture.take(2): _*) // redelivery (at-least-once)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_out")
    assert(out.count() == 5) // redelivered events deduped by uuid
    assert(out.select("uuid").distinct().count() == 5)
  }

  test("uuid dedup state stays bounded over hours of events; a duplicate within the watermark is dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourly = (0 until 6).map { h =>
      (1 to 5).map { i =>
        val id = 10L * h + i
        RawEvent(id, Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds(3600L * h + 60L * i)), id % 4, "click", 1.0, "{}")
      }
    }
    val stream = MemoryStream[RawEvent]
    val deduped = ConsumerPipeline.dedupByUuid(ConsumerPipeline.enrich(stream.toDF()))
    val q = deduped.writeStream.format("memory").queryName("dedup_bounded")
      .option("checkpointLocation", tempDir("ckpt"))
      .outputMode("append").start()
    val stateRows = try {
      val rows = hourly.map { wave =>
        stream.addData(wave: _*)
        q.processAllAvailable()
        q.lastProgress.stateOperators.head.numRowsTotal
      }
      stream.addData(hourly.last.head) // redelivered 4 minutes after its first copy
      q.processAllAvailable()
      rows
    } finally q.stop()
    // each hour's uuids are evicted once the watermark passes them + 10 min
    assert(stateRows.forall(_ <= 5), s"state rows per hour: $stateRows")
    val out = spark.table("dedup_bounded")
    assert(out.count() == 30)
    assert(out.select("uuid").distinct().count() == 30)
  }

  test("tumbling window counts match the batch rendition") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[RawEvent]
    val agg = ConsumerPipeline.tumblingCounts(ConsumerPipeline.enrich(stream.toDF()))
    val q = agg.writeStream.format("memory").queryName("tumbling_out")
      .option("checkpointLocation", tempDir("ckpt"))
      .outputMode("complete").start()
    try {
      stream.addData(fixture: _*)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("tumbling_out")
    // all fixture events fall in the 10:00 hour
    assert(out.agg(sum("n")).head().getLong(0) == 5)
    assert(out.filter(col("window_start") === ts(0)).count() == out.count())
  }

  test("dispatch: N subscribers = N concurrent filtered queries on one stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[RawEvent]
    val enriched = ConsumerPipeline.enrich(stream.toDF())
    // two subscriptions with their own matcher+mapper, like the reference's
    // Flow filter_map dispatch (channel_client.ex:363-390)
    val clicks = ConsumerPipeline.subscribe(enriched, "click")
      .select("uuid", "key")
    val purchases = ConsumerPipeline.subscribe(enriched, "purchase")
      .select("uuid", "value")
    val q1 = clicks.writeStream.format("memory").queryName("sub_clicks")
      .option("checkpointLocation", tempDir("ck1")).start()
    val q2 = purchases.writeStream.format("memory").queryName("sub_purchases")
      .option("checkpointLocation", tempDir("ck2")).start()
    try {
      stream.addData(fixture: _*)
      q1.processAllAvailable()
      q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    assert(spark.table("sub_clicks").count() == 1)    // event 3
    assert(spark.table("sub_purchases").count() == 2) // events 1, 4
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[RawEvent]
    val stats = ConsumerPipeline.runningUserStats(stream.toDS())
    val q = stats.writeStream.format("memory").queryName("stats_out")
      .option("checkpointLocation", tempDir("ckpt"))
      .outputMode("update").start()
    try {
      stream.addData(RawEvent(1L, ts(0), 7L, "click", 1.0, "{}"),
        RawEvent(2L, ts(1), 7L, "click", 2.0, "{}"))
      q.processAllAvailable()
      stream.addData(RawEvent(3L, ts(2), 7L, "click", 4.0, "{}"))
      q.processAllAvailable() // state must carry the first batch's totals
    } finally q.stop()
    val last = spark.table("stats_out").filter(col("user_id") === 7)
      .orderBy(col("n_events").desc).head()
    assert(last.getAs[Long]("n_events") == 3)
    assert(math.abs(last.getAs[Double]("total_value") - 7.0) < 1e-9)
  }

  // --- live topic source (reference consumer.ex:105, group sharing :92-96)

  private def wireJson(e: RawEvent): String = {
    val iso = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .withZone(java.time.ZoneOffset.UTC)
      .format(e.ts.toInstant)
    s"""{"event_id":${e.event_id},"ts":"$iso","user_id":${e.user_id},""" +
      s""""event_type":"${e.event_type}","value":${e.value},"props":"{}"}"""
  }

  private def appendFixture(dir: String, topic: String, events: Seq[RawEvent]): Unit =
    graft.sources.GraftTopicLog.append(dir, topic,
      events.map(e => (e.user_id.toString, e.ts.toInstant.toEpochMilli * 1000L, wireJson(e))))

  test("consumer group: two members split a topic's partitions; union equals the input") {
    import spark.implicits._
    val topicDir = tempDir("broker")
    val events = (1 to 40).map(i =>
      RawEvent(i.toLong, ts(i % 60), i.toLong % 11, "click", i.toDouble, "{}"))
    appendFixture(topicDir, "order:confirmed", events)

    val n = graft.model.Tables.DefaultPartitionCount
    val memberA = graft.sources.GraftTopicLog.assignment(n, 0, 2)
    val memberB = graft.sources.GraftTopicLog.assignment(n, 1, 2)
    assert((memberA ++ memberB).sorted == (0 until n)) // disjoint + complete

    def member(name: String, parts: Seq[Int]) =
      graft.sources.EventSource.parseTopicEvents(
        graft.sources.EventSource.streamTopic(spark, topicDir, "order:confirmed", parts))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tempDir(s"ck_$name")).start()

    val qa = member("member_a", memberA)
    val qb = member("member_b", memberB)
    try { qa.processAllAvailable(); qb.processAllAvailable() }
    finally { qa.stop(); qb.stop() }

    val a = spark.table("member_a")
    val b = spark.table("member_b")
    // each member saw ONLY its assigned partitions
    assert(a.select("partition").distinct().as[Int].collect().toSet.subsetOf(memberA.toSet))
    assert(b.select("partition").distinct().as[Int].collect().toSet.subsetOf(memberB.toSet))
    // no event processed twice, and the union is exactly the input
    assert(a.select("event_id").intersect(b.select("event_id")).count() == 0)
    assert(a.unionByName(b).select("event_id").as[Long].collect().sorted
      .sameElements(events.map(_.event_id).sorted))
    // key-hash routing: every row of one key landed in one partition
    assert(a.unionByName(b).groupBy("user_id")
      .agg(countDistinct(col("partition")).as("nparts"))
      .filter(col("nparts") > 1).count() == 0)
  }

  test("rebalance: survivor takes over a departed member's partitions from its committed offsets") {
    import spark.implicits._
    val topicDir = tempDir("broker_reb")
    val topic = "order:confirmed"
    val phase1 = (1 to 40).map(i =>
      RawEvent(i.toLong, ts(i % 60), i.toLong, "click", i.toDouble, "{}"))
    appendFixture(topicDir, topic, phase1)
    val n = graft.model.Tables.DefaultPartitionCount
    // pre-register both members so the FIRST batch already splits the
    // topic disjointly (dynamic join mid-stream is exercised below by
    // the departure)
    graft.sources.GraftTopicLog.registerMember(topicDir, topic, "svc", "a")
    graft.sources.GraftTopicLog.registerMember(topicDir, topic, "svc", "b")

    def member(name: String, id: String) =
      graft.sources.EventSource.parseTopicEvents(
        graft.sources.EventSource.streamTopic(spark, topicDir, topic,
          group = Some(("svc", id))))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tempDir(s"ck_$name")).start()

    val qa = member("reb_a", "a")
    val qb = member("reb_b", "b")
    try {
      qa.processAllAvailable(); qb.processAllAvailable()
      // dynamic assignment matches the static round-robin split over
      // the sorted alive ids ("a" -> index 0, "b" -> index 1)
      val aP1 = spark.table("reb_a").select("partition").distinct().as[Int].collect().toSet
      val bP1 = spark.table("reb_b").select("partition").distinct().as[Int].collect().toSet
      assert(aP1.subsetOf(graft.sources.GraftTopicLog.assignment(n, 0, 2).toSet))
      assert(bP1.subsetOf(graft.sources.GraftTopicLog.assignment(n, 1, 2).toSet))
      assert(spark.table("reb_a").unionByName(spark.table("reb_b"))
        .select("event_id").as[Long].collect().sorted
        .sameElements(phase1.map(_.event_id).sorted))

      // phase 2: B leaves gracefully, THEN more records arrive — A's
      // very next batch must cover ALL partitions, resuming B's old
      // partitions from B's committed group offsets. B stops BEFORE the
      // new data lands: had phase 2 arrived first, B's trigger loop
      // could process a phase-2 batch whose end offsets are not yet
      // published when the stop hits — the DOCUMENTED at-least-once
      // handover window (a batch read but not committed re-reads on the
      // new owner, GraftTopicLog scaladoc), which would make the
      // exactly-once intersect below flaky under load. The exactly-once
      // claim this test pins is for COMMITTED positions.
      qb.stop() // deregisters -> immediate rebalance, no TTL wait
      val phase2 = (41 to 80).map(i =>
        RawEvent(i.toLong, ts(i % 60), i.toLong, "click", i.toDouble, "{}"))
      appendFixture(topicDir, topic, phase2)
      qa.processAllAvailable()

      val a = spark.table("reb_a")
      val b = spark.table("reb_b")
      // survivor picked up every partition phase 2 landed on
      val p2Parts = phase2.map(e => graft.sources.GraftTopicLog
        .partitionFor(e.user_id.toString, n)).toSet
      val aPhase2Parts = a.filter(col("event_id") > 40)
        .select("partition").distinct().as[Int].collect().toSet
      assert(aPhase2Parts == p2Parts,
        s"survivor covered $aPhase2Parts, phase-2 data lives on $p2Parts")
      // EXACTLY ONCE across the group: had A restarted B's partitions
      // from byte 0 instead of B's committed offsets, A would now also
      // hold B's phase-1 records and the intersect would be non-empty
      assert(a.select("event_id").intersect(b.select("event_id")).count() == 0,
        "takeover re-read records the departed member had already processed")
      assert(a.unionByName(b).select("event_id").as[Long].collect().sorted
        .sameElements((phase1 ++ phase2).map(_.event_id).sorted))
    } finally { if (qa.isActive) qa.stop(); if (qb.isActive) qb.stop() }

    // crash path: a member that stops heartbeating ages out after the
    // TTL (graceful leave above needed no TTL); ttl <= 0 disables aging
    graft.sources.GraftTopicLog.registerMember(topicDir, topic, "svc2", "x")
    graft.sources.GraftTopicLog.registerMember(topicDir, topic, "svc2", "y")
    new java.io.File(s"$topicDir/$topic/.group-svc2/hb-y")
      .setLastModified(System.currentTimeMillis() - 60000L)
    assert(graft.sources.GraftTopicLog.aliveMembers(topicDir, topic, "svc2", 5000L)
      == Seq("x"))
    assert(graft.sources.GraftTopicLog.aliveMembers(topicDir, topic, "svc2", 0L)
      == Seq("x", "y"))
  }

  test("chaos: kill-during-commit — takeover loses nothing; duplicates confined to the uncommitted window") {
    import spark.implicits._
    // Randomized (SEEDED — every run replays the same chaos) kill-during-
    // commit drill, 3 rounds (r14 verdict #7). Each round: a survivor and
    // a victim split the topic; the victim then processes a doomed slice
    // ALONE and its offset commit is rolled back to the pre-slice
    // snapshot — the exact on-disk state a crash between processing and
    // the atomic offsets rename leaves (plus a torn .tmp and a stale,
    // backdated heartbeat). The restarted survivor must take over via
    // TTL aging and the group must show NO LOSS, duplicates EXACTLY the
    // uncommitted doomed slice (the documented at-least-once window —
    // nothing before the rolled-back commit ever re-processes), and a
    // registry that still parses around the torn temp file.
    val rnd = new scala.util.Random(20260815L)
    val topicDir = tempDir("broker_chaos")
    val topic = "order:confirmed"
    val svc = "svc"
    val groupD = new java.io.File(s"$topicDir/$topic/.group-$svc")
    val outPath = tempDir("chaos_out")
    val ckptA = tempDir("chaos_ck_a")
    var nextId = 1L
    def appendRandom(lo: Int, hi: Int): Seq[RawEvent] = {
      val evs = (0 until (lo + rnd.nextInt(hi - lo))).map { _ =>
        val id = nextId; nextId += 1
        RawEvent(id, ts((id % 60).toInt), rnd.nextInt(500).toLong, "click", id.toDouble, "{}")
      }
      appendFixture(topicDir, topic, evs); evs
    }
    def survivor() = graft.sources.EventSource.parseTopicEvents(
      graft.sources.EventSource.streamTopic(spark, topicDir, topic,
        group = Some((svc, "a"))))
      .writeStream.format("parquet").option("path", outPath)
      .option("checkpointLocation", ckptA).start()
    var all = Vector.empty[RawEvent]
    var victimTables = Vector.empty[String]
    for (round <- 1 to 3) {
      val vid = s"v$round"
      val vTable = s"chaos_$vid"
      victimTables :+= vTable
      val qa = survivor()
      val qv = graft.sources.EventSource.parseTopicEvents(
        graft.sources.EventSource.streamTopic(spark, topicDir, topic,
          group = Some((svc, vid))))
        .writeStream.format("memory").queryName(vTable)
        .option("checkpointLocation", tempDir(s"chaos_ck_$vid")).start()
      try {
        all ++= appendRandom(20, 60)
        qa.processAllAvailable(); qv.processAllAvailable()
        // post-base committed snapshot of the victim's OWN offsets file
        val vFile = new java.io.File(groupD, s"offsets-$vid.json")
        val snap = if (vFile.exists())
          Some(java.nio.file.Files.readAllBytes(vFile.toPath)) else None
        // survivor leaves; the victim alone processes the DOOMED slice
        qa.stop()
        val doomed = appendRandom(10, 30)
        all ++= doomed
        qv.processAllAvailable()
        // kill during commit: processing happened, the commit "never
        // landed" — restore the pre-slice offsets, leave a torn temp,
        // leave a STALE heartbeat (a crash deletes nothing)
        qv.stop()
        snap match {
          case Some(bytes) =>
            java.nio.file.Files.write(vFile.toPath, bytes)
          case None => java.nio.file.Files.deleteIfExists(vFile.toPath)
        }
        java.nio.file.Files.write(
          new java.io.File(groupD, s".offsets-$vid.tmp").toPath,
          "{\"torn".getBytes("UTF-8"))
        graft.sources.GraftTopicLog.registerMember(topicDir, topic, svc, vid)
        new java.io.File(groupD, s"hb-$vid")
          .setLastModified(System.currentTimeMillis() - 60000L)
        // takeover: the restarted survivor ages the victim out (TTL) and
        // resumes the victim's partitions from the ROLLED-BACK position
        val qa2 = survivor()
        try qa2.processAllAvailable() finally qa2.stop()
        val survivorIds = spark.read.parquet(outPath)
          .select("event_id").as[Long].collect().toSeq
        assert(survivorIds.distinct.size == survivorIds.size,
          "survivor re-processed within its own checkpointed partitions")
        val victimIds = victimTables.flatMap(t =>
          spark.table(t).select("event_id").as[Long].collect()).toSet
        // no loss: every event some member processed, union is the topic
        assert((survivorIds.toSet ++ victimIds) == all.map(_.event_id).toSet,
          s"round $round lost events")
        // duplicates are EXACTLY this round's uncommitted doomed slice
        val dups = survivorIds.toSet.intersect(
          spark.table(vTable).select("event_id").as[Long].collect().toSet)
        assert(dups == doomed.map(_.event_id).toSet,
          s"round $round duplicates $dups != uncommitted window ${doomed.map(_.event_id).toSet}")
        // the torn temp never corrupts the registry read path, and the
        // group position covers every partition that carries data
        val go = graft.sources.GraftTopicLog.groupOffsets(topicDir, topic, svc)
        assert(go.nonEmpty && go.values.exists(_ > 0))
      } finally {
        if (qa.isActive) qa.stop(); if (qv.isActive) qv.stop()
        graft.sources.GraftTopicLog.deregisterMember(topicDir, topic, svc, vid)
      }
    }
  }

  test("chaos: kill-during-REBALANCE — a member joins as the victim dies; the union is still exact") {
    import spark.implicits._
    // Seeded drill for the r15 verdict's remaining chaos window: the
    // kill-during-commit scenario above restarts the SAME survivor; here
    // the takeover reassignment itself is mid-flight — a NEW member (c)
    // registers in the exact window between the victim's death and the
    // first post-death batch, so the recovery assignment is computed
    // over a membership that changed in BOTH directions (v aged out, c
    // joined). Each of the victim's partitions is taken over by a or c
    // from the GROUP's committed position (the victim's rolled-back
    // pre-slice commit), so across the whole group: no loss, duplicates
    // EXACTLY the victim's uncommitted doomed slice, the two survivors
    // disjoint (they own disjoint partitions), and the committed group
    // offsets cover every partition that carries data.
    val rnd = new scala.util.Random(20260816L)
    val n = graft.model.Tables.DefaultPartitionCount
    for (round <- 1 to 2) {
      val topicDir = tempDir(s"broker_rebchaos$round")
      val topic = "order:confirmed"
      val svc = "svc"
      val groupD = new java.io.File(s"$topicDir/$topic/.group-$svc")
      val outA = tempDir(s"rebchaos_out$round")
      val ckptA = tempDir(s"rebchaos_ck_a$round")
      var nextId = 1L
      def appendRandom(lo: Int, hi: Int): Seq[RawEvent] = {
        val evs = (0 until (lo + rnd.nextInt(hi - lo))).map { _ =>
          val id = nextId; nextId += 1
          RawEvent(id, ts((id % 60).toInt), rnd.nextInt(500).toLong, "click", id.toDouble, "{}")
        }
        appendFixture(topicDir, topic, evs); evs
      }
      def memberQ(id: String, ckpt: String, sink: Either[String, String]) = {
        val base = graft.sources.EventSource.parseTopicEvents(
          graft.sources.EventSource.streamTopic(spark, topicDir, topic,
            group = Some((svc, id)))).writeStream
        (sink match {
          case Left(path) => base.format("parquet").option("path", path)
          case Right(table) => base.format("memory").queryName(table)
        }).option("checkpointLocation", ckpt).start()
      }
      graft.sources.GraftTopicLog.registerMember(topicDir, topic, svc, "a")
      graft.sources.GraftTopicLog.registerMember(topicDir, topic, svc, "v")
      val vTable = s"rebchaos_v$round"
      val cTable = s"rebchaos_c$round"
      val qa = memberQ("a", ckptA, Left(outA))
      val qv = memberQ("v", tempDir(s"rebchaos_ck_v$round"), Right(vTable))
      var qa2: org.apache.spark.sql.streaming.StreamingQuery = null
      var qc: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        val base = appendRandom(30, 70)
        qa.processAllAvailable(); qv.processAllAvailable()
        // committed snapshot of the victim's own offsets file
        val vFile = new java.io.File(groupD, "offsets-v.json")
        val snap = if (vFile.exists())
          Some(java.nio.file.Files.readAllBytes(vFile.toPath)) else None
        qa.stop()
        val doomed = appendRandom(10, 30)
        qv.processAllAvailable()
        // kill during commit: rolled-back offsets, torn tmp, stale
        // heartbeat (a crash deletes nothing)
        qv.stop()
        snap match {
          case Some(bytes) => java.nio.file.Files.write(vFile.toPath, bytes)
          case None => java.nio.file.Files.deleteIfExists(vFile.toPath)
        }
        java.nio.file.Files.write(
          new java.io.File(groupD, ".offsets-v.tmp").toPath,
          "{\"torn".getBytes("UTF-8"))
        graft.sources.GraftTopicLog.registerMember(topicDir, topic, svc, "v")
        new java.io.File(groupD, "hb-v")
          .setLastModified(System.currentTimeMillis() - 60000L)
        // the mid-flight membership change: c JOINS before any takeover
        // batch runs, so recovery is computed over {a, c} directly
        graft.sources.GraftTopicLog.registerMember(topicDir, topic, svc, "c")
        val phase3 = appendRandom(20, 50)
        val all = base ++ doomed ++ phase3
        qa2 = memberQ("a", ckptA, Left(outA))
        qc = memberQ("c", tempDir(s"rebchaos_ck_c$round"), Right(cTable))
        qa2.processAllAvailable(); qc.processAllAvailable()
        qa2.processAllAvailable() // let both directions of the split settle
        qc.processAllAvailable()
        val aIds = spark.read.parquet(outA).select("event_id").as[Long].collect().toSeq
        val cIds = spark.table(cTable).select("event_id").as[Long].collect().toSeq
        val vIds = spark.table(vTable).select("event_id").as[Long].collect().toSet
        // each survivor is internally exactly-once
        assert(aIds.distinct.size == aIds.size, s"round $round: a re-processed its own partitions")
        assert(cIds.distinct.size == cIds.size, s"round $round: c re-processed its own partitions")
        // the two survivors own DISJOINT partitions
        assert(aIds.toSet.intersect(cIds.toSet).isEmpty,
          s"round $round: a and c overlapped — assignment not disjoint")
        // no loss: the processed union across the group is the topic
        assert((aIds.toSet ++ cIds.toSet ++ vIds) == all.map(_.event_id).toSet,
          s"round $round lost events during the mid-rebalance kill")
        // duplicates are EXACTLY the victim's uncommitted doomed slice
        val dups = (aIds.toSet ++ cIds.toSet).intersect(vIds)
        assert(dups == doomed.map(_.event_id).toSet,
          s"round $round duplicates $dups != uncommitted window ${doomed.map(_.event_id).toSet}")
        // committed group offsets cover every partition that carries data
        val go = graft.sources.GraftTopicLog.groupOffsets(topicDir, topic, svc)
        val dataParts = all.map(e =>
          graft.sources.GraftTopicLog.partitionFor(e.user_id.toString, n)).toSet
        assert(dataParts.forall(p => go.getOrElse(p, 0L) > 0L),
          s"round $round: group offsets $go do not cover data partitions $dataParts")
      } finally {
        Seq(Option(qa), Option(qv), Option(qa2), Option(qc)).flatten
          .foreach(q => if (q.isActive) q.stop())
        Seq("a", "v", "c").foreach(id =>
          graft.sources.GraftTopicLog.deregisterMember(topicDir, topic, svc, id))
      }
    }
  }

  test("topic source resumes from checkpointed offsets across appends and restart") {
    import spark.implicits._
    val topicDir = tempDir("broker")
    val ckpt = tempDir("ckpt")
    val outPath = tempDir("out")
    val first = (1 to 10).map(i => RawEvent(i.toLong, ts(i), i.toLong, "view", 1.0, "{}"))
    appendFixture(topicDir, "t", first)

    def start() = graft.sources.EventSource.parseTopicEvents(
      graft.sources.EventSource.streamTopic(spark, topicDir, "t"))
      .writeStream.format("parquet").option("path", outPath)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(outPath).count() == 10)
      // live append while the subscription is running
      appendFixture(topicDir, "t", Seq(RawEvent(11L, ts(11), 11L, "view", 1.0, "{}")))
      q1.processAllAvailable()
      assert(spark.read.parquet(outPath).count() == 11)
    } finally { q1.stop(); q1.awaitTermination() }
    // checkpoint-path registration releases asynchronously after stop()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)

    // restart from the same checkpoint: only NEW bytes are read
    appendFixture(topicDir, "t", Seq(RawEvent(12L, ts(12), 12L, "view", 1.0, "{}")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val out = spark.read.parquet(outPath)
      // no prefix re-read: 12 distinct events, each exactly once
      assert(out.count() == 12)
      assert(out.select("event_id").as[Long].collect().sorted
        .sameElements(1L to 12L))
      // offsets are strictly monotonic per partition (Kafka ordering contract)
      val offs = out.select("partition", "offset").as[(Int, Long)].collect()
      assert(offs.groupBy(_._1).values.forall(ps => ps.map(_._2).distinct.length == ps.length))
    } finally q2.stop()
  }

  test("admission control: a restart backlog drains in multiple bounded batches (consumer.ex:68)") {
    import spark.implicits._
    val topicDir = tempDir("broker")
    val ckpt = tempDir("ckpt")
    val events = (1 to 200).map(i =>
      RawEvent(i.toLong, ts(i % 60), i.toLong % 7, "view", 1.0, "{}"))
    appendFixture(topicDir, "big", events) // whole backlog exists BEFORE the query starts
    val totalBytes = (0 until graft.model.Tables.DefaultPartitionCount)
      .map(p => graft.sources.GraftTopicLog.partitionFile(topicDir, "big", p))
      .filter(_.exists).map(_.length).sum
    assert(totalBytes > 0)
    val cap = totalBytes / 6 + 1 // budget forces ≥~6 micro-batches

    val q = graft.sources.EventSource.parseTopicEvents(
      graft.sources.EventSource.streamTopic(spark, topicDir, "big",
        maxBytesPerTrigger = Some(cap)))
      .writeStream.format("memory").queryName("bounded_out")
      .option("checkpointLocation", ckpt).start()
    val progress = try {
      q.processAllAvailable()
      q.recentProgress.filter(_.numInputRows > 0)
    } finally q.stop()

    val out = spark.table("bounded_out")
    // nothing lost, nothing duplicated: bounded offsets are still exact
    // record boundaries, so every record parses and resumes cleanly
    assert(out.count() == 200)
    assert(out.select("event_id").as[Long].collect().sorted
      .sameElements(events.map(_.event_id).sorted))
    // the backlog really was admitted in bounded slices, not one batch
    assert(progress.length > 1,
      s"expected multiple bounded batches, got ${progress.length}")
    assert(progress.map(_.numInputRows).max < 200)
  }

  test("record-boundary clamp: bounded offsets never split a record; tiny caps still progress") {
    val topicDir = tempDir("broker")
    appendFixture(topicDir, "clamp",
      (1 to 5).map(i => RawEvent(i.toLong, ts(i), 3L, "view", 1.0, "{}")))
    // all keys equal → one partition holds all 5 records
    val part = graft.sources.GraftTopicLog.partitionFor("3", graft.model.Tables.DefaultPartitionCount)
    val f = graft.sources.GraftTopicLog.partitionFile(topicDir, "clamp", part)
    val lines = java.nio.file.Files.readAllLines(f.toPath)
    assert(lines.size == 5)
    val bounds = lines.toArray.map(_.asInstanceOf[String].getBytes("UTF-8").length + 1L)
      .scanLeft(0L)(_ + _) // record boundaries: 0, b1, b1+b2, ...
    // a cap inside record 3 clamps DOWN to the boundary after record 2
    val midRecord3 = bounds(2) + 3
    assert(graft.sources.GraftTopicLog.recordBoundaryAtMost(f, 0L, midRecord3) == bounds(2))
    // a cap smaller than the first record rounds UP to one whole record
    assert(graft.sources.GraftTopicLog.recordBoundaryAtMost(f, 0L, 2L) == bounds(1))
    // a cap past EOF returns EOF
    assert(graft.sources.GraftTopicLog.recordBoundaryAtMost(f, 0L, f.length() + 100) == f.length())
    // starting mid-log behaves the same relative to `start`
    assert(graft.sources.GraftTopicLog.recordBoundaryAtMost(f, bounds(1), bounds(1) + 1) == bounds(2))
  }

  test("session windows close after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[RawEvent]
    val sessions = ConsumerPipeline.sessionCounts(ConsumerPipeline.enrich(stream.toDF()))
    val q = sessions.writeStream.format("memory").queryName("session_out")
      .option("checkpointLocation", tempDir("ckpt"))
      .outputMode("complete").start()
    try {
      // user 7: two bursts 40 minutes apart → two sessions
      stream.addData(
        RawEvent(1L, ts(0), 7L, "click", 1.0, "{}"),
        RawEvent(2L, ts(5), 7L, "click", 1.0, "{}"),
        RawEvent(3L, ts(45), 7L, "click", 1.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("session_out").filter(col("key") === "7")
    assert(out.count() == 2)
    assert(out.agg(sum("n_events")).head().getLong(0) == 3)
  }

  test("streaming dedup: arriving micro-batches against the corpus index match the batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.model.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 =!= 9)
    val corpusBands = graft.operators.TextOps.signatureIndex(corpus).persist()
    corpusBands.count()
    val newDocs = graft.model.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val out = tempDir("sdedup_out")
    val q = graft.streaming.StreamingDedup.start(
      stream.toDF().toDF("doc_id", "text"), corpusBands, tempDir("sdedup_ckpt"), out)
    try {
      // two arrival waves — verdicts must not depend on batch boundaries
      val (wave1, wave2) = newDocs.splitAt(newDocs.length / 2)
      stream.addData(wave1: _*)
      q.processAllAvailable()
      stream.addData(wave2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("doc_id", "matched_old", "kept")
      .orderBy("doc_id").collect().toSeq
    val expected = graft.operators.TextOps.dedupIncremental(spark, sf)
      .collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    corpusBands.unpersist()
  }

  test("streaming image dedup verdicts match a batch recomputation over the same split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mkImage(id: Long): (Long, Array[Byte]) =
      (id, graft.operators.MultimodalOps.synthPngPixels(
        ((id % 32) + 2).toInt, ((id % 24) + 2).toInt))
    val allIds = (0L until 300L)
    val (corpusIds, newIds) = (allIds.filter(_ % 10 != 9), allIds.filter(_ % 10 == 9))
    val corpus = corpusIds.map(mkImage).toDF("doc_id", "payload")
      .as[graft.operators.MultimodalOps.ImageBytes]
    val index = graft.operators.MultimodalOps.phashIndex(corpus).persist()
    index.count()
    val stream = MemoryStream[(Long, Array[Byte])]
    val out = tempDir("simg_out")
    val q = graft.streaming.StreamingImageDedup.start(
      stream.toDF().toDF("doc_id", "payload"), index,
      tempDir("simg_ckpt"), out)
    try {
      val waves = newIds.map(mkImage)
      val (w1, w2) = waves.splitAt(waves.length / 2)
      stream.addData(w1: _*); q.processAllAvailable()
      stream.addData(w2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> (Option(r.get(2)), r.getBoolean(3))).toMap
    assert(got.keySet == newIds.toSet)
    // expected: an arriving image is a duplicate iff some corpus image
    // shares its phash class; id mod 96 determines the image exactly,
    // and the phash may additionally merge classes — recompute from the
    // REAL hashes, not the id arithmetic
    val corpusHash = graft.operators.MultimodalOps.phashOf(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byHash = corpusHash.groupBy(_._2).map { case (h, xs) => h -> xs.map(_._1).min }
    val newHash = graft.operators.MultimodalOps.phashOf(
        newIds.map(mkImage).toDF("doc_id", "payload")
          .as[graft.operators.MultimodalOps.ImageBytes])
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- newIds) {
      val expectMatch = byHash.get(newHash(id))
      assert(got(id)._1.map(_.asInstanceOf[Long]) == expectMatch,
        s"doc $id: matched_old ${got(id)._1} != expected $expectMatch")
      assert(got(id)._2 == expectMatch.isEmpty, s"doc $id kept flag wrong")
    }
    assert(got.values.exists(!_._2), "no duplicate found — vacuous")
    index.unpersist()
  }

  test("streaming decontamination incidents reproduce the batch contamination report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // sf0.01: the smallest SF whose corpus actually contains cross-split
    // contamination (sf0.001 has zero incidents — vacuous)
    val sf01 = "/root/testdata/sf0.01"
    // the offline artifact: the eval split's rare-shingle index
    val evalIdx = graft.operators.TextOps.evalShingleIndex(spark, sf01).persist()
    evalIdx.count()
    val train = graft.operators.TextOps.trainSplitDocs(spark, sf01)
      .as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val out = tempDir("sdecon_out")
    val q = graft.streaming.StreamingDecontaminate.start(
      stream.toDF().toDF("doc_id", "text"), evalIdx, tempDir("sdecon_ckpt"), out)
    try {
      // three arrival waves — incidents are per-doc self-contained, so
      // batch boundaries must not change a single verdict
      train.grouped(math.max(train.length / 3, 1)).foreach { wave =>
        stream.addData(wave: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val incidents = spark.read.parquet(out)
    assert(incidents.count() > 0, "no contamination incidents — vacuous")
    // folding the streamed incidents to best-per-eval (max overlap, min
    // train id) reproduces the batch decontaminate query bit-for-bit
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("eval_id")).orderBy(col("overlap").desc, col("train_id"))
    val best = incidents.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("eval_id").as("doc_id"), col("train_id").as("contaminated_by"),
        col("overlap"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.operators.TextOps.decontaminate(spark, sf01).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))).toMap
    assert(batch.nonEmpty)
    for ((evalDoc, verdict) <- batch) verdict match {
      case Some(hit) => assert(best.get(evalDoc).contains(hit),
        s"eval doc $evalDoc: stream says ${best.get(evalDoc)}, batch says $hit")
      case None => assert(!best.contains(evalDoc),
        s"eval doc $evalDoc clean in batch but flagged by the stream")
    }
    assert(best.keySet.subsetOf(batch.keySet))
    evalIdx.unpersist()
  }

  test("streaming cdc: merged state is batch-boundary-independent and matches cdc_upsert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.model.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[RawEvent].collect().toSeq
    val stream = MemoryStream[RawEvent]
    val statePath = tempDir("cdc_state")
    val q = graft.streaming.StreamingCdc.start(
      stream.toDF(), statePath, tempDir("cdc_ckpt"))
    try {
      // three arbitrary waves — the latest-wins merge must make the
      // final state independent of where the batch boundaries fell
      evs.grouped(math.max(evs.length / 3, 1)).foreach { wave =>
        stream.addData(wave: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val state = graft.streaming.StreamingCdc.state(spark, statePath)
    // applying the streamed state onto the base snapshot reproduces the
    // batch cdc_upsert reconstruction exactly
    val base = graft.model.Tables.customer(spark, sf)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("base_value"))
    val applied = base.join(state.select("key", "op", "new_value"),
        Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("key"), coalesce(col("op"), lit("keep")).as("op"),
        round(coalesce(col("new_value"), col("base_value")), 6).as("value"))
    val batch = graft.operators.EventOps.cdcUpsert(spark, sf)
    assert(applied.exceptAll(batch).count() == 0 &&
      batch.exceptAll(applied).count() == 0, "stream state diverged from batch merge")
    // pruning leaves at most the current and predecessor snapshots
    val vdirs = new java.io.File(statePath).list().count(_.startsWith("v="))
    assert(vdirs <= 2, s"stale snapshots not pruned: $vdirs")
  }

  test("streaming bottom-k sample equals the batch bottom-k over everything that arrived") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.model.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[RawEvent].collect().toSeq
    val stream = MemoryStream[RawEvent]
    val statePath = tempDir("btk_state")
    val q = graft.streaming.StreamingBottomK.start(
      stream.toDF(), statePath, tempDir("btk_ckpt"))
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { wave =>
        stream.addData(wave: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the merge property makes the streamed state BIT-EQUAL to the
    // batch bottom-k over the union of all waves — k rows of state were
    // ever kept, never the full history
    val got = graft.streaming.StreamingBottomK.state(spark, statePath)
      .collect().map(r => (r.getAs[Long]("hk"), r.getAs[Long]("event_id")))
      .sorted.toSeq
    val expect = graft.model.Tables.events(spark, sf)
      .select(col("event_id"),
        expr("cast(conv(substring(md5(concat('btk:', cast(event_id as string))), 1, 7), 16, 10) as bigint)").as("hk"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .sorted.take(graft.streaming.StreamingBottomK.K).toSeq
    assert(got == expect, "streamed sample diverged from the batch bottom-k")
    // pruning leaves at most the current and predecessor snapshots
    val vdirs = new java.io.File(statePath).list().count(_.startsWith("v="))
    assert(vdirs <= 2, s"stale snapshots not pruned: $vdirs")
  }

  test("streaming weighted sample equals the batch A-Res top-k over everything that arrived") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // weight = user_id + 1 (positive, deterministic per event)
    val evs = graft.model.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[RawEvent].collect().toSeq
    val stream = MemoryStream[RawEvent]
    val statePath = tempDir("wks_state")
    val weighted = stream.toDF()
      .select(col("event_id"), (col("user_id") + 1L).as("w"))
    val q = graft.streaming.StreamingWeightedSample.start(
      weighted, statePath, tempDir("wks_ckpt"))
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { wave =>
        stream.addData(wave: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // A-Res keys merge exactly like bottom-k hashes, so the streamed
    // k-row state is BIT-EQUAL to the batch weighted top-k over the
    // union of all waves
    val got = graft.streaming.StreamingWeightedSample.state(spark, statePath)
      .collect().map(r => (-r.getAs[Double]("wkey"), r.getAs[Long]("event_id")))
      .sorted.toSeq
    val expect = graft.model.Tables.events(spark, sf)
      .select(col("event_id"),
        round(exp(log((expr("cast(conv(substring(md5(concat('wks:', cast(event_id as string))), 1, 7), 16, 10) as bigint)") + lit(0.5))
          / lit(268435456.0)) / (col("user_id") + 1L).cast("double")), 6).as("wkey"))
      .collect().map(r => (-r.getDouble(1), r.getLong(0)))
      .sorted.take(graft.streaming.StreamingWeightedSample.K).toSeq
    assert(got == expect, "streamed weighted sample diverged from the batch A-Res top-k")
    val vdirs = new java.io.File(statePath).list().count(_.startsWith("v="))
    assert(vdirs <= 2, s"stale snapshots not pruned: $vdirs")
  }

  test("streaming quota sample equals the per-group batch bottom-k over everything that arrived") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.model.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[RawEvent].collect().toSeq
    val stream = MemoryStream[RawEvent]
    val statePath = tempDir("qta_state")
    val records = stream.toDF()
      .select(col("event_id").as("id"), col("event_type").as("grp"))
    val q = graft.streaming.StreamingQuotaSample.start(
      records, statePath, tempDir("qta_ckpt"))
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { wave =>
        stream.addData(wave: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // per-group merge property: the streamed state is BIT-EQUAL to the
    // per-group bottom-k over the union of all waves — state was only
    // ever groups x k rows
    val got = graft.streaming.StreamingQuotaSample.state(spark, statePath)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("hk"),
        r.getAs[Long]("id"))).sorted.toSeq
    val expect = graft.model.Tables.events(spark, sf)
      .select(col("event_type").as("grp"), col("event_id").as("id"),
        expr("cast(conv(substring(md5(concat('qta:', cast(event_id as string))), 1, 7), 16, 10) as bigint)").as("hk"))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(1)))
      .groupBy(_._1).values
      .flatMap(_.sortBy(t => (t._2, t._3))
        .take(graft.streaming.StreamingQuotaSample.PerGroup))
      .toSeq.sorted
    assert(got == expect, "streamed quota sample diverged from the per-group batch bottom-k")
    // every group that ever arrived holds at most the quota
    assert(got.groupBy(_._1).values.forall(_.size <=
      graft.streaming.StreamingQuotaSample.PerGroup))
    val vdirs = new java.io.File(statePath).list().count(_.startsWith("v="))
    assert(vdirs <= 2, s"stale snapshots not pruned: $vdirs")
  }

  test("streaming winsorize equals the batch winsorize_values bit-for-bit across waves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cuts = graft.streaming.StreamingWinsorize.offlineCuts(spark, sf)
    val all = graft.model.Tables.events(spark, sf)
      .orderBy("event_id").as[RawEvent].collect().toSeq
    val stream = MemoryStream[RawEvent]
    val q = graft.streaming.StreamingWinsorize(stream.toDS(), cuts)
      .writeStream.format("memory").queryName("wins_out")
      .option("checkpointLocation", tempDir("wins_ckpt"))
      .outputMode("append").start()
    try {
      // zero-state: any split of the input must yield the same union
      val half = all.length / 2
      stream.addData(all.take(half): _*)
      q.processAllAvailable()
      stream.addData(all.drop(half): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wins_out").orderBy("event_id").collect().toSeq
    val expected = graft.operators.AnalyticOps.winsorizeValues(spark, sf)
      .collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // an unseen type passes through unclipped (the documented default)
    val alien = graft.streaming.StreamingWinsorize(
      Seq(RawEvent(1L, ts(0), 1L, "never_seen", 1e9, "{}")).toDS(), cuts)
      .collect().head
    assert(alien.value_winsorized == 1e9)
    // non-finite values from a foreign feed never throw: NaN passes
    // through (compares false to both cuts), ±∞ clips to the cut
    val knownType = cuts.keys.min
    val (lo, hi) = cuts(knownType)
    val weird = graft.streaming.StreamingWinsorize(Seq(
      RawEvent(2L, ts(0), 1L, knownType, Double.NaN, "{}"),
      RawEvent(3L, ts(0), 1L, knownType, Double.PositiveInfinity, "{}"),
      RawEvent(4L, ts(0), 1L, knownType, Double.NegativeInfinity, "{}")).toDS(), cuts)
      .collect().sortBy(_.event_id)
    assert(weird(0).value_winsorized.isNaN)
    assert(weird(1).value_winsorized == graft.streaming.StreamingWinsorize.round6(hi))
    assert(weird(2).value_winsorized == graft.streaming.StreamingWinsorize.round6(lo))
  }

  test("streaming ewma equals the batch ewma_smooth bit-for-bit across waves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // feed per-user event order = the batch window order (ts, event_id);
    // splitting the GLOBALLY ordered feed preserves each user's order
    val all = graft.model.Tables.events(spark, sf).as[RawEvent]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    val stream = MemoryStream[RawEvent]
    val q = graft.streaming.StreamingEwma.smooth(stream.toDS())
      .writeStream.format("memory").queryName("ewma_out")
      .option("checkpointLocation", tempDir("ewma_ckpt"))
      .outputMode("append").start()
    try {
      // state carries the ring across the wave boundary: the union over
      // any order-preserving split equals one batch over the whole input
      val half = all.length / 2
      stream.addData(all.take(half): _*)
      q.processAllAvailable()
      stream.addData(all.drop(half): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ewma_out").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap
    val expected = graft.operators.AnalyticOps.ewmaSmooth(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap
    assert(got.size == all.length)
    assert(got == expected, "streamed ewma diverged from the batch window")
    // non-finite values from a foreign feed never throw: they emerge as
    // their own ewma (flag-through) and do not poison the ring
    val weird = graft.streaming.StreamingEwma.smooth(Seq(
      RawEvent(1L, ts(0), 99L, "t", Double.NaN, "{}"),
      RawEvent(2L, ts(1), 99L, "t", 1.0, "{}")).toDS())
      .collect().sortBy(_.event_id)
    assert(weird(0).ewma.isNaN)
    assert(weird(1).ewma == 1.0) // k=1 window: ewma of a single value
  }

  test("streaming rolling median equals the batch rolling_median bit-for-bit across waves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.model.Tables.events(spark, sf).as[RawEvent]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    val stream = MemoryStream[RawEvent]
    val q = graft.streaming.StreamingRollingMedian.smooth(stream.toDS())
      .writeStream.format("memory").queryName("rmed_out")
      .option("checkpointLocation", tempDir("rmed_ckpt"))
      .outputMode("append").start()
    try {
      val half = all.length / 2
      stream.addData(all.take(half): _*)
      q.processAllAvailable()
      stream.addData(all.drop(half): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rmed_out").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("rolling_median")).toMap
    val expected = graft.operators.AnalyticOps.rollingMedian(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("rolling_median")).toMap
    assert(got.size == all.length)
    assert(got == expected, "streamed rolling median diverged from the batch window")
  }

  test("streaming cusum equals the batch scan bit-for-bit across waves; argmax = changepoint rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // moments train OFFLINE on the same corpus the stream replays
    val moments = graft.streaming.StreamingCusum.offlineMoments(spark, sf)
    // feed per-type event order = the batch window order (ts, event_id);
    // splitting the GLOBALLY ordered feed preserves each type's order
    val all = graft.model.Tables.events(spark, sf).as[RawEvent]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    val stream = MemoryStream[RawEvent]
    val q = graft.streaming.StreamingCusum.scan(stream.toDS(), moments)
      .writeStream.format("memory").queryName("cusum_out")
      .option("checkpointLocation", tempDir("cusum_ckpt"))
      .outputMode("append").start()
    try {
      // state carries (t, cum) across the wave boundary
      val half = all.length / 2
      stream.addData(all.take(half): _*)
      q.processAllAvailable()
      stream.addData(all.drop(half): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cusum_out").collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("event_type"), r.getAs[Long]("t"), r.getAs[Double]("stat")))
      .toMap
    // per-event bit parity against the batch scan column
    val expected = graft.operators.AnalyticOps.cusumScan(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("event_type"), r.getAs[Long]("t"), r.getAs[Double]("stat")))
      .toMap
    assert(got.size == all.length)
    assert(got == expected, "streamed cusum stats diverged from the batch scan")
    // the per-type argmax over the streamed stats (max |stat|, ties to
    // the smallest t — the batch rank's exact order) IS the batch
    // changepoint flag set
    val streamedArgmax = got.values.groupBy(_._1).map { case (tpe, rows) =>
      val best = rows.minBy { case (_, t, s) => (-math.abs(s), t) }
      tpe -> (best._2, graft.streaming.StreamingEwma.round6(best._3))
    }
    val batchArgmax = graft.operators.AnalyticOps.cusumChangepoint(spark, sf)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("change_pos"), r.getAs[Double]("cusum_stat"))).toMap
    assert(streamedArgmax == batchArgmax, "streamed argmax != batch changepoint rows")
    // serve-time policies: an unknown type emits stat 0 (late signal,
    // never an alarm); a non-finite value flags through WITHOUT
    // advancing the type's (t, cum) state
    val weird = graft.streaming.StreamingCusum.scan(Seq(
      RawEvent(1L, ts(0), 9L, "unseen_type", 5.0, "{}"),
      RawEvent(2L, ts(1), 9L, "click", Double.NaN, "{}"),
      RawEvent(3L, ts(2), 9L, "click", 1.0, "{}")).toDS(), moments)
      .collect().sortBy(_.event_id)
    assert(weird(0).stat == 0.0 && weird(0).t == 1L)
    assert(weird(1).stat.isNaN && weird(1).t == 0L)
    assert(weird(2).t == 1L, "NaN record must not advance the cusum state")
  }

  test("streaming session windows equal the batch sessionize on closed sessions across waves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 1800L * 1000000L
    // the documented boundary divergence (strictly-below vs at-gap
    // merge) is only observable on an exact-gap tie — prove the table
    // has none, so the parity below is legitimate, not lucky
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val ties = graft.model.Tables.events(spark, sf)
      .withColumn("d", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("d") === gapUs).count()
    assert(ties == 0L, s"dataset has $ties exact-gap pairs; parity is undefined there")
    val all = graft.model.Tables.events(spark, sf)
      .orderBy("ts", "event_id").as[RawEvent].collect().toSeq
    val maxTs = all.map(_.ts.getTime).max
    val stream = MemoryStream[RawEvent]
    val q = graft.streaming.StreamingSessionWindow.sessions(stream.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .option("checkpointLocation", tempDir("sess_ckpt"))
      .outputMode("append").start()
    try {
      val half = all.length / 2
      stream.addData(all.take(half): _*)
      q.processAllAvailable()
      stream.addData(all.drop(half): _*) // sessions may span the wave cut
      q.processAllAvailable()
      // two far-future sentinels (excluded user -1) push the watermark
      // past every real session's end so append mode emits them all
      stream.addData(RawEvent(-1L, new java.sql.Timestamp(maxTs + 7200000L), -1L, "x", 0.0, "{}"))
      q.processAllAvailable()
      stream.addData(RawEvent(-2L, new java.sql.Timestamp(maxTs + 14400000L), -1L, "x", 0.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_out").filter(col("user_id") =!= -1L)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("last_ts")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val expected = graft.operators.RelationalOps.sessionize(spark, sf)
      .select(col("user_id"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got.nonEmpty, "no sessions closed — watermark never advanced")
    assert(got == expected,
      s"streaming sessions diverged from batch sessionize: ${got.size} vs ${expected.size}")
    // and the native window's end is last_ts + gap, by definition
    val endCheck = spark.table("sess_out").filter(col("user_id") =!= -1L)
      .filter(unix_micros(col("session_end")) =!=
        unix_micros(col("last_ts")) + gapUs).count()
    assert(endCheck == 0L, "session_end != last_ts + gap")
  }

  test("streaming anomaly scores equal the batch anomaly_zscore window bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the full event table, in the batch query's (ts, event_id) order,
    // arriving as three micro-batches
    val all = graft.model.Tables.events(spark, sf)
      .orderBy("ts", "event_id").as[RawEvent].collect().toSeq
    val stream = MemoryStream[RawEvent]
    val q = graft.streaming.StreamingAnomaly.detect(stream.toDS())
      .writeStream.format("memory").queryName("anomaly_out")
      .option("checkpointLocation", tempDir("anom_ckpt"))
      .outputMode("append").start()
    try {
      val third = all.length / 3
      stream.addData(all.take(third): _*)
      q.processAllAvailable()
      stream.addData(all.slice(third, 2 * third): _*)
      q.processAllAvailable() // rings must carry across the boundary
      stream.addData(all.drop(2 * third): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("anomaly_out")
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("mean"), 6).as("mean"), round(col("z"), 6).as("z"))
      .orderBy("event_id").collect().toSeq
    val expected = graft.operators.AnalyticOps.anomalyZscore(spark, sf)
      .collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty, "fixture produced no anomalies")
  }

  test("streaming top-k: ample capacity reproduces the batch heavy-hitter counts exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.model.Tables.events(spark, sf)
      .orderBy("ts", "event_id").as[RawEvent].collect().toSeq
    val stream = MemoryStream[RawEvent]
    // capacity 64 ≥ distinct users per shard → decrements never fire
    val q = graft.streaming.StreamingTopK.track(stream.toDS(), shards = 4, capacity = 64)
      .writeStream.format("memory").queryName("topk_exact")
      .option("checkpointLocation", tempDir("topk_ckpt"))
      .outputMode("update").start()
    try {
      val half = all.length / 2
      stream.addData(all.take(half): _*)
      q.processAllAvailable()
      stream.addData(all.drop(half): _*)
      q.processAllAvailable() // summaries must carry across the boundary
    } finally q.stop()
    // latest view: each shard's max-n_seen emission
    val rows = spark.table("topk_exact").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val latest = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val maxSeen = rs.map(_._4).max
      rs.filter(_._4 == maxSeen).toSeq
    }
    val est = latest.map(t => t._2 -> t._3).toMap
    val exact = all.groupBy(_.user_id).map { case (u, es) => u -> es.length.toLong }
    assert(est == exact, "ample-capacity summary must be the exact count map")
    // and the global top-5 from the union of shard summaries matches the batch query
    val top5 = est.toSeq.sortBy { case (u, n) => (-n, u) }.take(5)
    val batch = graft.operators.AnalyticOps.heavyHitters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(top5 == batch)
  }

  test("streaming top-k: tight capacity keeps the Misra-Gries undercount bound per shard") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.model.Tables.events(spark, sf)
      .orderBy("ts", "event_id").as[RawEvent].collect().toSeq
    val cap = 2
    val stream = MemoryStream[RawEvent]
    val q = graft.streaming.StreamingTopK.track(stream.toDS(), shards = 4, capacity = cap)
      .writeStream.format("memory").queryName("topk_tight")
      .option("checkpointLocation", tempDir("topk_ckpt2"))
      .outputMode("update").start()
    try {
      stream.addData(all: _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("topk_tight").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val latest = rows.groupBy(_._1).map { case (shard, rs) =>
      val maxSeen = rs.map(_._4).max
      shard -> rs.filter(_._4 == maxSeen)
    }
    val exact = all.groupBy(_.user_id).map { case (u, es) => u -> es.length.toLong }
    for ((shard, rs) <- latest) {
      assert(rs.length <= cap, s"shard $shard state exceeded capacity")
      val nShard = rs.head._4
      val bound = nShard / (cap + 1)
      for ((_, u, est, _) <- rs) {
        assert(est <= exact(u), s"user $u overcounted: $est > ${exact(u)}")
        assert(exact(u) - est <= bound, s"user $u undercount beyond MG bound")
      }
      // MG guarantee: every key with true count > bound survives in the summary
      val present = rs.map(_._2).toSet
      for ((u, n) <- exact
           if java.lang.Math.floorMod(u, 4L) == shard && n > bound)
        assert(present.contains(u), s"guaranteed heavy key $u missing from shard $shard")
    }
  }

  test("streaming substring dedup spans equal the driver reference, batch-boundary-free") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val K = graft.operators.TextOps.SubstrK
    // offline artifact: the corpus's distinct gram index
    val gramIdx = graft.operators.TextOps.corpusGramIndex(spark, sf).persist()
    gramIdx.count()
    val corpus = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase
        .replaceAll("\\s+", " ").trim.split(" ")))
    val byId = corpus.toMap
    val (x, y, z) = (corpus(0)._1, corpus(1)._1, corpus(2)._1)
    def novel(p: String, n: Int) = (1 to n).map(p + _)
    // arriving candidates: a full clone, a prefix-copy, all-novel, an
    // interior copy bracketed by novel text
    val arriving = Seq(
      100001L -> byId(x).mkString(" "),
      100002L -> (byId(y).take(20) ++ novel("zq", 15)).mkString(" "),
      100003L -> novel("zr", 30).mkString(" "),
      100004L -> (novel("zs", 5) ++ byId(z).slice(10, 22) ++ novel("zt", 5)).mkString(" "))
    // driver reference: islands of windows present in the corpus gram set
    val gramSet = corpus.flatMap { case (_, ts) =>
      if (ts.length < K) Seq.empty
      else (0 to ts.length - K).map(i => ts.slice(i, i + K).mkString(" "))
    }.toSet
    val expect = arriving.flatMap { case (id, text) =>
      val ts = text.split(" ")
      val hits = if (ts.length < K) Seq.empty
        else (1 to ts.length - K + 1).filter(i =>
          gramSet(ts.slice(i - 1, i - 1 + K).mkString(" ")))
      val spans = hits.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, p) if p == e0 + 1 => (s0, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.reverse
      spans.map { case (s0, e0) =>
        (id, s0, e0 + K - 1, e0 - s0 + K, (e0 - s0 + 1).toLong) }
    }.toSet
    assert(expect.exists(_._1 == 100001L) && expect.exists(_._1 == 100004L))
    assert(!expect.exists(_._1 == 100003L), "novel doc must produce no span")
    val stream = MemoryStream[(Long, String)]
    val out = tempDir("ssub_out")
    val q = graft.streaming.StreamingSubstringDedup.start(
      stream.toDF().toDF("doc_id", "text"), gramIdx, tempDir("ssub_ckpt"), out)
    try {
      // two arrival waves: spans are per-doc self-contained, so the
      // boundary must not change anything
      arriving.grouped(2).foreach { wave =>
        stream.addData(wave: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("start_pos"),
        r.getAs[Int]("end_pos"), r.getAs[Int]("span_tokens"),
        r.getAs[Long]("n_windows"))).toSet
    assert(got == expect, s"streamed spans != reference\ngot    $got\nexpect $expect")
    gramIdx.unpersist()
  }

  test("streaming ANN probe results are bit-parity with batch searchRouted over 2 waves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val P = graft.operators.GraphAnn.Params(
      m = 8, efConstruction = 48, efSearch = 64, nShards = 4)
    val e = graft.model.Tables.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    // offline artifacts: trained centroids + the routed index they shard
    val seeds = graft.operators.GraphAnn.trainedSeeds(e, P)
    val idx = graft.operators.GraphAnn.buildIndexRouted(e, P, seeds).persist()
    idx.count()
    val probes = e.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val stream = MemoryStream[(Long, Array[Double])]
    val out = tempDir("sann_out")
    val q = graft.streaming.StreamingAnnProbe.start(
      stream.toDF().toDF("vec_id", "v"), idx, seeds, 11, P,
      probeShards = 2, tempDir("sann_ckpt"), out)
    try {
      val (w1, w2) = probes.splitAt(probes.length / 2)
      stream.addData(w1: _*); q.processAllAvailable()
      stream.addData(w2: _*); q.processAllAvailable()
    } finally q.stop()
    // probes are independent, so the union of per-batch results must
    // equal ONE batch search over all probes — bit-parity incl. ranks
    val got = spark.read.parquet(out)
      .select("probe_id", "rk", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val expect = graft.operators.GraphAnn
      .searchRouted(idx, seeds, probes, 11, P, probeShards = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expect)
    assert(got.map(_._1) == probes.map(_._1).toSet, "every probe answered")
    idx.unpersist()
  }

  test("streaming benford monitor equals the batch digit kernel across waves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.model.Tables.events(spark, sf).as[RawEvent]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    val stream = MemoryStream[RawEvent]
    val q = graft.streaming.StreamingBenford.profile(stream.toDS())
      .writeStream.format("memory").queryName("benford_out")
      .option("checkpointLocation", tempDir("benford_ckpt"))
      .outputMode("update").start()
    try {
      val half = all.length / 2
      stream.addData(all.take(half): _*)
      q.processAllAvailable()
      stream.addData(all.drop(half): _*)
      q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits a digit's running count each batch it moves:
    // counts only grow, so the final snapshot is the per-digit max
    val got = spark.table("benford_out").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).max }
    // one batch pass over the same rows, through the batch audit's
    // EXPRESSION chain (round -> cents -> decimal rendering -> head)
    val expected = graft.model.Tables.events(spark, sf)
      .filter(col("value") > 0.0)
      .select(substring(round(col("value") * 100, 0).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == expected, "streamed digit counts diverged from the batch chain")
    // the profile helper replays the batch share/expectation chain
    val rows = graft.streaming.StreamingBenford.profileRows(got)
    val tot = got.values.sum
    rows.foreach { r =>
      assert(r.n == got(r.digit))
      assert(r.obs_share ==
        graft.streaming.StreamingBenford.round6(r.n.toDouble / tot.toDouble))
      assert(r.abs_dev >= 0.0 && r.exp_share > 0.0 && r.exp_share < 0.5)
    }
    assert(math.abs(rows.map(_.exp_share).sum - 1.0) < 1e-4)
  }
}
