package graft.sources

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A live, Kafka-shaped streaming source — the engine's analog of the
  * reference's channel subscription runtime (`lib/hivent/consumer.ex:105`
  * joins `"event:#{topic}"` with a `partition_count`; the served queue is
  * the unit of consumer-group sharing, `consumer.ex:92-96`).
  *
  * The broker log is a directory of per-partition append-only files:
  *
  * {{{ <dir>/<topic>/p<partition>.log   // line = key \t tsMicros \t value }}}
  *
  * Offsets are BYTE positions, not record numbers:
  *  - `latestOffset` is the last record boundary per partition — the
  *    file size, checked against a trailing '\n' (one byte read), no
  *    scan, the way a real broker serves end offsets;
  *  - a reader seeks straight to its start offset — resuming from a
  *    checkpoint never re-reads the log prefix;
  *  - the emitted `offset` column (the record's start byte) is strictly
  *    monotonic per partition, preserving Kafka's ordering contract.
  *
  * Consumer groups: each group member runs one streaming query over a
  * DISJOINT partition subset — either a STATIC `partitions` option (see
  * [[GraftTopicLog.assignment]] — the round-robin assignor) or, since
  * round 13, DYNAMIC membership (`group`/`member` options): the broker
  * directory doubles as the group coordinator, assignment is re-derived
  * from the alive-member registry at every micro-batch, and a takeover
  * resumes from the departed member's committed group offsets — the
  * reference server's reassignment-within-a-`@service` semantics
  * (`consumer.ex:92-96`) without a coordinator process. The union of
  * member outputs is the topic. Per-member offsets live in each
  * member's checkpoint (static mode) plus the shared group registry
  * (dynamic mode) — the Spark-native rendition of the server-held
  * consumer offsets.
  *
  * Single-writer-per-partition is the broker contract (the reference
  * serializes appends through the server). An append may be observed
  * half-written, so `latestOffset` clamps every end offset to the last
  * record boundary (just after a '\n'); a planned batch never ends
  * inside a record.
  */
object GraftTopicLog {

  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = true),
    StructField("timestamp", TimestampType, nullable = false)))

  /** Key-hash partition routing (reference `emitter.ex:53` — the key
    * "controls which partition the event is stored in"). Deterministic
    * across JVMs (String.hashCode is specified by the JLS). */
  def partitionFor(key: String, partitionCount: Int): Int = {
    val h = if (key == null) 0 else key.hashCode
    ((h % partitionCount) + partitionCount) % partitionCount
  }

  /** Round-robin partition assignor for a consumer group: member i of n
    * owns every partition p with p % n == i. Disjoint and complete, like
    * the reference server's sharing of a topic's queues across the
    * members of one `@service`. */
  def assignment(partitionCount: Int, memberIndex: Int, memberCount: Int): Seq[Int] =
    (0 until partitionCount).filter(_ % memberCount == memberIndex)

  private[sources] val PartitionFileName = "p(\\d+)\\.log".r

  def partitionFile(dir: String, topic: String, partition: Int): File =
    new File(new File(dir, topic), s"p$partition.log")

  /** Producer append (broker-side). Records are (key, tsMicros, value),
    * stored one `key\tts\tvalue` line each, so the key must be non-null
    * text without a tab or line break and the value non-null single-line
    * text (the engine's wire-debug JSON — tabs and newlines are always
    * escaped inside JSON strings). The reader ends a line at '\r' as
    * well as '\n'. A batch with any record that breaks the framing is
    * rejected whole, before any file is opened. */
  def append(dir: String, topic: String, records: Seq[(String, Long, String)],
      partitionCount: Int = graft.model.Tables.DefaultPartitionCount): Unit = {
    records.iterator.zipWithIndex.foreach { case ((k, _, v), i) =>
      def reject(field: String, why: String): Nothing =
        throw new IllegalArgumentException(
          s"topic record $i: $field $why, which the log's line framing cannot carry")
      def breaksLine(t: String) = t.indexOf('\n') >= 0 || t.indexOf('\r') >= 0
      if (k == null) reject("key", "is null")
      if (v == null) reject("value", "is null")
      if (breaksLine(k) || k.indexOf('\t') >= 0) reject("key", "contains a tab or line break")
      if (breaksLine(v)) reject("value", "contains a line break")
    }
    records.groupBy(r => partitionFor(r._1, partitionCount)).foreach {
      case (part, recs) =>
        val f = partitionFile(dir, topic, part)
        f.getParentFile.mkdirs()
        val out = new FileOutputStream(f, true)
        try {
          val payload = recs.map { case (k, ts, v) => s"$k\t$ts\t$v" }
            .mkString("", "\n", "\n")
          out.write(payload.getBytes(UTF_8))
          out.getChannel.force(false) // whole-line durability before ack
        } finally out.close()
    }
  }

  /** End byte offset per assigned partition: the last record boundary at
    * or below the file's length. A producer's append can be observed
    * mid-write, so the length alone may fall inside a record; the torn
    * tail is left for a later batch. Normally one byte is read (a log
    * ends in '\n'). */
  private[sources] def endOffsets(dir: String, topic: String,
      partitions: Seq[Int]): Map[Int, Long] =
    partitions.map { p =>
      val f = partitionFile(dir, topic, p)
      p -> (if (f.exists()) recordBoundaryAtMost(f, 0L, f.length()) else 0L)
    }.toMap

  /** Offset JSON codec — {"0":123,"7":456}; dependency-free so the
    * checkpoint format is stable. */
  private[sources] def offsetsToJson(m: Map[Int, Long]): String =
    m.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")

  private[sources] def offsetsFromJson(json: String): Map[Int, Long] = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) Map.empty
    else body.split(",").map { kv =>
      val Array(k, v) = kv.split(":").map(_.trim)
      k.stripPrefix("\"").stripSuffix("\"").toInt -> v.toLong
    }.toMap
  }

  // ------------------------------------------------ consumer-group registry
  /** The shared broker directory doubles as the GROUP COORDINATOR
    * (round 13): the reference's server reassigns a topic's queues
    * across the live members of one `@service`
    * (`lib/hivent/consumer.ex:92-96`); here the same reassignment is
    * derived by every member from shared registry state, with no
    * coordinator process:
    *
    *  - membership: each member keeps a heartbeat file
    *    `<dir>/<topic>/.group-<service>/hb-<member>` fresh (touched at
    *    every micro-batch planning step); a member is ALIVE when its
    *    heartbeat is younger than the TTL. Graceful stop deletes the
    *    file (immediate rebalance); a crash ages out after the TTL.
    *  - assignment: round-robin over the SORTED alive member ids —
    *    deterministic, so every member independently computes the same
    *    disjoint + complete partition split, re-evaluated at every
    *    micro-batch (membership changes rebalance the NEXT batch, no
    *    restart).
    *  - group offsets: each member merges its committed per-partition
    *    end offsets into its OWN file (`offsets-<member>.json`,
    *    single-writer, atomic rename — no cross-member read-modify-write
    *    race); the group position of a partition is the MAX across all
    *    member files (offsets only grow). A member taking over a
    *    partition absent from its checkpoint resumes from the group
    *    position — the dead member's last committed offset — instead of
    *    byte 0.
    *
    * Handovers are at-least-once: a batch read but not yet committed
    * when the partition moves re-reads on the new owner — the same
    * contract as the engine's streaming sinks (batch-id idempotence /
    * dropDuplicates), and exactly why those exist. */
  private def groupDir(dir: String, topic: String, service: String): File =
    new File(new File(dir, topic), s".group-$service")

  /** Register (or refresh) a member's heartbeat. Idempotent. */
  def registerMember(dir: String, topic: String, service: String,
      member: String): Unit = {
    val d = groupDir(dir, topic, service)
    d.mkdirs()
    Files.write(new File(d, s"hb-$member").toPath,
      Array.emptyByteArray)
    ()
  }

  /** Graceful leave: the next batch of every surviving member
    * rebalances immediately, without waiting out the TTL. */
  def deregisterMember(dir: String, topic: String, service: String,
      member: String): Unit = {
    Files.deleteIfExists(new File(groupDir(dir, topic, service),
      s"hb-$member").toPath)
    ()
  }

  /** Sorted ids of members whose heartbeat is younger than `ttlMillis`
    * (ttl <= 0: every registered member counts). */
  def aliveMembers(dir: String, topic: String, service: String,
      ttlMillis: Long): Seq[String] = {
    val d = groupDir(dir, topic, service)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq
      .filter(_.getName.startsWith("hb-"))
      .filter(f => ttlMillis <= 0 ||
        System.currentTimeMillis() - f.lastModified() <= ttlMillis)
      .map(_.getName.stripPrefix("hb-"))
      .sorted
  }

  /** Merge `offsets` into the member's own committed-offset file
    * (per-partition max — offsets only grow; single writer, atomic
    * publish via tmp + rename). */
  def commitMemberOffsets(dir: String, topic: String, service: String,
      member: String, offsets: Map[Int, Long]): Unit = {
    val d = groupDir(dir, topic, service)
    d.mkdirs()
    val f = new File(d, s"offsets-$member.json")
    val prior =
      if (f.exists())
        offsetsFromJson(new String(Files.readAllBytes(f.toPath), UTF_8))
      else Map.empty[Int, Long]
    val merged = (prior.keySet ++ offsets.keySet).map { p =>
      p -> math.max(prior.getOrElse(p, 0L), offsets.getOrElse(p, 0L))
    }.toMap
    val tmp = new File(d, s".offsets-$member.tmp")
    Files.write(tmp.toPath, offsetsToJson(merged).getBytes(UTF_8))
    Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The group's position per partition: max committed offset across
    * every member's offset file (dead members' files included — that is
    * precisely what a takeover resumes from). */
  def groupOffsets(dir: String, topic: String, service: String): Map[Int, Long] = {
    val d = groupDir(dir, topic, service)
    if (!d.isDirectory) return Map.empty
    d.listFiles().toSeq
      .filter(f => f.getName.startsWith("offsets-") && f.getName.endsWith(".json"))
      .flatMap(f => offsetsFromJson(
        new String(Files.readAllBytes(f.toPath), UTF_8)).toSeq)
      .groupBy(_._1)
      .map { case (p, vs) => p -> vs.map(_._2).max }
  }

  /** Largest record-boundary byte offset in (start, min(limit, size)] of
    * a partition log (a boundary sits just after a '\n'). If no newline
    * lies in that window — a single record larger than the whole byte
    * budget — returns the first boundary AFTER limit, so an undersized
    * cap degrades to one-record batches instead of stalling the stream.
    * End of file is not a boundary unless a '\n' ends it: an append can
    * be observed mid-write, and a batch ending there would read a cut
    * record. With no whole record after `start`, returns `start`. Scans
    * only a bounded window near the cap point (backward in 64 KiB
    * chunks), never the backlog. */
  private[graft] def recordBoundaryAtMost(f: File, start: Long, limit: Long): Long = {
    val size = f.length()
    val chunk = 64 * 1024
    val ch = java.nio.channels.FileChannel.open(f.toPath)
    try {
      def readRange(lo: Long, len: Int): Array[Byte] = {
        val buf = java.nio.ByteBuffer.allocate(len)
        ch.position(lo)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
        buf.array()
      }
      // backward chunked scan for the last '\n' with index in
      // [start, min(limit, size)); a log's last byte is normally '\n'
      var hi = math.min(limit, size)
      if (hi > start && readRange(hi - 1, 1)(0) == '\n') return hi
      while (hi > start) {
        val lo = math.max(start, hi - chunk)
        val arr = readRange(lo, (hi - lo).toInt)
        var i = arr.length - 1
        while (i >= 0) {
          if (arr(i) == '\n') return lo + i + 1
          i -= 1
        }
        hi = lo
      }
      // oversized record: forward scan from limit for its terminating '\n'
      var pos = limit
      while (pos < size) {
        val arr = readRange(pos, math.min(chunk.toLong, size - pos).toInt)
        var i = 0
        while (i < arr.length) {
          if (arr(i) == '\n') return pos + i + 1
          i += 1
        }
        pos += arr.length
      }
      start // no whole record after start yet
    } finally ch.close()
  }
}

private[sources] case class GraftTopicOffset(offsets: Map[Int, Long]) extends Offset {
  override def json(): String = GraftTopicLog.offsetsToJson(offsets)
}

/** One micro-batch slice of one partition: bytes [start, end) of its log. */
private[sources] case class GraftTopicInputPartition(topic: String, partition: Int,
    file: String, startByte: Long, endByte: Long) extends InputPartition

/** Micro-batch stream with source-paced admission control: the reference
  * runtime is server-paced push (`lib/hivent/consumer.ex:68` — one event
  * per `:poll`); the Spark analog is [[SupportsAdmissionControl]] with a
  * `maxBytesPerTrigger` budget. Without it, restart-after-backlog reads
  * the WHOLE backlog as one batch — unbounded executor memory and an
  * all-or-nothing commit. The budget is split across partitions
  * proportionally to their backlog and clamped to record boundaries, so
  * every batch is bounded AND every offset is replayable. */
private[sources] class GraftTopicMicroBatchStream(dir: String, topic: String,
    partitions: Seq[Int], maxBytesPerTrigger: Option[Long],
    group: Option[GroupMembership] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  group.foreach(g =>
    GraftTopicLog.registerMember(dir, topic, g.service, g.member))

  /** This member's partition set for the NEXT batch: static when no
    * group is configured; otherwise re-derived from the alive member
    * registry at every planning step (heartbeat refreshed first). Self
    * is always counted alive — it is executing this very call. */
  private def currentPartitions(): Seq[Int] = group match {
    case None => partitions
    case Some(g) =>
      GraftTopicLog.registerMember(dir, topic, g.service, g.member) // heartbeat
      val alive = (GraftTopicLog.aliveMembers(dir, topic, g.service, g.ttlMillis)
        :+ g.member).distinct.sorted
      GraftTopicLog.assignment(g.partitionCount, alive.indexOf(g.member), alive.size)
  }

  /** Effective start byte for a partition: the member's checkpointed
    * offset, else — for a partition just taken over in a rebalance —
    * the GROUP's committed position, else 0. */
  private def startFor(s: Map[Int, Long], grp: => Map[Int, Long])(p: Int): Long =
    s.getOrElse(p, if (group.isDefined) grp.getOrElse(p, 0L) else 0L)

  override def initialOffset(): Offset =
    GraftTopicOffset(
      if (group.isDefined) Map.empty
      else partitions.map(_ -> 0L).toMap)

  // uncapped fallback — the engine calls the 2-arg admission-control
  // overload below for SupportsAdmissionControl sources
  override def latestOffset(): Offset =
    GraftTopicOffset(GraftTopicLog.endOffsets(dir, topic, currentPartitions()))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = latestOffset()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[GraftTopicOffset].offsets
    val parts = currentPartitions()
    // publish the member's PROCESSED position to the group registry:
    // `start` here is the previous batch's end offset, which the engine
    // only advances to after that batch fully committed — so this is
    // exactly the position a takeover may safely resume from. (The
    // commit(end) hook below also publishes, but the engine does not
    // guarantee it fires before a query stops; the planning path runs
    // every trigger.)
    group.foreach(g => if (s0.nonEmpty)
      GraftTopicLog.commitMemberOffsets(dir, topic, g.service, g.member, s0))
    lazy val grp = group.map(g =>
      GraftTopicLog.groupOffsets(dir, topic, g.service)).getOrElse(Map.empty)
    val s = parts.map(p => p -> startFor(s0, grp)(p)).toMap
    val ends = GraftTopicLog.endOffsets(dir, topic, parts)
    maxBytesPerTrigger match {
      case None => GraftTopicOffset(ends)
      case Some(cap) =>
        val backlog = ends.map { case (p, e) =>
          p -> math.max(0L, e - s.getOrElse(p, 0L))
        }
        val total = backlog.values.sum
        if (total <= cap) GraftTopicOffset(ends)
        else GraftTopicOffset(ends.map { case (p, e) =>
          val st = s.getOrElse(p, 0L)
          if (backlog(p) == 0L) p -> st
          else {
            // proportional share of the byte budget (double math — a soft
            // budget needs no exactness, and long multiplication could
            // overflow), ≥1 so a partition with any backlog always admits
            // at least one record (the boundary clamp rounds a partial
            // record up to a whole one)
            val share = math.max(1L, (cap.toDouble * backlog(p) / total).toLong)
            p -> GraftTopicLog.recordBoundaryAtMost(
              GraftTopicLog.partitionFile(dir, topic, p), st, st + share)
          }
        })
    }
  }

  override def deserializeOffset(json: String): Offset =
    GraftTopicOffset(GraftTopicLog.offsetsFromJson(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftTopicOffset].offsets
    val e = end.asInstanceOf[GraftTopicOffset].offsets
    lazy val grp = group.map(g =>
      GraftTopicLog.groupOffsets(dir, topic, g.service)).getOrElse(Map.empty)
    e.toSeq.sortBy(_._1).flatMap { case (p, endByte) =>
      val startByte = startFor(s, grp)(p)
      if (endByte > startByte)
        Some(GraftTopicInputPartition(topic, p,
          GraftTopicLog.partitionFile(dir, topic, p).getAbsolutePath,
          startByte, endByte))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftTopicReaderFactory

  /** Retention is external; with a group configured, a completed batch
    * additionally publishes its end offsets to the member's group file —
    * the position a rebalanced takeover resumes from. */
  override def commit(end: Offset): Unit = group.foreach { g =>
    GraftTopicLog.commitMemberOffsets(dir, topic, g.service, g.member,
      end.asInstanceOf[GraftTopicOffset].offsets)
  }

  /** Graceful leave on query stop: survivors rebalance at their next
    * batch without waiting out the TTL; the member's offset file stays
    * (it IS the handover state). */
  override def stop(): Unit = group.foreach(g =>
    GraftTopicLog.deregisterMember(dir, topic, g.service, g.member))
}

/** Dynamic consumer-group settings for [[GraftTopicMicroBatchStream]]. */
private[sources] case class GroupMembership(service: String, member: String,
    partitionCount: Int, ttlMillis: Long)

private[sources] class GraftTopicReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftTopicPartitionReader(partition.asInstanceOf[GraftTopicInputPartition])
}

/** Reads records in [startByte, endByte) of one partition log as a
  * STREAM: one seek, then a buffered sequential scan. The old shape — one
  * `ByteBuffer.allocate((end-start).toInt)` of the whole slice — threw at
  * ≥2 GiB and silently truncated past 4 GiB (Int cast) while the
  * checkpoint advanced: silent data loss. A bounded buffered stream reads
  * any range size in O(64 KiB) memory. */
private[sources] class GraftTopicPartitionReader(p: GraftTopicInputPartition)
    extends PartitionReader[InternalRow] {

  private val ch = java.nio.channels.FileChannel.open(Paths.get(p.file))
  ch.position(p.startByte)

  /** Range-bounded view of the channel — EOF at endByte. */
  private val bounded = new java.io.InputStream {
    private var remaining = p.endByte - p.startByte
    private val one = new Array[Byte](1)
    override def read(): Int =
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (remaining <= 0L) return -1
      val n = ch.read(java.nio.ByteBuffer.wrap(b, off,
        math.min(len.toLong, remaining).toInt))
      if (n > 0) remaining -= n
      n
    }
  }

  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(bounded, UTF_8), 64 * 1024)
  private var pos = p.startByte
  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null && line.isEmpty) { // defensive: blank line = 1 byte
      pos += 1L
      line = reader.readLine()
    }
    if (line == null) false
    else {
      val at = pos
      pos += line.getBytes(UTF_8).length + 1L
      val Array(key, ts, value) = line.split("\t", 3)
      current = new GenericInternalRow(Array[Any](
        UTF8String.fromString(p.topic), p.partition, at,
        UTF8String.fromString(key), UTF8String.fromString(value), ts.toLong))
      true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = { reader.close(); ch.close() }
}

private[sources] class GraftTopicScan(dir: String, topic: String,
    partitions: Seq[Int], maxBytesPerTrigger: Option[Long],
    group: Option[GroupMembership]) extends Scan {
  override def readSchema(): StructType = GraftTopicLog.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftTopicMicroBatchStream(dir, topic, partitions, maxBytesPerTrigger, group)
}

private[sources] class GraftTopicTable(dir: String, topic: String,
    partitions: Seq[Int], maxBytesPerTrigger: Option[Long],
    group: Option[GroupMembership])
    extends Table with SupportsRead {
  override def name(): String = s"graft-topic($topic)"
  override def schema(): StructType = GraftTopicLog.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new GraftTopicScan(dir, topic, partitions, maxBytesPerTrigger, group)
    }
}

/** DSv2 entry point: `spark.readStream.format(classOf[GraftTopicProvider]
  * .getName).option("path", dir).option("topic", t).load()`.
  *
  * Options:
  *  - `path`            topic-log root directory (required)
  *  - `topic`           topic name (required)
  *  - `partition.count` total partitions (default 4, the reference's
  *                      `config/config.exs:8` default)
  *  - `partitions`      comma-separated subset this member consumes
  *                      (default: all) — the STATIC consumer-group
  *                      assignment
  *  - `group` + `member` DYNAMIC consumer-group membership (r13): the
  *                      member joins `@service`-style group `group`
  *                      under id `member`; its partition set is
  *                      re-derived per micro-batch from the alive
  *                      member registry (see GraftTopicLog's registry
  *                      scaladoc) — members joining/leaving/dying
  *                      rebalance the NEXT batch with takeovers
  *                      resuming from the group's committed offsets.
  *                      Mutually exclusive with `partitions`.
  *  - `member.ttl.ms`   heartbeat TTL for crash detection (default
  *                      10000; graceful stop deregisters immediately)
  *  - `maxBytesPerTrigger` admission-control byte budget per micro-batch
  *                      (default: unbounded) — bounds restart-after-
  *                      backlog batches; split across partitions
  *                      proportionally to backlog, clamped to record
  *                      boundaries
  */
class GraftTopicProvider extends TableProvider
    with org.apache.spark.internal.Logging {

  private def required(options: CaseInsensitiveStringMap, key: String): String = {
    val v = options.get(key)
    require(v != null && v.nonEmpty, s"graft-topic: missing required option '$key'")
    v
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTopicLog.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val dir = required(options, "path")
    val topic = required(options, "topic")
    // option > session conf (with env:VAR[:default] indirection, the
    // reference's {:system, VAR} form — lib/hivent/config.ex:21-38) >
    // built-in default, mirroring the reference's partition_count lookup.
    // getActiveSession first (the session that issued this read), then
    // the JVM default session: getTable can run on threads with no
    // active session set (scheduler/listener contexts), and silently
    // dropping to the built-in default there would ignore a session conf
    // the user DID set. Log when even the default session is absent.
    val confCount = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(s => graft.api.GraftConfig.getInt(s,
        "spark.graft.partition.count", graft.model.Tables.DefaultPartitionCount))
      .getOrElse {
        logWarning("graft-topic: no active or default SparkSession on this " +
          "thread; spark.graft.partition.count (if set) is not visible — " +
          s"using built-in default ${graft.model.Tables.DefaultPartitionCount}")
        graft.model.Tables.DefaultPartitionCount
      }
    val count = options.getInt("partition.count", confCount)
    // a log written with more partitions than `count` would have its
    // higher partitions silently never read
    val logFiles = Option(new java.io.File(dir, topic).listFiles()).getOrElse(Array.empty)
    logFiles.map(_.getName).collect { case GraftTopicLog.PartitionFileName(k) => k.toInt }
      .filter(_ >= count).minOption.foreach { k =>
        throw new IllegalArgumentException(
          s"graft-topic: ${GraftTopicLog.partitionFile(dir, topic, k)} holds partition $k, " +
            s"but partition.count is $count: set it to the count the log was written with")
      }
    val partitions = Option(options.get("partitions")).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(0 until count)
    partitions.foreach(p => require(p >= 0 && p < count,
      s"graft-topic: partition $p outside [0, $count)"))
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map { v =>
      val n = v.toLong
      require(n > 0, s"graft-topic: maxBytesPerTrigger must be positive, got $n")
      n
    }
    val groupOpt = Option(options.get("group")).filter(_.nonEmpty).map { svc =>
      require(options.get("partitions") == null,
        "graft-topic: 'group' (dynamic assignment) and 'partitions' " +
          "(static assignment) are mutually exclusive")
      val member = required(options, "member")
      GroupMembership(svc, member, count,
        options.getLong("member.ttl.ms", 10000L))
    }
    new GraftTopicTable(dir, topic, partitions, maxBytes, groupOpt)
  }
}
