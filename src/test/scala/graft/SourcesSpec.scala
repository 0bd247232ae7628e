package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroEventSource, EventSource, GraftTopicLog, GraftTopicProvider}

/** Source/sink round-trips over the canonical events schema. */
class SourcesSpec extends AnyFunSuite with SparkTest {

  test("date-partitioned parquet sink prunes on time predicates") {
    val events = EventSource.parquet(spark, sf)
    val out = tempDir("part")
    EventSource.writePartitioned(events, out)
    val back = spark.read.parquet(out)
    assert(back.count() == events.count())
    // partition pruning: a date filter should scan a subset of partitions
    val pruned = back.filter(col("event_date") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    // non-empty PartitionFilters — 'PartitionFilters: []' must NOT pass
    assert("PartitionFilters: \\[[^\\]]+".r.findFirstIn(plan).isDefined, plan)
    assert(pruned.count() > 0)
  }

  test("JSON round-trip preserves rows and schema") {
    val events = EventSource.parquet(spark, sf)
    val out = tempDir("json")
    EventSource.writeJson(events, out)
    val back = EventSource.readJson(spark, out)
    assert(back.schema.fieldNames.sameElements(events.schema.fieldNames))
    assert(back.count() == events.count())
    assert(back.agg(sum("event_id")).head().getLong(0) ==
      events.agg(sum("event_id")).head().getLong(0))
    // microsecond-exact: the default .SSS format would truncate
    assert(back.agg(sum(unix_micros(col("ts")))).head().getLong(0) ==
      events.agg(sum(unix_micros(col("ts")))).head().getLong(0))
  }

  test("CSV round-trip preserves rows") {
    val events = EventSource.parquet(spark, sf)
    val out = tempDir("csv")
    EventSource.writeCsv(events, out)
    val back = EventSource.readCsv(spark, out)
    assert(back.count() == events.count())
  }

  test("ORC round-trip preserves rows and microsecond timestamps") {
    val events = EventSource.parquet(spark, sf)
    val out = tempDir("orc")
    EventSource.writeOrc(events, out)
    val back = EventSource.readOrc(spark, out)
    assert(back.schema.fieldNames.sameElements(events.schema.fieldNames))
    assert(back.count() == events.count())
    assert(back.agg(sum(unix_micros(col("ts")))).head().getLong(0) ==
      events.agg(sum(unix_micros(col("ts")))).head().getLong(0))
    // columnar pushdown works on ORC like parquet
    val plan = back.filter(col("event_id") === 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_id), EqualTo(event_id,42)"), plan)
  }

  test("Avro round-trip (avro-core container files) preserves rows, values, microsecond ts") {
    val events = EventSource.parquet(spark, sf)
    val out = tempDir("avro")
    AvroEventSource.writeAvro(events, out)
    // one container file per input partition, written by the executors
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty)
    val back = AvroEventSource.readAvro(spark, out)
    assert(back.schema.fieldNames.sameElements(events.schema.fieldNames))
    assert(back.count() == events.count())
    // value-exact: full-row content equality, not just counts
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("event_id"), unix_micros(col("ts")).as("tsm"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .collect().map(_.toString).sorted.toSeq
    assert(key(back) == key(events))
    // task-commit protocol: only committed containers remain, no temps
    assert(new java.io.File(out).listFiles().forall(f =>
      f.getName.endsWith(".avro")), "uncommitted .tmp attempt files remain")
    // the timestamp logical type must be nested on the TYPE object —
    // field-level annotations are silently dropped by Avro (ADVICE r14),
    // so external readers would see a bare long
    val hdr = new org.apache.avro.file.DataFileReader(
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".avro")).head,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val tsSchema = try hdr.getSchema.getField("ts").schema() finally hdr.close()
    assert(tsSchema.getProp("logicalType") == "timestamp-micros", tsSchema)
  }

  test("Avro round-trips documents and embeddings (schema-derived containers)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dOut = tempDir("avro_docs")
    AvroEventSource.writeAvro(docs, dOut)
    val dBack = AvroEventSource.readAvro(spark, dOut)
    assert(dBack.schema == docs.schema)
    assert(dBack.collect().map(_.toString).sorted.toSeq ==
      docs.collect().map(_.toString).sorted.toSeq)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val eOut = tempDir("avro_emb")
    AvroEventSource.writeAvro(emb, eOut)
    val eBack = AvroEventSource.readAvro(spark, eOut)
    assert(eBack.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    // float arrays bit-exact: compare raw float bits, not formatted text
    val bits = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map { r =>
        val v = r.getSeq[Float](2).map(java.lang.Float.floatToIntBits)
        (r.getLong(0), r.getInt(1), v)
      }.sortBy(_._1).toSeq
    assert(bits(eBack) == bits(emb))
  }

  test("Avro read streams: early termination closes readers, full scan exhausts") {
    // one partition -> one container with every record; a limit(3) must
    // come back without the task needing the whole container in memory
    // (the close-on-exhaustion iterator + completion listener own the
    // reader lifecycle — materializing .toVector was the r14 advice)
    val events = EventSource.parquet(spark, sf).repartition(1)
    val out = tempDir("avro_stream")
    AvroEventSource.writeAvro(events, out)
    val back = AvroEventSource.readAvro(spark, out)
    assert(back.limit(3).collect().length == 3) // abandons mid-container
    assert(back.count() == events.count())      // exhausts and closes
  }

  test("bucketed tables co-locate joins: no shuffle exchange on the join key") {
    val events = EventSource.parquet(spark, sf)
    // external table at a fresh path: the in-memory catalog dies with
    // the JVM but a warehouse-relative location would survive and block
    // the next CREATE — an explicit temp path sidesteps both
    spark.sql("DROP TABLE IF EXISTS events_bucketed")
    EventSource.writeBucketed(events, "events_bucketed", tempDir("bucketed"),
      buckets = 8, key = "user_id")
    val t = spark.table("events_bucketed")
    val joined = t.as("a").join(t.as("b"), "user_id")
      .groupBy("user_id").count()
    val plan = joined.queryExecution.executedPlan.toString
    // both sides pre-bucketed on the key: the join itself needs no
    // hashpartitioning exchange (only the scan and agg machinery remain)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 0, s"expected bucket-co-located join, got:\n$plan")
    assert(joined.count() > 0)
  }

  test("compaction rewrites fragments into size-targeted, range-disjoint files") {
    val events = EventSource.parquet(spark, sf)
    val frag = tempDir("frag")
    events.repartition(40).write.mode("overwrite").parquet(frag) // 40 small files
    val out = tempDir("compacted")
    val fs = new org.apache.hadoop.fs.Path(frag)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(frag)).getLength
    val n = graft.sources.DataLayout.compact(
      spark, frag, out, Seq("user_id", "ts"), targetBytes = bytes / 4)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == n && n >= 4 && n < 40, s"n=$n files=${files.length}")
    // content survives byte-for-byte (same rows, nothing dropped or duped)
    assert(spark.read.parquet(out).orderBy("event_id").collect().toSeq ==
      events.orderBy("event_id").collect().toSeq)
    // range clustering: per-file user_id ranges overlap only at boundaries
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("lo"), max("user_id").as("hi"))
      .orderBy("lo").collect()
    ranges.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
          s"file ranges interleave: $a vs $b")
      case _ => ()
    }
  }

  test("z-ordered layout keeps per-file key ranges disjoint for min/max skipping") {
    val events = EventSource.parquet(spark, sf)
    val out = tempDir("zordered")
    graft.sources.DataLayout.writeZordered(events, out, files = 8,
      pmod(col("user_id"), lit(256L)),
      pmod(dayofyear(col("ts")), lit(256)).cast("long"))
    val back = spark.read.parquet(out)
    assert(back.count() == events.count())
    // recompute the zkey per row and check per-file [min,max] disjointness
    val zk = graft.sources.DataLayout.zorderKey(
      pmod(col("user_id"), lit(256L)),
      pmod(dayofyear(col("ts")), lit(256)).cast("long"))
    val ranges = back.withColumn("zk", zk)
      .groupBy(input_file_name().as("f"))
      .agg(min("zk").as("lo"), max("zk").as("hi"))
      .orderBy("lo").collect()
    assert(ranges.length == 8)
    ranges.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
          s"z ranges interleave: $a vs $b")
      case _ => ()
    }
    // bit interleave is a bijection on the 16-bit grid: de-interleaving
    // recovers both dimensions exactly
    val bits = (0 until 8).map { i =>
      (shiftright(col("zk"), 2 * i + 1).bitwiseAND(lit(1L)) * lit(1L << i),
       shiftright(col("zk"), 2 * i).bitwiseAND(lit(1L)) * lit(1L << i))
    }
    val decoded = back.withColumn("zk", zk)
      .withColumn("a", bits.map(_._1).reduce(_ + _))
      .withColumn("b", bits.map(_._2).reduce(_ + _))
    assert(decoded.filter(col("a") =!= pmod(col("user_id"), lit(256L))).count() == 0)
    assert(decoded.filter(col("b") =!=
      pmod(dayofyear(col("ts")), lit(256)).cast("long")).count() == 0)
  }

  test("streaming file source replays at-rest data through the consumer") {
    val events = EventSource.parquet(spark, sf)
    val stage = tempDir("stage")
    events.write.mode("overwrite").parquet(stage)
    val stream = EventSource.streamParquet(spark, stage)
    assert(stream.isStreaming)
    val q = graft.streaming.ConsumerPipeline.start(
      stream, tempDir("ok"), tempDir("dlq"), tempDir("ckpt"))
    try q.processAllAvailable() finally q.stop()
  }

  test("topic log: no planned end offset falls inside a half-written record") {
    val dir = tempDir("torn")
    val part = GraftTopicLog.partitionFor("k", graft.model.Tables.DefaultPartitionCount)
    GraftTopicLog.append(dir, "t", Seq(("k", 1L, """{"n": 1}""")))
    val f = GraftTopicLog.partitionFile(dir, "t", part)
    val whole = f.length()
    // a second append observed mid-write: half a line, no '\n' yet
    def write(text: String): Unit = {
      val out = new java.io.FileOutputStream(f, true)
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
    write("k\t2\t{\"n\"")
    assert(f.length() > whole)

    // the uncapped source, a cap above the backlog and a cap below one record
    def open(cap: Option[Long]): MicroBatchStream with SupportsAdmissionControl = {
      val opts = (Map("path" -> dir, "topic" -> "t", "partitions" -> part.toString) ++
        cap.map(c => "maxBytesPerTrigger" -> c.toString)).asJava
      new GraftTopicProvider().getTable(GraftTopicLog.Schema, Array.empty, opts)
        .asInstanceOf[SupportsRead].newScanBuilder(new CaseInsensitiveStringMap(opts)).build()
        .toMicroBatchStream(tempDir("torn_ckpt"))
        .asInstanceOf[MicroBatchStream with SupportsAdmissionControl]
    }
    val streams = Seq(open(None), open(Some(1L << 20)), open(Some(3L)))
    val afterFirst = s"""{"$part":$whole}"""
    streams.foreach { st =>
      assert(st.latestOffset().json() == afterFirst)
      assert(st.latestOffset(st.initialOffset(), ReadLimit.allAvailable()).json() == afterFirst)
    }

    /** Values of the records in bytes [start, end) of the stream's one partition. */
    def read(st: MicroBatchStream, start: Offset, end: Offset): Seq[String] =
      st.planInputPartitions(start, end).toSeq.flatMap { p =>
        val r = st.createReaderFactory().createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => r.get().getUTF8String(4).toString).toVector
        finally r.close()
      }
    streams.foreach { st =>
      val end1 = st.latestOffset(st.initialOffset(), ReadLimit.allAvailable())
      assert(read(st, st.initialOffset(), end1) == Seq("""{"n": 1}"""))
    }
    write(": 2}\n") // the append completes
    streams.foreach { st =>
      val end1 = st.deserializeOffset(afterFirst)
      val end2 = st.latestOffset(end1, ReadLimit.allAvailable())
      assert(end2.json() == s"""{"$part":${f.length()}}""")
      assert(read(st, end1, end2) == Seq("""{"n": 2}"""), "the completed record is read exactly once")
      assert(read(st, end2, st.latestOffset(end2, ReadLimit.allAvailable())).isEmpty)
      st.stop()
    }
  }

  test("topic log: append rejects records that break the line framing and writes nothing") {
    val dir = tempDir("framing")
    GraftTopicLog.append(dir, "t", Seq(("k", 1L, """{"n": 1}""")))
    def lengths = (0 until graft.model.Tables.DefaultPartitionCount)
      .map(p => GraftTopicLog.partitionFile(dir, "t", p).length())
    val before = lengths
    val bad = Seq(
      ("k\tx", 2L, "{}") -> "key", ("k\rx", 2L, "{}") -> "key",
      ("k\nx", 2L, "{}") -> "key", ((null: String), 2L, "{}") -> "key",
      ("k", 2L, "{\r}") -> "value", ("k", 2L, "{\n}") -> "value",
      ("k", 2L, (null: String)) -> "value")
    bad.foreach { case (rec, field) =>
      // a valid record first: the whole batch is checked before any write
      val e = intercept[IllegalArgumentException] {
        GraftTopicLog.append(dir, "t", Seq(("k", 3L, """{"n": 3}"""), rec))
      }
      assert(e.getMessage.contains(field), e.getMessage)
      assert(lengths == before, s"a rejected batch wrote bytes: $rec")
    }
  }

  test("topic log: a partition count below the log's partitions fails naming the file") {
    val dir = tempDir("undercount")
    // keys k0..k19 land in all four partitions of the default count
    GraftTopicLog.append(dir, "t", (0 until 20).map(i => (s"k$i", i.toLong, "{}")))
    assert((0 until 4).forall(GraftTopicLog.partitionFile(dir, "t", _).exists()))
    def load(count: Option[Int]) = {
      val r = spark.readStream.format(classOf[GraftTopicProvider].getName)
        .option("path", dir).option("topic", "t")
      count.fold(r)(c => r.option("partition.count", c.toLong)).load()
    }
    val byOption = intercept[IllegalArgumentException](load(Some(2)))
    assert(byOption.getMessage.contains(GraftTopicLog.partitionFile(dir, "t", 2).toString),
      byOption.getMessage)
    spark.conf.set("spark.graft.partition.count", "2")
    val byConf =
      try intercept[IllegalArgumentException](load(None))
      finally spark.conf.unset("spark.graft.partition.count")
    assert(byConf.getMessage.contains("p2.log"), byConf.getMessage)
    // the writer's own count, and any larger one, still load
    assert(load(Some(4)).isStreaming && load(Some(8)).isStreaming && load(None).isStreaming)
  }
}
