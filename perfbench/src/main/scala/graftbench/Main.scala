package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run: `Main <plan.json> <result.json>`.
  *
  * The plan (written by run.py) names the workload, its generated input
  * directories, its sizes and whether to trace. The result holds raw
  * measurements (per-op times, per-key times, micro-batch progress, spans,
  * counters, correctness checks); run.py turns them into metrics. */
object Main {
  val mapper = new ObjectMapper()

  final class Plan(val node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def long(k: String): Long = node.get(k).asLong()
    def dbl(k: String): Double = node.get(k).asDouble()
    def bool(k: String): Boolean = node.get(k).asBoolean()
    def strs(k: String): Seq[String] = node.get(k).elements().asScala.map(_.asText()).toSeq
    def objs(k: String): Seq[Plan] = node.get(k).elements().asScala.map(new Plan(_)).toSeq
  }

  /** Mutable result document plus the run's operation tally. */
  final class Result {
    val doc = new JMap[String, Any]()
    private val checks = new JList[JMap[String, Any]]()
    var attempted = 0L
    var failed = 0L
    doc.put("checks", checks)

    def put(k: String, v: Any): Unit = doc.put(k, v)
    def check(name: String, ok: Boolean, detail: String = ""): Unit =
      checks.add(jmap("name" -> name, "ok" -> ok, "detail" -> detail))
  }

  def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def jlist[T](xs: Iterable[T]): JList[T] = new JList[T](xs.asJavaCollection)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(plan: Plan): SparkSession = {
    val work = plan.str("work_dir")
    val spark = SparkSession.builder()
      .master(s"local[${plan.int("cores")}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", plan.int("cores").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Collect a key's full result as a user would see it (every column of
    * every row reaches the driver), and time it. */
  def runKey(spark: SparkSession, key: String, dir: String): (Double, DataFrame, Array[Row]) = {
    val t0 = System.nanoTime()
    val df = Trace.span("operators:build")(graft.SparkEntry.queries(key)(spark, dir))
    val rows = df.collect()
    (secondsSince(t0), df, rows)
  }

  /** Untimed: blocking cache release between keys, as graft.Bench does. */
  def cleanup(spark: SparkSession): Unit =
    Trace.span("api.Caches:release")(graft.api.Caches.release(spark))

  /** Store a collected result as parquet for the DuckDB checks. */
  def saveRows(spark: SparkSession, df: DataFrame, rows: Array[Row], path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val plan = new Plan(mapper.readTree(new File(args(0))))
    val result = new Result
    result.put("jvm_boot_s",
      (entered - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)

    // a cold session start (class loading, first job) is part of set-up
    val ts = System.nanoTime()
    val spark = session(plan)
    spark.range(1000).selectExpr("sum(id)").collect()
    result.put("session_s", secondsSince(ts))

    val workload: Workload = plan.str("workload") match {
      case "bus_ops" => new BusOps(spark, plan, result)
      case "topic_consume" => new TopicConsume(spark, plan, result)
      case "corpus" => new Corpus(spark, plan, result)
      case w => sys.error(s"unknown workload $w")
    }
    val tw = System.nanoTime()
    workload.warmUp()
    result.put("warmup_s", secondsSince(tw))

    if (plan.bool("trace")) Trace.start(spark)
    val tm = System.nanoTime()
    workload.measure()
    val measuredS = secondsSince(tm)
    Trace.stop()
    result.put("measured_s", measuredS)
    if (plan.bool("trace")) {
      result.put("spans", Trace.spanList)
      result.put("counters", jmap(Trace.counters.snapshot.toSeq: _*))
      result.put("trace_overhead_ms", Trace.overheadMs)
    }
    workload.finish()
    result.put("attempted", result.attempted)
    result.put("failed", result.failed)
    result.put("peak_rss_mb", peakRssMb())
    spark.stop()
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), result.doc)
  }
}

/** A workload: untimed warm-up, the measured phase, then untimed output
  * for the correctness checks. */
trait Workload {
  def warmUp(): Unit
  def measure(): Unit
  def finish(): Unit
}
