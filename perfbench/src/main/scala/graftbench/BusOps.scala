package graftbench

import java.util.{ArrayList => JList}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.api.{GraftBus, ReplyOk}
import graftbench.Main.{jlist, jmap}

/** bus_ops: the hivent surface as one closed-loop client.
  *
  * Part 1 builds a GraftBus store from the first `store_size` events rows,
  * then runs a fixed op sequence with seeded arguments until `seconds`
  * pass, each op issued only after the previous one returned. Every op's
  * answer is known from the inputs (a mirror of the store kept here), so a
  * wrong answer counts as a failed op. Part 2 runs the 19 EventOps query
  * keys once each, to full result. */
class BusOps(spark: SparkSession, plan: Main.Plan, result: Main.Result) extends Workload {
  private val Rpc = "rpc.echo"
  private val ops = new JList[JList[Any]]()
  private val keyTimes = new JList[JList[Any]]()
  private val outputs = mutable.LinkedHashMap.empty[String, (DataFrame, Array[Row])]
  private val keys = graft.operators.EventOps.queries.keys.toSeq.sorted

  private case class Stored(name: String, key: String, k: Int)

  private def kOf(payload: String): Int = "\\d+".r.findFirstIn(payload).get.toInt
  private def payload(k: Int): String = s"""{"k": $k}"""
  /** The consumer's processing rule: quarantine every payload with k % 5 == 0. */
  private def rejected(k: Int): Boolean = k % 5 == 0

  private def storeRows(dir: String): Seq[Stored] =
    graft.model.Tables.events(spark, dir).orderBy("event_id")
      .select("event_type", "user_id", "props").limit(plan.int("store_size")).collect()
      .map(r => Stored(r.getString(0), r.getLong(1).toString, kOf(r.getString(2)))).toSeq

  /** Closed loop over the op mix until `seconds` pass (or `maxOps` ops). */
  private def loop(rows: Seq[Stored], seconds: Double, maxOps: Int, record: Boolean): Unit = {
    val rng = new scala.util.Random(plan.long("seed"))
    val bus = new GraftBus(spark, clientId = "perfbench")
    bus.onRequest(Rpc)(e => Right(e.payload))
    val mirror = mutable.ArrayBuffer.empty[Stored]
    rows.foreach { r =>
      bus.emit(r.name, payload(r.k), 1, key = Some(r.key))
      mirror += r
    }
    val topics = rows.map(_.name).distinct.sorted
    var expectedDlq = 0L
    var misses = 0L

    // (name, weight in 5% steps, Spark-backed, op returning whether its
    // answer was right)
    val mix: Seq[(String, Int, Boolean, () => Boolean)] = Seq(
      ("emit", 15, false, () => {
        val r = rows(rng.nextInt(rows.size)).copy(k = rng.nextInt(100))
        val e = Trace.span("api.GraftBus:emit")(
          bus.emit(r.name, payload(r.k), 1, key = Some(r.key)))
        mirror += r
        e.meta.name == r.name && e.payload == payload(r.k)
      }),
      ("include_hit", 15, true, () => {
        val r = mirror(rng.nextInt(mirror.size))
        val keyMatch =
          if (r.key == null) col("meta.key").isNull else col("meta.key") === lit(r.key)
        Trace.span("api.GraftBus:include")(bus.include(keyMatch && col("meta.name") === lit(r.name)))
      }),
      ("include_miss", 10, true, () => {
        misses += 1
        !Trace.span("api.GraftBus:include")(
          bus.include(col("meta.key") === lit(s"absent-$misses")))
      }),
      ("last", 10, false, () => {
        val l = Trace.span("api.GraftBus:last")(bus.last())
        l.exists(e => e.meta.name == mirror.last.name && e.payload == payload(mirror.last.k))
      }),
      ("consume", 10, false, () => {
        val topic = topics(rng.nextInt(topics.size))
        val got = Trace.span("api.GraftBus:consume")(bus.consume(topic) { e =>
          if (rejected(kOf(e.payload))) Left("rejected") else Right(())
        })
        val mine = mirror.filter(_.name == topic)
        val bad = mine.count(s => rejected(s.k)).toLong
        expectedDlq += bad
        got == ((mine.size - bad, bad))
      }),
      ("dead_letters", 5, false, () =>
        Trace.span("api.GraftBus:deadLetters")(bus.deadLetters()).size == expectedDlq),
      ("push_and_receive", 10, false, () => {
        val k = rng.nextInt(100)
        val reply = Trace.span("api.GraftBus:pushAndReceive")(
          bus.pushAndReceive(Rpc, payload(k), 1))
        mirror += Stored(Rpc, null, k)
        reply == ReplyOk(payload(k))
      }),
      ("to_df_count", 25, true, () =>
        Trace.span("api.GraftBus:toDF")(bus.toDF.count()) == mirror.size))
    // every run issues the same op sequence, so op shares (and with them
    // the percentiles) do not depend on the seed; the seed picks arguments
    val schedule = new scala.util.Random(0)
      .shuffle(mix.flatMap(m => Seq.fill(m._2 / 5)(m)))

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline && n < maxOps) {
      val (name, _, isSpark, op) = schedule(n % schedule.size)
      n += 1
      Trace.opId = n
      val t0 = System.nanoTime()
      val ok =
        try Trace.span("bench:op")(op())
        catch { case scala.util.control.NonFatal(e) =>
          if (record) result.check(s"op $name", ok = false, String.valueOf(e))
          false
        }
      val ms = (System.nanoTime() - t0) / 1e6
      if (record) {
        result.attempted += 1
        if (!ok) result.failed += 1
        ops.add(jlist(Seq[Any](name, ms, isSpark, ok)))
      }
    }
  }

  private def keysPass(dir: String): Unit =
    keys.zipWithIndex.foreach { case (k, i) =>
      Trace.opId = 1000000 + i
      result.attempted += 1
      try {
        val (s, df, rows) = Trace.span("bench:key")(Main.runKey(spark, k, dir))
        keyTimes.add(jlist(Seq[Any](k, s, rows.length)))
        outputs(k) = (df, rows)
      } catch { case scala.util.control.NonFatal(e) =>
        result.failed += 1
        result.check(s"key $k", ok = false, String.valueOf(e))
      }
      Main.cleanup(spark)
    }

  /** Warms the op mix only: the keys pass is measured cold, as a fresh
    * job submission runs it. */
  def warmUp(): Unit =
    loop(storeRows(plan.str("data_dir")), seconds = 120, maxOps = plan.int("warm_ops"),
      record = false)

  def measure(): Unit = {
    loop(storeRows(plan.str("data_dir")), plan.dbl("seconds"), Int.MaxValue, record = true)
    keysPass(plan.str("data_dir"))
  }

  def finish(): Unit = {
    result.put("ops", ops)
    result.put("keys", keyTimes)
    val out = plan.str("work_dir") + "/out"
    val oracles = graft.SparkEntry.oracleSql
    result.put("outputs", jmap(outputs.toSeq.map { case (k, (df, rows)) =>
      Main.saveRows(spark, df, rows, s"$out/$k")
      k -> jmap("path" -> s"$out/$k", "oracle" -> oracles.getOrElse(k, null))
    }: _*))
  }
}
