package graftbench

import java.util.{ArrayList => JList}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graftbench.Main.{jlist, jmap}

/** corpus: heavy batch keys, in phases that each fix a data set and a
  * shuffle-partition count. One cold pass: each key runs once, to full
  * result; in a traced run the exec and cache counters are read per key.
  * Phases that name fanned tables then time `Tables.fanned` and record the
  * partitions it yields. That probe runs after the phase's keys, so the
  * caches it fills (row counts, file listings) never warm a timed key. */
class Corpus(spark: SparkSession, plan: Main.Plan, result: Main.Result) extends Workload {
  private val keyTimes = new JList[JList[Any]]()
  private val perKey = new JList[Any]()
  private val fanned = new JList[JList[Any]]()
  private val outputs = mutable.LinkedHashMap.empty[String, (String, DataFrame, Array[Row])]

  def warmUp(): Unit = ()

  def measure(): Unit =
    plan.objs("phases").foreach { ph =>
      val dir = ph.str("data_dir")
      spark.conf.set("spark.sql.shuffle.partitions", ph.int("partitions").toString)
      ph.strs("keys").foreach { k =>
        Trace.opId += 1
        Trace.drain()
        Trace.counters.resetCachePeak()
        val before = Trace.counters.snapshot
        result.attempted += 1
        try {
          val (s, df, rows) = Trace.span("bench:key")(Main.runKey(spark, k, dir))
          Trace.drain()
          val after = Trace.counters.snapshot
          keyTimes.add(jlist(Seq[Any](k, s, rows.length)))
          perKey.add(jmap(("key" -> k) +: ("seconds" -> s) +:
            after.toSeq.map { case (c, v) =>
              c -> (if (c == "cached_peak_bytes") v else v - before(c)) }: _*))
          outputs.getOrElseUpdate(k, (dir, df, rows))
        } catch { case scala.util.control.NonFatal(e) =>
          result.failed += 1
          result.check(s"key $k", ok = false, String.valueOf(e))
        }
        Main.cleanup(spark)
        // a full GC too, so one key's persisted debris never lands on the next
        System.gc()
      }
      ph.strs("fanned").foreach { t =>
        val t0 = System.nanoTime()
        val parts = Trace.span("model.Tables:fanned")(
          graft.model.Tables.fanned(spark, dir, t).rdd.getNumPartitions)
        fanned.add(jlist(Seq[Any](t, Main.secondsSince(t0) * 1000, parts)))
      }
    }

  def finish(): Unit = {
    result.put("keys", keyTimes)
    result.put("per_key", perKey)
    result.put("fanned", fanned)
    val out = plan.str("work_dir") + "/out"
    val oracles = graft.SparkEntry.oracleSql
    result.put("outputs", jmap(outputs.toSeq.map { case (k, (dir, df, rows)) =>
      Main.saveRows(spark, df, rows, s"$out/$k")
      k -> jmap("path" -> s"$out/$k", "data_dir" -> dir, "oracle" -> oracles.getOrElse(k, null))
    }: _*))
  }
}
