package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r19 fix for the AQE replanning wrong-results hazard
  * (PLANS.md round 10; root-caused r19 — see api.AqeGuards): AQE's
  * re-optimizer re-runs EliminateLimits over LogicalQueryStage/cached
  * trees with transiently-wrong maxRows and deletes the fused
  * sort+limit, so an `orderBy().limit(k)` tail over a cached-base join
  * tree returns the WHOLE corpus on the write path. Without the
  * AqeGuards exclusion the bm25 write below reproduced 497 rows instead
  * of 20 on three out of three control runs (sf0.01, 4 shuffle
  * partitions) — this suite is RED if the guard is removed. */
class AqeGuardSpec extends AnyFunSuite with SparkTest {

  private val sf001 = "/root/testdata/sf0.01"

  test("bm25_topk write path emits exactly its top-k under AQE (hazard pin)") {
    val out = SparkEntry.queries("bm25_topk")(spark, sf001)
    val dir = tempDir("aqeguard_bm25")
    out.coalesce(1).write.mode("overwrite").parquet(dir)
    val written = spark.read.parquet(dir).count()
    assert(written === operators.CorpusOps.Bm25TopK,
      s"fused sort+limit dropped on the write path: $written rows written")
    // and the tail is the single-pass fused form, not a window workaround
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "bm25 tail is no longer a fused TakeOrderedAndProject")
  }

  test("query invocation installs the AQE rule exclusions on the session") {
    SparkEntry.queries("bm25_topk")(spark, "/root/testdata/sf0.001").count()
    val excluded = spark.conf.get("spark.sql.adaptive.optimizer.excludedRules")
    api.AqeGuards.ExcludedRules.foreach(r => assert(excluded.contains(r)))
  }

  test("a direct library call installs the exclusions through the table loaders") {
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      // no SparkEntry wrapper: the operator's own table read must guard
      operators.CorpusOps.approxTopk(spark, sf)
      val excluded = spark.conf.get(key).split(",").map(_.trim).toSet
      api.AqeGuards.ExcludedRules.foreach(r =>
        assert(excluded.contains(r), s"$r not excluded after a direct call"))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("AqeGuards merges with caller-set exclusions and stays idempotent") {
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "com.example.SomeRule")
      api.AqeGuards(spark)
      val v1 = spark.conf.get(key)
      assert(v1.startsWith("com.example.SomeRule"))
      api.AqeGuards.ExcludedRules.foreach(r => assert(v1.contains(r)))
      api.AqeGuards(spark)
      assert(spark.conf.get(key) === v1)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("pagerank write path emits at most its top-k (same hazard class)") {
    val out = SparkEntry.queries("pagerank")(spark, sf)
    val dir = tempDir("aqeguard_pr")
    out.coalesce(1).write.mode("overwrite").parquet(dir)
    val written = spark.read.parquet(dir).count()
    assert(written <= operators.GraphOps.PagerankTopK,
      s"pagerank limit dropped on the write path: $written rows written")
  }
}
