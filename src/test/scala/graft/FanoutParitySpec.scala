package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The forced `Tables.fanned` fan-out must not change any result. At
  * sf0.01 the 500-row slice floor keeps the fan-out off, so this runs at
  * sf0.1, where `spark.graft.fanout.minRows=1` turns it on for both
  * `documents` (5,000 rows) and `embeddings` (2,000 rows). Each key is
  * written and read back the way the oracle dump does, and the forced
  * run must equal the default run row for row (`exceptAll` both ways). */
class FanoutParitySpec extends AnyFunSuite with SparkTest {

  private val sf01 = sfAt("0.1")
  private val MinRowsKey = "spark.graft.fanout.minRows"

  private def roundRobin(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")

  /** Builds `key`, reports whether its plan fans out, and returns the
    * written-and-reread result. */
  private def run(key: String): (Boolean, DataFrame) = {
    val out = SparkEntry.queries(key)(spark, sf01)
    val fans = roundRobin(out)
    val dir = tempDir(s"fanout_$key")
    out.write.mode("overwrite").parquet(dir)
    api.Caches.release(spark)
    (fans, spark.read.parquet(dir))
  }

  for (key <- Seq("dedup_minhash_pairs", "tfidf_cosine_topk", "knn_graph"))
    test(s"$key: forced fan-out equals the default run") {
      val (defaultFans, default) = run(key)
      assert(!defaultFans, s"$key fans out at sf0.1 without the override")
      spark.conf.set(MinRowsKey, "1")
      val (forcedFans, forced) =
        try run(key) finally spark.conf.unset(MinRowsKey)
      assert(forcedFans, s"$key has no round-robin exchange with $MinRowsKey=1")
      assert(default.count() > 0, s"$key is empty at sf0.1")
      assert(forced.exceptAll(default).isEmpty, s"$key: forced run has extra rows")
      assert(default.exceptAll(forced).isEmpty, s"$key: forced run lost rows")
    }
}
