package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The distributed connected-components loop must not change any result.
  * At sf0.01 every candidate-pair graph is far below the local ceiling, so
  * the oracle run labels components with the driver-local union-find;
  * `spark.graft.cc.localMaxEdges=-1` forces the checkpointed fixpoint loop
  * of `GraphOps.connectedComponents` instead. Each key is written and read
  * back the way the oracle dump does, and the forced run must equal the
  * default run row for row (`exceptAll` both ways).
  *
  * The keys are every `SparkEntry.queries` key that reaches
  * `GraphOps.connectedComponents`, traced from its four call sites:
  *  - `TextOps.dedupGroupsUnsorted`: dedup_groups, dup_cluster_stats,
  *    dedup_canonical, dedup_survivorship, dedup_rate_by_source,
  *    soft_dedup, and group_split (MiningOps, through
  *    `TextOps.dedupGroups`);
  *  - `TextOps.dedupGroupsIncremental`, directly for the standing corpus
  *    and through `GraphOps.incrementalComponents` (the fourth call site)
  *    for the delta: dedup_groups_incremental;
  *  - `SimilarityOps.embedDedupGroups`: embed_dedup_groups. */
class CcDistributedParitySpec extends AnyFunSuite with SparkTest {

  private val sf001 = sfAt("0.01")
  private val LocalMaxKey = "spark.graft.cc.localMaxEdges"

  /** Checkpointed leaves in the plan: the distributed loop returns labels
    * over one, the local union-find over a local relation. */
  private def checkpointLeaves(df: DataFrame): Int =
    "LogicalRDD".r.findAllIn(df.queryExecution.optimizedPlan.treeString).size

  /** Builds `key` and returns its checkpointed-leaf count and the
    * written-and-reread result. */
  private def run(key: String): (Int, DataFrame) = {
    val out = SparkEntry.queries(key)(spark, sf001)
    val leaves = checkpointLeaves(out)
    val dir = tempDir(s"cc_$key")
    out.write.mode("overwrite").parquet(dir)
    api.Caches.release(spark)
    (leaves, spark.read.parquet(dir))
  }

  for (key <- Seq("dedup_groups", "dedup_groups_incremental", "dup_cluster_stats",
      "dedup_canonical", "dedup_survivorship", "dedup_rate_by_source", "soft_dedup",
      "group_split", "embed_dedup_groups"))
    test(s"$key: forced distributed CC equals the local union-find run") {
      val (defaultLeaves, default) = run(key)
      spark.conf.set(LocalMaxKey, "-1")
      val (forcedLeaves, forced) =
        try run(key) finally spark.conf.unset(LocalMaxKey)
      assert(forcedLeaves > defaultLeaves,
        s"$key: $LocalMaxKey=-1 did not take the distributed loop")
      assert(default.count() > 0, s"$key is empty at sf0.01")
      assert(forced.exceptAll(default).isEmpty, s"$key: forced run has extra rows")
      assert(default.exceptAll(forced).isEmpty, s"$key: forced run lost rows")
    }
}
