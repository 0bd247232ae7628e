package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.GraphAnn

/** Streaming ANN probe: arriving QUERY vectors beam-search the
  * offline-built ROUTED GraphAnn index per micro-batch — the
  * StreamingSubstringDedup pattern applied to the index menu's graph
  * entry (round-13 VERDICT #7), completing the streaming story for ANN:
  * the corpus index and its routing centroids are offline artifacts
  * (built once by `GraphAnn.trainedSeeds` + `buildIndexRouted`,
  * persisted by the caller), and each micro-batch's probes are answered
  * with ZERO cross-batch state — a probe's result depends only on the
  * static index, so batch boundaries cannot change any answer and the
  * stream is bit-parity with batch `searchRouted` over the same probes
  * (StreamingSpec).
  *
  * Scale shape: the probe batch is collected driver-side — probes are
  * REQUEST-sized (a serving queue's arrivals), never corpus-sized; the
  * search itself is the distributed routed beam (each probe touches
  * only its `probeShards` nearest Voronoi cells). Results land under
  * `outPath/batch=<id>/` as (probe_id, rk, vec_id, cos).
  */
object StreamingAnnProbe {

  /** Start the probe stream over (vec_id, v) query rows. `index` and
    * `seeds` must be the SAME artifacts (same build), and `index`
    * should be persisted by the caller — it is consumed once per
    * micro-batch. */
  def start(queriesDf: DataFrame, index: DataFrame,
      seeds: Array[(Int, Array[Double])], k: Int, p: GraphAnn.Params,
      probeShards: Int, checkpointDir: String, outPath: String): StreamingQuery =
    MicroBatch.foreachBatch(queriesDf, "graft-streaming-ann-probe", checkpointDir) {
      (batch, batchId) =>
        val probes = batch.select("vec_id", "v").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        if (probes.nonEmpty)
          MicroBatch.write(GraphAnn.searchRouted(index, seeds, probes, k, p, probeShards),
            MicroBatch.batchDir(outPath, batchId))
    }
}
