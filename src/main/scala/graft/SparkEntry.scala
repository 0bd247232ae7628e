package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * One `queries` entry per implemented operator from SURVEY.md §2; each has
  * a DuckDB-equivalent `oracleSql` unless genuinely non-SQL-expressible.
  * Column names and row order match between the Spark query and its oracle
  * (driver compare sorts columns by name, then hashes values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full consumer pipeline in batch form (SURVEY.md §3.2): read →
    * enrich → partition-assign → process → route ∈ {ok, dlq}.
    */
  def entry(spark: SparkSession): DataFrame =
    EventOps.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every builder
    * runs inside [[graft.api.Caches.scoped]]: its internal persists
    * release automatically once the caller's action over the result
    * completes, so a long-lived session using this map as a library never
    * accumulates cached blocks (round-9; see Caches). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (EventOps.queries ++ RelationalOps.queries ++ AnalyticOps.queries ++
      TextOps.queries ++ SimilarityOps.queries ++ MultimodalOps.queries ++
      PipelineOps.queries ++ CorpusOps.queries ++ MiningOps.queries ++
      GraphOps.queries).map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => {
        // Tables.load installs api.AqeGuards for every table read; this
        // covers the keys that build without one (the media-cache readers
        // in MultimodalOps, lsh_tune's literal grid). Idempotent.
        graft.api.AqeGuards(s)
        graft.api.Caches.scoped(s)(fn(s, dir))
      })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    EventOps.oracles ++ RelationalOps.oracles ++ AnalyticOps.oracles ++
      TextOps.oracles ++ SimilarityOps.oracles ++ MultimodalOps.oracles ++
      PipelineOps.oracles ++ CorpusOps.oracles ++ MiningOps.oracles ++
      GraphOps.oracles
}
