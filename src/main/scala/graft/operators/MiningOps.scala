package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Tables

/** Corpus-mining operators for training-data curation (SURVEY.md §2.3):
  * temperature-scaled source mixing, content-defined chunking, and
  * leakage-safe group-level splits. These complement CorpusOps'
  * statistics with the *decisions* a data pipeline makes from them —
  * what ratio to sample each source at, where chunk boundaries fall,
  * and which side of the train/eval fence a whole duplicate-cluster
  * lands on.
  *
  * Scale notes (100 TB):
  *  - temperature_mix aggregates to ONE row per source before any math;
  *    the windows that normalize the weights run over that source-count
  *    sized table (single-digit rows), never the corpus.
  *  - the CDC chunker is a pure per-row pipeline over higher-order array
  *    functions — boundaries, starts, and lengths are computed inside
  *    one projection with NO explode carrying the token array, so the
  *    only exchange is the final presentation sort (cdc_chunk) or the
  *    chunk-hash groupBy (cdc_dedup, which shuffles 32-char hashes, not
  *    text).
  *  - group_split reuses the dedup connected components; the split
  *    decision is a hash of the GROUP id, so it needs no extra shuffle
  *    beyond what dedup_groups already does, and membership is stable
  *    as the corpus grows (same property as dataset_split).
  *
  * Determinism: weights go through round(·,6) + DECIMAL(18,6) before
  * the normalizing sum so addition is exact and order-independent;
  * sqrt and double division are IEEE-correctly-rounded in both engines
  * (the reason the temperature is fixed at α = 1/2 — pow(x, α) for
  * general α is NOT correctly rounded and could diverge in the last
  * ulp across engines).
  */
object MiningOps {

  // ------------------------------------------------- temperature mixing
  /** Token budget distributed across sources by the temperature weights. */
  private[operators] val TempMixBudget = 1000000L

  /** Temperature-scaled source sampling weights (the multilingual-
    * training rebalance): w_i = p_i^α / Σ p_j^α with α = 1/2, where p_i
    * is source i's share of corpus tokens. α < 1 flattens the mixture —
    * low-resource sources are upsampled relative to their natural share
    * — and α = 1/2 specifically keeps every step correctly rounded
    * (sqrt, unlike pow, is exact-to-ulp in both engines). Output is one
    * row per source with its natural token count, normalized sampling
    * weight, and the token budget that weight allocates. */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.fannedDocuments(spark, sfDir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .withColumn("total", sum(col("n_tokens")).over(wAll))
      .withColumn("sw",
        round(sqrt(col("n_tokens").cast("double") / col("total").cast("double")), 6)
          .cast(DecimalType(18, 6)))
      .withColumn("tot_sw", sum(col("sw")).over(wAll))
      .withColumn("weight",
        round(col("sw").cast("double") / col("tot_sw").cast("double"), 6))
      .select(col("source"), col("n_tokens"), col("weight"),
        floor(col("weight") * lit(TempMixBudget) + lit(0.5)).cast("long")
          .as("target_tokens"))
      .orderBy("source")
  }

  // ---------------------------------------------- content-defined chunks
  /** Boundary modulus: a token ends a chunk when its 28-bit hash ≡ 0
    * (mod this), giving expected chunk length = ChunkMod tokens. */
  private[operators] val ChunkMod = 8

  /** Chunk geometry computed entirely inside per-row array expressions:
    * `starts` = chunk start offsets (0 plus every post-boundary position
    * that isn't past the end), `nexts` = each chunk's end offset. The
    * token array never rides through an explode. */
  private def chunked(spark: SparkSession, sfDir: String): DataFrame = {
    val hash28 = "cast(conv(substring(md5(element_at(tokens, i + 1)), 1, 7), 16, 10) as bigint)"
    TextOps.normed(spark, sfDir)
      .select(col("doc_id"), split(col("norm"), " ").as("tokens"))
      .withColumn("bpos",
        expr(s"filter(sequence(0, size(tokens) - 1), i -> $hash28 % $ChunkMod = 0)"))
      .withColumn("starts",
        expr("concat(array(0), transform(filter(bpos, i -> i + 1 < size(tokens)), i -> i + 1))"))
      .withColumn("nexts",
        expr("concat(slice(starts, 2, size(starts) - 1), array(size(tokens)))"))
  }

  /** Content-defined chunking stats per document (the LBFS/FastCDC idea
    * at token granularity): boundaries follow the CONTENT, so an
    * insertion early in a document shifts only the chunk it lands in —
    * unlike fixed windows (passage_dedup), where one added token
    * re-hashes every downstream window. The per-doc chunk count and max
    * chunk length characterize the chunker; cdc_dedup consumes the same
    * geometry for cross-document dedup. */
  def cdcChunk(spark: SparkSession, sfDir: String): DataFrame =
    chunked(spark, sfDir)
      .select(col("doc_id"),
        size(col("starts")).cast("long").as("n_chunks"),
        expr("array_max(zip_with(starts, nexts, (s, e) -> e - s))").cast("long")
          .as("max_chunk_tokens"))
      .orderBy("doc_id")

  /** Top-20 most repeated content-defined chunks corpus-wide: chunk text
    * is hashed per-row (md5 of the token slice), then one groupBy over
    * 32-char hashes counts occurrences and distinct documents — the
    * variable-boundary analog of passage_dedup, robust to token
    * insertions. The global top-k is a TakeOrderedAndProject. */
  def cdcDedup(spark: SparkSession, sfDir: String): DataFrame =
    chunked(spark, sfDir)
      .select(col("doc_id"), explode(
        expr("zip_with(starts, nexts, (s, e) -> md5(array_join(slice(tokens, s + 1, e - s), ' ')))"))
        .as("chunk_hash"))
      .groupBy(col("chunk_hash"))
      .agg(count_distinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("chunk_hash"))
      .limit(20)

  // ----------------------------------------------- leakage-safe splits
  /** Train/val/test assignment by DEDUP GROUP, not by document: hashing
    * doc ids (dataset_split) puts two near-duplicates on opposite sides
    * of the train/eval fence — the classic contamination leak. Hashing
    * the connected-component id instead moves whole duplicate clusters
    * together; same 900/50/50 per-mille thresholds as dataset_split. */
  def groupSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val b = expr("cast(conv(substring(md5(concat('gsp:', cast(group_id as string))), 1, 7), 16, 10) as bigint) % 1000")
    TextOps.dedupGroups(spark, sfDir)
      .select(col("group_id"),
        when(b < 900, "train").when(b < 950, "val").otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count_distinct(col("group_id")).as("n_groups"), count(lit(1)).as("n_docs"))
      .orderBy("split")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "temperature_mix" -> (temperatureMix _),
    "cdc_chunk"       -> (cdcChunk _),
    "cdc_dedup"       -> (cdcDedup _),
    "group_split"     -> (groupSplit _))

  /** DuckDB equivalents. The chunk CTEs restate the identical geometry
    * with list lambdas (1-based list_extract; tokens[a:b] is 1-based
    * inclusive, matching Spark's slice(tokens, s+1, e−s)). */
  private val hash28Sql =
    "CAST(CAST('0x' || substr(md5(list_extract(tokens, i + 1)), 1, 7) AS INTEGER) AS BIGINT)"

  private val chunkCtesSql: String =
    s"""tk AS (SELECT doc_id, string_split(${TextOps.normSql}, ' ') AS tokens FROM documents),
      |bp AS (SELECT doc_id, tokens,
      |  list_filter(range(0, array_length(tokens)), i -> $hash28Sql % $ChunkMod = 0) AS bpos
      | FROM tk),
      |geo AS MATERIALIZED (SELECT doc_id, tokens,
      |  list_concat([CAST(0 AS BIGINT)],
      |   list_transform(list_filter(bpos, i -> i + 1 < array_length(tokens)), i -> i + 1)) AS starts,
      |  list_concat(
      |   list_transform(list_filter(bpos, i -> i + 1 < array_length(tokens)), i -> i + 1),
      |   [CAST(array_length(tokens) AS BIGINT)]) AS nexts
      | FROM bp)""".stripMargin

  val oracles: Map[String, String] = Map(
    "temperature_mix" ->
      s"""WITH t AS (SELECT source,
        |  CAST(sum(CAST(array_length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
        | FROM documents GROUP BY source),
        |g AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
        |s AS (SELECT source, n_tokens,
        |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS DECIMAL(18,6)) AS sw
        | FROM t, g),
        |ss AS (SELECT sum(sw) AS tot_sw FROM s),
        |w AS (SELECT source, n_tokens,
        |  round(CAST(sw AS DOUBLE) / CAST(tot_sw AS DOUBLE), 6) AS weight
        | FROM s, ss)
        |SELECT source, n_tokens, weight,
        | CAST(floor(weight * $TempMixBudget + 0.5) AS BIGINT) AS target_tokens
        |FROM w ORDER BY source""".stripMargin,
    "cdc_chunk" ->
      s"""WITH $chunkCtesSql
        |SELECT doc_id, CAST(array_length(starts) AS BIGINT) AS n_chunks,
        | CAST(list_max(list_transform(range(0, array_length(starts)),
        |   j -> list_extract(nexts, j + 1) - list_extract(starts, j + 1))) AS BIGINT) AS max_chunk_tokens
        |FROM geo ORDER BY doc_id""".stripMargin,
    "cdc_dedup" ->
      s"""WITH $chunkCtesSql,
        |ch AS (SELECT doc_id, unnest(list_transform(range(0, array_length(starts)),
        |  j -> md5(array_to_string(tokens[list_extract(starts, j + 1) + 1 : list_extract(nexts, j + 1)], ' ')))) AS chunk_hash
        | FROM geo)
        |SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_occ
        |FROM ch GROUP BY chunk_hash
        |ORDER BY n_occ DESC, chunk_hash LIMIT 20""".stripMargin,
    "group_split" ->
      s"""WITH RECURSIVE ${TextOps.candCtesSql},
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
        | UNION ALL SELECT doc_b, doc_a FROM cand),
        |reach(doc_id, r) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT t.doc_id, e.dst FROM reach t JOIN edges e ON e.src = t.r),
        |grp AS (SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id),
        |s AS (SELECT group_id,
        |  CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val' ELSE 'test' END AS split
        | FROM (SELECT group_id,
        |   CAST(CAST('0x' || substr(md5('gsp:' || CAST(group_id AS VARCHAR)), 1, 7) AS INTEGER) AS BIGINT) % 1000 AS b
        |  FROM grp) t)
        |SELECT split, CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
        | CAST(count(*) AS BIGINT) AS n_docs
        |FROM s GROUP BY split ORDER BY split""".stripMargin)
}
