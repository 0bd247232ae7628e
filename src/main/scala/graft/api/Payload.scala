package graft.api

import org.apache.spark.sql.SparkSession

/** Payload-access mode for the schemaless `props` JSON column
  * (round-15 verdict item 5 / SURVEY §1.3's VariantType upgrade path).
  *
  * Default `string`: every probe runs `get_json_object` over the JSON
  * text — codegen'd, oracle-exact (DuckDB re-states the same string
  * path), but each probe RE-PARSES the payload.
  *
  * `spark.graft.payload=variant` flips the JSON-probe family
  * (`json_path_pack`, `typed_payload`, `event_decode`, `include_match`)
  * to Spark 4's VARIANT: `parse_json(props)` ONCE into the binary
  * variant encoding, then `try_variant_get` per field — the parse cost
  * is paid once per row instead of once per probe, and at 100 TB the
  * real win is upstream of the query: a lake that SHREDS variant at
  * write time skips run-time parsing entirely (this flag prices the
  * query-side half of that migration on identical data via
  * `SPARK_GRAFT_CONF=spark.graft.payload=variant`).
  *
  * Flag-gated and oracle-default-off: the
  * DuckDB oracles state `get_json_object` string semantics, and variant
  * null/typing edge cases (absent path vs typed null, number rendering)
  * are not guaranteed to round-trip identically through a DIFFERENT
  * engine — Verify refuses to dump under `variant`, while the in-engine A/B and VariantSpec pin that
  * both modes return identical values on the driver tables. */
object Payload {
  val ModeKey = "spark.graft.payload"

  def variant(spark: SparkSession): Boolean =
    GraftConfig.get(spark, ModeKey, "string").trim.equalsIgnoreCase("variant")

  /** The WRITER half of the variant migration (r16 verdict item 6):
    * materialize the events table with `props` parsed ONCE into a
    * SHREDDED VARIANT column `pv` — Spark 4's parquet writer stores the
    * typed fields as real sub-columns (`spark.sql.variant.
    * writeShredding.enabled` + inferred shredding schema), so a reader
    * probing `$.k` does columnar-pruned typed reads with ZERO run-time
    * JSON parsing (`pushVariantIntoScan` rewrites `variant_get` into
    * the scan itself). This is the regime the read-side flag exists
    * for; VariantWriterAbSpec prices all three arms (string re-parse /
    * read-time parse_json / shredded) on identical data and SCALING.md
    * records the table. Returns the output path.
    *
    * The shredding confs are flipped on a CLONED session
    * (`spark.newSession()` — own SQLConf, shared SparkContext), never on
    * the caller's: a set/restore window on the shared session would race
    * any concurrent query or second writeShredded, which could observe
    * or clobber the flip. The clone is write-scoped and discarded. */
  def writeShredded(spark: SparkSession, sfDir: String, outDir: String): String = {
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    s.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    s.conf.set("spark.sql.variant.inferShreddingSchema", "true")
    graft.model.Tables.events(s, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), parse_json(col("props")).as("pv"))
      .write.mode("overwrite").parquet(outDir)
    outDir
  }
}
