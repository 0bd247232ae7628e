package graft.api

import org.apache.spark.sql.SparkSession

/** Typed configuration resolution with environment-variable indirection —
  * the engine analog of the reference's config module
  * (`lib/hivent/config.ex:21-56`, `Config.get/3` + `Config.get_integer/3`).
  *
  * The reference reads application config where a value may be a literal,
  * `{:system, "VAR"}` (resolve from the process environment, falling back
  * to the caller's default), or `{:system, "VAR", preconfigured}` (resolve
  * from the environment, falling back to a default baked into the config
  * itself). `get_integer/3` layers leading-prefix integer coercion on top
  * (`Integer.parse`), returning the default when the value does not start
  * with an integer.
  *
  * The Spark analog of application config is the session's `RuntimeConfig`
  * (`spark.conf`), so the same three value forms are spelled as strings:
  *
  *  - `"42"`               → the literal value
  *  - `"env:VAR"`          → `sys.env("VAR")`, else the caller's default
  *  - `"env:VAR:fallback"` → `sys.env("VAR")`, else `"fallback"`
  *
  * An unset conf key resolves to the caller's default, exactly like the
  * reference's `nil -> default` branch. The environment lookup is
  * injectable so the doctest-mirror spec can exercise both hit and miss
  * without mutating the JVM environment.
  */
object GraftConfig {

  private val EnvWithDefault = "env:([^:]+):(.*)".r
  private val EnvOnly = "env:([^:]+)".r

  /** `Config.get/3`: conf value with env indirection, else `default`. */
  def get(spark: SparkSession, key: String, default: String): String =
    get(spark.conf.getOption(key), default, sys.env.get(_))

  /** Resolution core, env lookup injectable (spec uses a fixed map). */
  private[graft] def get(raw: Option[String], default: String,
      env: String => Option[String]): String =
    raw match {
      case Some(EnvWithDefault(v, fallback)) => env(v).getOrElse(fallback)
      case Some(EnvOnly(v)) => env(v).getOrElse(default)
      case Some(value) => value
      case None => default
    }

  /** `Config.get_integer/3`: [[get]] plus leading-prefix integer coercion
    * — `"12"` → 12, `"12sec"` → 12 (the reference's `Integer.parse`
    * returns the parsed prefix), non-numeric → `default`. */
  def getInt(spark: SparkSession, key: String, default: Int): Int =
    parseLeadingInt(get(spark, key, default.toString), default)

  /** Long-valued variant for byte/row-count sized knobs. */
  def getLong(spark: SparkSession, key: String, default: Long): Long =
    parseLeadingLong(get(spark, key, default.toString), default)

  /** Row-count ceiling for the library's DATA-DEPENDENT forced
    * broadcasts (the candidate-doc semi-filter lists in the MinHash
    * family, the hard-negative anchor table). Spark's own
    * `autoBroadcastJoinThreshold` only governs the optimizer's choice —
    * an explicit `broadcast()` hint bypasses it, so a hinted side whose
    * size is corpus-dependent (LSH output on a clone-dense corpus
    * approaches corpus scale) could OOM the driver at 100 TB with no
    * gate. Sites count their already-materialized base, broadcast at or
    * under the gate, and fall back to a shuffle join above it — the same
    * adaptivity as the CC local-ceiling (`spark.graft.cc.localMaxEdges`):
    * pick the physical strategy AFTER the size is known. 1M id rows
    * ≈ 16 MB broadcast — comfortably executor-sized. */
  val BroadcastGateKey = "spark.graft.broadcastMaxRows"
  val BroadcastGateDefault = 1000000L

  def broadcastGateRows(spark: SparkSession): Long =
    getLong(spark, BroadcastGateKey, BroadcastGateDefault)

  private[graft] def parseLeadingInt(s: String, default: Int): Int =
    parseLeadingLong(s, default.toLong).toInt

  private[graft] def parseLeadingLong(s: String, default: Long): Long = {
    val t = s.trim
    val (sign, rest) = t.headOption match {
      case Some('-') => (-1L, t.tail)
      case Some('+') => (1L, t.tail)
      case _ => (1L, t)
    }
    val digits = rest.takeWhile(_.isDigit)
    if (digits.isEmpty) default
    else
      try sign * digits.toLong
      catch { case _: NumberFormatException => default } // overflow prefix
  }
}
