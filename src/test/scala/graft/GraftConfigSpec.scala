package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftConfig
import graft.streaming.BackoffPolicy

/** Mirrors the reference config module's doctests and get_integer spec
  * (`lib/hivent/config.ex:9-18` and `:40-56`): env indirection resolves
  * from the environment, literal values pass through, a missing key
  * yields the caller's default, and integer coercion parses a leading
  * prefix falling back to the default on non-numeric input.
  */
class GraftConfigSpec extends AnyFunSuite with SparkTest {

  private val env = Map("GRAFT_VAR" -> "from-env").get _

  // -- Config.get/3 doctest mirrors (config.ex:9-18) --------------------

  test("env indirection resolves the variable when set") {
    // doctest 1: Application.put_env(:myapp, :test_var, {:system, var})
    // resolves to the environment's value
    assert(GraftConfig.get(Some("env:GRAFT_VAR"), "default", env) == "from-env")
  }

  test("env indirection falls back to the caller default when unset") {
    // config.ex:26-28: {:system, var} with nil env → default
    assert(GraftConfig.get(Some("env:MISSING_VAR"), "default", env) == "default")
  }

  test("env indirection with preconfigured default prefers it over caller default") {
    // config.ex:30-34: {:system, var, preconfigured} with nil env →
    // the preconfigured default, NOT the caller's
    assert(GraftConfig.get(Some("env:MISSING_VAR:pre"), "default", env) == "pre")
    assert(GraftConfig.get(Some("env:GRAFT_VAR:pre"), "default", env) == "from-env")
  }

  test("literal values pass through") {
    // doctest 2: Application.put_env(:myapp, :test_var2, 1) → 1
    assert(GraftConfig.get(Some("1"), "default", env) == "1")
  }

  test("missing key yields the caller default") {
    // doctest 3: Config.get(:myapp, :missing_var, :default) → :default
    assert(GraftConfig.get(None, "default", env) == "default")
  }

  test("session-level get resolves a real environment variable") {
    // the reference doctest picks an arbitrary live env var
    // (System.get_env |> Enum.take(1)); do the same against sys.env
    val (name, expected) = sys.env.head
    spark.conf.set("spark.graft.test.envkey", s"env:$name")
    try assert(GraftConfig.get(spark, "spark.graft.test.envkey", "d") == expected)
    finally spark.conf.unset("spark.graft.test.envkey")
  }

  // -- Config.get_integer/3 mirrors (config.ex:40-56) -------------------

  test("integer coercion: plain ints, leading prefix, junk, sign") {
    assert(GraftConfig.parseLeadingInt("12", -1) == 12)
    // Integer.parse("12sec") = {12, "sec"} → prefix wins
    assert(GraftConfig.parseLeadingInt("12sec", -1) == 12)
    assert(GraftConfig.parseLeadingInt("-8", -1) == -8)
    assert(GraftConfig.parseLeadingInt("+8", -1) == 8)
    // Integer.parse(:error) → default
    assert(GraftConfig.parseLeadingInt("sec12", 7) == 7)
    assert(GraftConfig.parseLeadingInt("", 7) == 7)
    assert(GraftConfig.parseLeadingInt("--8", 7) == 7)
  }

  test("getInt reads conf with coercion and default") {
    spark.conf.set("spark.graft.test.intkey", "42 partitions")
    try assert(GraftConfig.getInt(spark, "spark.graft.test.intkey", 5) == 42)
    finally spark.conf.unset("spark.graft.test.intkey")
    assert(GraftConfig.getInt(spark, "spark.graft.test.intkey", 5) == 5)
  }

  // -- wiring: the reconnect policy resolves through GraftConfig --------

  test("BackoffPolicy.fromConf reads typed knobs with defaults") {
    assert(BackoffPolicy.fromConf(spark) == BackoffPolicy(1000L, 3))
    spark.conf.set("spark.graft.reconnect.backoffMillis", "250")
    spark.conf.set("spark.graft.reconnect.maxTries", "env:MISSING:5")
    try assert(BackoffPolicy.fromConf(spark) == BackoffPolicy(250L, 5))
    finally {
      spark.conf.unset("spark.graft.reconnect.backoffMillis")
      spark.conf.unset("spark.graft.reconnect.maxTries")
    }
  }
}
