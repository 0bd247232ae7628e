package graft

import org.apache.spark.sql.SparkSession

/** The local session the `Bench`, `Verify`, `StreamBench` and `Explain`
  * mains run on: `local[cpus]` with one shuffle partition per core, UTC
  * session time and no UI. Each main picks its own `cpus` default and
  * log level. */
object LocalSession {
  def apply(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // JVM-wide Janino cache defaults to 100 generated classes; ~90
    // queries × several codegen stages each evict every entry before a
    // warmed query runs again, so mid-run queries pay full recompilation
    // (~5.5 s of the old 8.8 s ngram_jaccard was codegen, not data).
    // Static conf — must be set before the first session is created.
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .getOrCreate()
}
