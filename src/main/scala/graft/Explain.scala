package graft

/** Plan-audit helper: print the executed plan of one or more declared
  * queries — the tool behind PLANS.md (which curates these dumps) and
  * the quickest way to check a scale property (pushdown, broadcast,
  * exchange count, subquery shape) without wiring a spec.
  *
  * Usage: `runMain graft.Explain <query>[,<query>...] [sfDir]`
  *
  * With `SPARK_GRAFT_EXPLAIN_DIR=<dir>` set, additionally writes each
  * query's `.explain("formatted")` output to `<dir>/<query>.txt` — the
  * r18 optimization round's plan-evidence files (`plans/r18/`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Explain <query>[,<query>...] [sfDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val spark = LocalSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name' — keys: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      println(s"== $name ==")
      val df = fn(spark, sfDir)
      println(df.queryExecution.executedPlan.toString)
      outDir.foreach { d =>
        val dir = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(dir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(dir.resolve(s"$name.txt"),
          s"== $name (sfDir=$sfDir) ==\n" + formatted)
      }
      api.Caches.release(spark)
    }
    spark.stop()
  }
}
