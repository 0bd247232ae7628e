package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables

/** `Tables.fanned` sizes its fan-out from a memoized footer row count and
  * scan partition count; the memo must follow a table rewritten at the
  * same path in the same JVM. */
class TablesSpec extends AnyFunSuite with SparkTest {

  test("fanned follows a table rewritten at the same path") {
    val dir = tempDir("tables-fanned")
    val path = s"$dir/documents.parquet"
    def write(rows: Long): Unit =
      spark.range(rows).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
        .coalesce(1).write.mode("overwrite").parquet(path)
    def fannedParts: Int = Tables.fanned(spark, dir, "documents").rdd.getNumPartitions
    spark.conf.set("spark.graft.fanout.minRows", "50")
    try {
      val plans0 = Tables.scanPlans.get
      // 100 rows: over the gate, but under one 500-row slice — no fan-out
      write(100)
      assert(fannedParts == 1)
      assert(fannedParts == 1)
      assert(Tables.scanPlans.get - plans0 == 1, "a repeat call planned the scan again")
      // 5000 rows at the same path: ten slices, capped at the 4 local cores
      write(5000)
      assert(fannedParts == spark.sparkContext.defaultParallelism,
        "fanned kept the row count of the table the path held before")
      assert(Tables.scanPlans.get - plans0 == 2, "a rewritten path reused the old scan plan")
    } finally spark.conf.unset("spark.graft.fanout.minRows")
  }
}
