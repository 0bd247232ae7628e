package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for suites (one JVM-wide session via getOrCreate). */
trait SparkTest {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** The same generated test data at another scale factor, e.g. "0.1". */
  def sfAt(scale: String): String = s"${new java.io.File(sf).getParent}/sf$scale"

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
