package graft

import org.apache.spark.sql.SparkSession

/** The one builder behind every driver session: `Verify`, `Bench` and the
  * `graft.tools` mains. `TestSpark` stays separate, because the test
  * suite needs Spark's TIMESTAMP_NTZ inference left on. */
object GraftSession {

  /** `local[n]` cores and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  private val shared = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // naive-micros parquet (isAdjustedToUTC=false) reads as TIMESTAMP, not
    // TIMESTAMP_NTZ — session TZ is UTC, so the values are identical and
    // every timestamp function keeps working
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.extensions" -> "graft.ext.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** The shared settings. `rawLocalFs` maps `file://` to
    * `RawLocalFileSystem`, which writes no `.crc` sidecars — the object
    * store the timing harnesses model (BASELINE.md, "checksum
    * re-pricing"). `Verify` always runs checksummed. */
  def settings(rawLocalFs: Boolean): Seq[(String, String)] =
    if (rawLocalFs)
      shared :+ ("spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem")
    else shared

  def apply(rawLocalFs: Boolean): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(settings(rawLocalFs).toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
