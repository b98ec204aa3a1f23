package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark sessions are heavy;
  * ScalaTest suites run sequentially in one JVM with Test/fork). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.ansi.enabled", "false") // reference parity: bad cells → null, never errors
    .config("spark.sql.warehouse.dir",
      graft.TestDirs.dir("graft-wh").toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // mirror the Verify/Bench sessions: the optimizer extension is live
    // (inert unless spark.graft.rangejoin.bucketUs is set)
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
}
