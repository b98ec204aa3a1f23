package graft.sources

import graft.SparkTestSession.spark

/** Sets how many row ranges [[XlsxSource]] plans for a sheet through
  * Spark's file-split confs alone (`spark.sql.files.*`), and restores them
  * when the body returns. */
object FileSplits {
  private val keys = Seq("spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")

  private def withConfs[A](values: Seq[String])(body: => A): A = {
    val saved = keys.map(spark.conf.getOption)
    keys.zip(values).foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally keys.zip(saved).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Exactly `k` ≤ 8 ranges for one sheet larger than 8·(k − 1) bytes:
    * ranges of ⌊(S + 8) / k⌋ bytes under an open cost of 8. */
  def withRanges[A](k: Int)(body: => A): A =
    withConfs(Seq("128m", "8", k.toString))(body)

  /** A range boundary at every multiple of `bytes` (ranges of `bytes` for
    * a sheet of at least `bytes`). */
  def withBoundaryEvery[A](bytes: Long)(body: => A): A =
    withConfs(Seq(bytes.toString, "0", "1"))(body)

  /** The ranges planned for one sheet of `size` inflated bytes. */
  def ranges(size: Long): Seq[(Long, Long)] = XlsxScan.ranges(spark, Seq(size)).head
}
