import org.apache.spark.sql.SparkSession

/** Micro-batch-floor probe for the streaming oracle family (round-14
  * headroom work, VERDICT r13 Next #1a): times each events_stream_* query
  * end-to-end under the live SparkEntry harness so config changes inside
  * EventStreams.narrowRun (state partitions, checkpoint filesystem) can be
  * A/B measured without touching Bench. Prints per-query samples + family sum.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), STREAM_ITERS (default 2),
  * STREAM_QUERIES (csv; default = every events_stream_* query).
  */
object StreamFloor {
  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", "16384")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.graft.rangejoin.bucketUs", "600000000")
    // A/B aid (r18): SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies candidate
    // session configs (state-store provider, stream knobs)
    val withExtra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k, v)
      }
    val spark = withExtra.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("STREAM_ITERS", "2").toInt
    val names = sys.env.get("STREAM_QUERIES").map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted
        .filter(_.startsWith("events_stream")))
    // warmup at sf0.001 like Bench
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case e: Throwable => println(s"WARM FAIL $n: ${e.getMessage}") }
      finally graft.etl.CacheRegistry.releaseAll()
    }
    var mins = 0.0
    names.foreach { n =>
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(n)(spark, dir).count()
        catch { case e: Throwable => println(s"FAIL $n: ${e.getMessage}") }
        finally graft.etl.CacheRegistry.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }
      mins += ts.min
      println(f"$n%-40s min=${ts.min}%6.2f  samples=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    println(f"FAMILY_SUM_MIN ${mins}%.2f over ${names.size} queries")
    spark.stop()
  }
}
