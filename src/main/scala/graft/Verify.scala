package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry row's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.etl.EngineConfig.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Local iteration aid (the driver never sets it): restrict the dump —
    // and the oracle_sql.json below — to a comma-separated query subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.rows.filter(r => selected(r.name)).foreach { r =>
      try r.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${r.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${r.name} failed: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
      }
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
