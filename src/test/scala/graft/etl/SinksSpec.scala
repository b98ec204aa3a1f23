package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class SinksSpec extends AnyFunSuite {
  import spark.implicits._

  private def tmpDir(): String = graft.TestDirs.dir("graft-sink").toString

  test("K1: ndjson sink writes one JSON object per line, string fields") {
    val out = s"${tmpDir()}/nd"
    val df = IngestOps.allString(IngestOps.table(spark, sf0001, "region"))
    Sinks.ndjson(df, out, overwrite = true, singleFile = true)
    val lines = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".json"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines())
    assert(lines.length == 5)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    assert(lines.exists(_.contains("\"r_regionkey\":\"0\"")))
  }

  test("K2: chunked CSV — every chunk file has at most batchSize data rows") {
    val out = s"${tmpDir()}/csv"
    val orders = IngestOps.table(spark, sf0001, "orders") // 1500 rows
    Sinks.chunkedCsv(orders, out, batchSize = 400, orderCol = Some("o_orderkey"))
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 1500)
    val perFile = back.groupBy(input_file_name()).count().as[(String, Long)].collect()
    assert(perFile.forall(_._2 <= 400), s"oversized chunk: ${perFile.mkString(",")}")
  }

  test("K2: chunkStats invariant — chunk sizes ≤ batchSize and contiguous rows") {
    val stats = Sinks.chunkStats(IngestOps.table(spark, sf0001, "orders"), 400, col("o_orderkey"))
      .orderBy("chunk_id").collect()
    stats.foreach { r =>
      val (n, lo, hi) = (r.getAs[Long]("n_rows"), r.getAs[Long]("min_rn"), r.getAs[Long]("max_rn"))
      assert(n <= 400 && hi - lo + 1 == n)
    }
    assert(stats.map(_.getAs[Long]("n_rows")).sum == 1500)
  }

  test("K1: ndjson single-file output is byte-stable across runs") {
    val df = IngestOps.allString(IngestOps.table(spark, sf0001, "region").orderBy("r_regionkey"))
    def writeAndHash(path: String): String = {
      Sinks.ndjson(df, path, overwrite = true, singleFile = true)
      val f = Files.list(Paths.get(path)).toArray.map(_.toString).filter(_.endsWith(".json")).head
      java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(Paths.get(f))))
    }
    val base = tmpDir()
    assert(writeAndHash(s"$base/a") == writeAndHash(s"$base/b"))
  }

  test("K3: jsonArray writes a single well-formed array with bounded memory") {
    val path = s"${tmpDir()}/arr.json"
    val n = Sinks.jsonArray(IngestOps.table(spark, sf0001, "region").orderBy("r_regionkey"), path).rows
    assert(n == 5)
    val txt = Files.readString(Paths.get(path))
    assert(txt.startsWith("[{") && txt.endsWith("}]"))
    // parse back with from_json as a syntactic check
    val parsed = Seq(txt).toDS.select(explode(from_json($"value",
      org.apache.spark.sql.types.DataType.fromDDL("array<struct<r_regionkey:string,r_name:string>>"))).as("r"))
    assert(parsed.count() == 5)
  }

  test("K4: overwrite guard — existing output without overwrite errors; with overwrite truncates") {
    val path = s"${tmpDir()}/guard.json"
    val df = IngestOps.table(spark, sf0001, "region")
    Sinks.jsonArray(df, path)
    intercept[IllegalStateException](Sinks.jsonArray(df, path))
    assert(Sinks.jsonArray(df, path, overwrite = true).rows == 5)
  }

  test("K3: jsonArray is the rows' JSON joined by the separator, byte for byte") {
    val rows = Seq(("1", "plain"), ("2", "naïve 中文 😀"), ("3", "line\u2028sep"),
      ("4", "cr\rlf\n"), ("5", "quote \" back \\"))
    // five rows over four partitions, one of them empty, and an empty frame
    val frames = Seq(
      rows.toDF("k", "v").repartitionByRange(8, $"k").union(
        spark.emptyDataset[(String, String)].toDF("k", "v")),
      spark.emptyDataset[(String, String)].toDF("k", "v"))
    for (df <- frames; pretty <- Seq(false, true)) {
      val (open, sep, close) = if (pretty) ("[\n  ", ",\n  ", "\n]") else ("[", ",", "]")
      val path = s"${tmpDir()}/bytes.json"
      val n = Sinks.jsonArray(df, path, overwrite = true, pretty = pretty).rows
      val json = df.toJSON.collect()
      assert(n == json.length)
      assert(Files.readString(Paths.get(path)) == open + json.mkString(sep) + close)
    }
  }
}
