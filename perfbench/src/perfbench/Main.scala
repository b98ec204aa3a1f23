package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.etl.StageStore

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One operation as it ran: seconds of its timed part, and the error, if it
  * threw or its output failed the check. */
final case class Sample(name: String, family: String, seconds: Double,
    error: Option[String]) {
  def toMap: Map[String, Any] =
    Map("name" -> name, "family" -> family, "s" -> seconds, "error" -> error)
}

/** The benchmark client: one JVM, one workload, one operation at a time.
  *
  *   setup  : JVM start → session ready, then warm-up passes over a small
  *            generated input until a pass repeats the previous one within
  *            10 % (at most three)
  *   cold   : one pass over the measured input, which this JVM has not seen
  *   steady : whole passes over the same input until `seconds` have passed,
  *            and at least two: the first steady pass still runs slower
  *            than the next, and a run with that pass alone reads high
  *
  * With tracing on, a SparkListener, a StreamingQueryListener and layer
  * spans are added, and each traced steady pass follows an untraced one so
  * the tracing overhead can be reported. The run record goes to `--out`;
  * the caller turns it into metrics. */
object Main {
  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (steal0, total0) = Env.cpuJiffies
    val loadStart = Env.loadavg
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val launchMs = a("launch-ms").toLong
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = graft.etl.ScratchDirs.withLocalDir(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.graft.rangejoin.bucketUs", "600000000")
      .config("spark.sql.files.openCostInBytes", "16384")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - launchMs) / 1e3

    // the caller generates the inputs while this JVM starts, and publishes
    // the spec file once they are complete
    val specFile = new File(a("spec"))
    while (!specFile.exists()) Thread.sleep(20)
    val spec = new ObjectMapper().readTree(specFile)
    val workload = spec.get("workload").asText
    val outDir = spec.get("out_dir").asText

    val ledger = if (trace) Some(new Ledger) else None
    val streams = new StreamLedger
    if (trace) {
      spark.sparkContext.addSparkListener(ledger.get)
      spark.streams.addListener(streams)
    }
    val tr = new Tracer(trace, ledger, spark.sparkContext)

    val wl: Workload = workload match {
      case "xlsx_convert" =>
        new XlsxConvert(spark, Book(spec.get("warm")), Book(spec.get("main")),
          outDir, tr, ledger)
      case _ =>
        // every k-th batch row and every k-th streaming row, in name order,
        // so both kinds are always represented
        val k = spec.get("every_kth").asInt
        val skip = spec.get("exclude").elements.asScala.map(_.asText).toSet
        val (stream, batch) = SparkEntry.queries.keys.toSeq.sorted.filterNot(skip)
          .partition(SparkEntry.streamingQueries)
        val rows = Seq(batch, stream).flatMap(_.zipWithIndex.collect { case (r, i) if i % k == 0 => r })
        new Catalog(spark, rows, spec.get("warm_dir").asText,
          spec.get("main_dir").asText, outDir, tr)
    }

    def runOp(op: Op): Sample = {
      tr.newOp()
      val t0 = now
      try {
        val check = tr.span("op")(op.run())
        val s = secs(t0)
        val err = try check() catch { case e: Throwable => Some(s"check: $e") }
        Sample(op.name, op.family, s, err)
      } catch {
        case e: Throwable => Sample(op.name, op.family, secs(t0), Some(e.toString.take(500)))
      }
    }
    // a pass's wall time is the sum of its operations' timed parts; the
    // output checks between them are the benchmark's work, not the engine's
    def runPass(ops: Seq[Op]): (Double, Seq[Sample]) = {
      val ss = ops.map(runOp)
      (ss.map(_.seconds).sum, ss)
    }

    // ---- setup: warm up until a pass repeats the previous one within 10 %,
    // at most three passes
    val warmT0 = now
    val warmWalls = mutable.ArrayBuffer.empty[Double]
    val warmFailures = mutable.ArrayBuffer.empty[Sample]
    def repeated = warmWalls.size >= 2 &&
      math.abs(warmWalls.last - warmWalls(warmWalls.size - 2)) <= 0.1 * warmWalls(warmWalls.size - 2)
    while (warmWalls.size < 3 && !repeated) {
      val (w, ss) = runPass(wl.warmOps)
      warmWalls += w
      warmFailures ++= ss.filter(_.error.nonEmpty)
    }
    val setupS = sessionReadyS + secs(warmT0)
    val jit1 = JvmStats.jitS
    val gc1 = JvmStats.gcS

    // ---- cold pass over the measured input
    val stage0 = StageStore.primeSeconds
    val streamRows0 = streams.rows.get
    val streamMs0 = streams.batchMs.get
    val (coldWall, coldSamples) = runPass(wl.coldOps)
    val stage1 = StageStore.primeSeconds
    val jit2 = JvmStats.jitS
    val gc2 = JvmStats.gcS
    // heap_peak_mb: the most heap the cold or the steady phase leaves in
    // use after full collections (memos, caches, leaks; not garbage)
    val coldHeap = JvmStats.liveHeapMb()

    // ---- steady passes; traced runs alternate an untraced pass with each
    // traced one, so the difference is the tracing overhead, not JIT drift
    val steadyT0 = now
    val spanSteady = tr.size
    val counts0 = tr.counts
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Sample])]
    val untraced = mutable.ArrayBuffer.empty[(Double, Seq[Sample])]
    var steadyLedger = Map.empty[String, Long]
    while (passes.size + untraced.size < 2 || secs(steadyT0) < seconds) {
      if (trace) {
        tr.enabled = false
        try untraced += runPass(wl.steadyOps) finally tr.enabled = true
      }
      val before = ledger.map(_.snapshot(spark.sparkContext))
      passes += runPass(wl.steadyOps)
      before.foreach { b =>
        val d = Ledger.delta(b, ledger.get.snapshot(spark.sparkContext))
        steadyLedger = d.map { case (k, v) => k -> (v + steadyLedger.getOrElse(k, 0L)) }
      }
    }
    val counts1 = tr.counts
    val stage2 = StageStore.primeSeconds
    val jit3 = JvmStats.jitS
    val gc3 = JvmStats.gcS
    val heapPeak = math.max(coldHeap, JvmStats.liveHeapMb())
    val streamRows = streams.rows.get - streamRows0
    val streamMs = streams.batchMs.get - streamMs0

    val layerMap: Map[String, Double] = if (trace) wl.layers() else Map.empty
    val (steal1, total1) = Env.cpuJiffies
    val loadEnd = Env.loadavg

    val spansFile = a.get("spans")
    if (trace) spansFile.foreach(tr.write)

    def spanSum(name: String) = tr.seconds(name, spanSteady)
    def passRecord(p: (Double, Seq[Sample])) = Map("wall_s" -> p._1, "ops" -> p._2.map(_.toMap))
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "trace" -> trace,
      "env" -> Map("cpus" -> cpus, "load_start" -> loadStart, "load_end" -> loadEnd,
        "steal_pct" -> (if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0)),
      "setup" -> Map("session_ready_s" -> sessionReadyS, "setup_s" -> setupS,
        "warm_walls" -> warmWalls.toSeq, "warm_repeated" -> repeated,
        "warm_failures" -> warmFailures.map(_.toMap).toSeq,
        "jit_s" -> jit1, "gc_s" -> gc1),
      "cold" -> Map("wall_s" -> coldWall, "ops" -> coldSamples.map(_.toMap),
        "stage_build_s" -> (stage1 - stage0), "jit_s" -> (jit2 - jit1), "gc_s" -> (gc2 - gc1)),
      "steady" -> Map("passes" -> passes.map(passRecord), "untraced" -> untraced.map(passRecord),
        "stage_build_s" -> (stage2 - stage1), "jit_s" -> (jit3 - jit2), "gc_s" -> (gc3 - gc2)),
      "heap_peak_mb" -> heapPeak,
      "oracle" -> wl.oracle,
      "streaming_rows" -> wl.coldOps.map(_.name).filter(SparkEntry.streamingQueries),
      "spans_file" -> spansFile)
    if (trace) record("trace_data") = Map(
      "ledger" -> steadyLedger,
      "counts" -> counts1.map { case (k, v) => k -> (v - counts0.getOrElse(k, 0.0)) },
      "spans" -> Seq("construct", "plan", "exec", "release")
        .map(n => n -> spanSum(n)).toMap,
      "stream_rows" -> streamRows, "stream_batch_s" -> streamMs / 1e3,
      "layers" -> layerMap)
    Files.write(Paths.get(a("out")), Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
