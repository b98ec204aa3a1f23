package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open when this one started (-1 at the root); `op` groups the
  * spans of one benchmark operation. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, var end: Long)

/** In-memory span recorder for the single benchmark client. Disabled, it
  * only runs the body: untraced runs pay nothing but a branch. A `layer`
  * span also charges the jobs the ledger saw inside it to that layer. */
final class Tracer(@volatile var enabled: Boolean, ledger: Option[Ledger],
    sc: org.apache.spark.SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Span] = Nil
  private var opId = -1
  private val t0 = System.nanoTime()

  def newOp(): Unit = opId += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), opId,
        name, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  def layer[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val before = ledger.map(_.snapshot(sc))
      try span(name)(body)
      finally before.foreach(b =>
        add(s"$name.jobs", ledger.get.snapshot(sc)("jobs") - b("jobs")))
    }

  def add(key: String, v: Double): Unit =
    if (enabled) counters(key) = counters.getOrElse(key, 0.0) + v

  def counts: Map[String, Double] = counters.toMap

  /** Total seconds of the spans named `name` that started at or after
    * `sinceId` (the span count at the start of a phase). */
  def seconds(name: String, sinceId: Int = 0): Double =
    spans.iterator.drop(sinceId).filter(_.name == name)
      .map(s => (s.end - s.start) / 1e9).sum

  def size: Int = spans.size

  def write(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"start_us":${(s.start - t0) / 1000},""" +
        s""""end_us":${(s.end - t0) / 1000}}""")
    }
    sb.append("\n]\n")
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Cumulative scheduler and task counters from a SparkListener. Readers
  * call [[snapshot]] after draining the listener bus. */
final class Ledger extends SparkListener {
  private val c = mutable.LinkedHashMap(
    Seq("jobs", "stages", "tasks", "run_ns", "cpu_ns", "gc_ms", "in_bytes",
      "in_records", "shw_bytes", "shr_bytes", "spill_bytes")
      .map(_ -> new AtomicLong(0L)): _*)
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ns", m.executorRunTime * 1000000L)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("in_bytes", m.inputMetrics.bytesRead)
      add("in_records", m.inputMetrics.recordsRead)
      add("shw_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shr_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
    }
  }

  def snapshot(sc: org.apache.spark.SparkContext): Map[String, Long] = {
    org.apache.spark.perfbench.BusDrain(sc)
    c.map { case (k, v) => k -> v.get }.toMap
  }
}

object Ledger {
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Rows and busy time of streaming micro-batches. */
final class StreamLedger extends StreamingQueryListener {
  val rows = new AtomicLong(0L)
  val batchMs = new AtomicLong(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    rows.addAndGet(e.progress.numInputRows)
    val d = e.progress.durationMs.get("triggerExecution")
    if (d != null) batchMs.addAndGet(d.longValue)
  }
}

/** JVM-wide readers: JIT and GC time, and the heap still in use after a
  * full collection. */
object JvmStats {
  /** Two full collections 200 ms apart: the first lets Spark's
    * ContextCleaner and asynchronous unpersists release what the pass
    * dropped, the second frees it. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def jitS: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}

/** Machine state, so a noisy window can be told from a slow program. */
object Env {
  def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")
      .take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** (steal, total) jiffies over all cpus from /proc/stat. */
  def cpuJiffies: (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Bytes this process read through read(2)-family calls. */
  def rchar: Long =
    try Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("rchar:")).map(_.split(":")(1).trim.toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }
}
