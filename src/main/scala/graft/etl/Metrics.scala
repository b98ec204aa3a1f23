package graft.etl

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** C7/T6 — metrics collection (SURVEY.md §2.4).
  *
  * The reference's contract §10 declares: strategy used, rows processed,
  * rows skipped, bytes read/written, batches written, per-stage timings
  * (HighVolumeExcelConverter-Contract-v2.0.1.md:195-211). Its implementation
  * only logs rows/sec (core/ExcelRowListener.java:148-163).
  *
  * Spark-native version: a QueryExecutionListener harvests the executed
  * plan's SQL metrics after each action — no per-row driver work, fully
  * compatible with distributed execution (metrics are SparkPlan accumulators
  * aggregated by the scheduler). Skipped rows arrive through
  * `df.observe` (see ErrorModes.tolerateObserved) so counting stays inside
  * whole-stage codegen.
  */
object Metrics {

  /** Observation name + column the listener recognizes as the skipped-row
    * count (ErrorModes.tolerateObserved emits it). */
  val SkippedObservation = "graft.skipped"
  val SkippedColumn = "rows_skipped"

  final case class QueryMetrics(
      name: String,
      durationNs: Long,
      rowsProcessed: Long,
      rowsSkipped: Long,
      bytesRead: Long,
      filesRead: Long,
      bytesWritten: Long,
      batchesWritten: Long,
      strategy: String)

  /** Contract §10 metric names
    * (HighVolumeExcelConverter-Contract-v2.0.1.md:195-211). Batches map to
    * written files — Spark's unit of sink durability (SURVEY.md §2.3 K5). */
  def contractView(m: QueryMetrics): Map[String, Any] = Map(
    "excel.converter.strategy" -> m.strategy,
    "excel.rows.processed" -> m.rowsProcessed,
    "excel.rows.skipped" -> m.rowsSkipped,
    "excel.bytes.read" -> m.bytesRead,
    "excel.bytes.written" -> m.bytesWritten,
    "excel.batches.written" -> m.batchesWritten,
    "excel.time.total" -> m.durationNs / 1000000L)

  private val collected = new ConcurrentHashMap[String, QueryMetrics]()

  def get(name: String): Option[QueryMetrics] = Option(collected.get(name))
  def all: Map[String, QueryMetrics] = {
    import scala.jdk.CollectionConverters._
    collected.asScala.toMap
  }
  def clear(): Unit = collected.clear()

  /** Sum a named SQL metric (e.g. "numOutputRows" on scans) over the plan. */
  private def sumMetric(qe: QueryExecution, metricName: String,
      nodeFilter: String => Boolean): Long = {
    var total = 0L
    PlanWalk.visit(qe.executedPlan) { node =>
      if (nodeFilter(node.nodeName))
        node.metrics.get(metricName).foreach(m => total += m.value)
    }
    total
  }

  /** The physical access strategies Catalyst chose — the Spark analog of the
    * reference's easy_excel|streaming selector (core/StrategySelector.java).
    * Multi-source queries report every distinct scan node name,
    * comma-joined in traversal order. */
  private def scanStrategy(qe: QueryExecution): String = {
    val names = scala.collection.mutable.LinkedHashSet.empty[String]
    PlanWalk.visit(qe.executedPlan) { node =>
      if (node.nodeName.toLowerCase.contains("scan")) names += node.nodeName
    }
    if (names.isEmpty) "none" else names.mkString(",")
  }

  /** Sum of every observation under the `graft.skipped` prefix — one
    * tolerant source observes under the bare name, composed sources under
    * `graft.skipped.<suffix>` (ErrorModes.tolerateObserved). */
  private def observedSkips(qe: QueryExecution): Long =
    qe.observedMetrics.collect {
      case (name, row) if name == SkippedObservation ||
          name.startsWith(SkippedObservation + ".") =>
        val i = row.schema.fieldNames.indexOf(SkippedColumn)
        if (i >= 0 && !row.isNullAt(i)) row.getLong(i) else 0L
    }.sum

  /** Every subsequent action records metrics under the query-execution's
    * funcName (collect/count/save/...). */
  def install(spark: SparkSession): QueryExecutionListener = {
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val lower = (s: String) => s.toLowerCase
        val isScan = (n: String) => lower(n).contains("scan")
        val isWrite = (n: String) =>
          lower(n).contains("write") || lower(n).contains("insert")
        val scanRows = sumMetric(qe, "numOutputRows", isScan)
        val bytes = sumMetric(qe, "filesSize", isScan)
        val files = sumMetric(qe, "numFiles", isScan)
        // BasicWriteJobStatsTracker metric keys on write/insert nodes
        val bytesOut = sumMetric(qe, "numOutputBytes", isWrite)
        val filesOut = sumMetric(qe, "numFiles", isWrite)
        collected.put(funcName,
          QueryMetrics(funcName, durationNs, scanRows, observedSkips(qe),
            bytes, files, bytesOut, filesOut, scanStrategy(qe)))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    listener
  }
}
