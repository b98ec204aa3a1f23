/** Whole-surface plan audit: executes every SparkEntry query at the given
  * SF and reports scale smells — BroadcastNestedLoopJoin / CartesianProduct
  * (all-pairs at any cluster size) and partition-less Window sorts (single
  * reducer). Known, documented exceptions are each row's `accepted` smells
  * with their adjudication, so a regression is distinguishable from a
  * design decision.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.etl.EngineConfig.localSession("8")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    var unexplained = 0
    for (row <- graft.SparkEntry.rows.sortBy(_.name)) {
      val name = row.name
      try {
        val df = row.build(spark, dir)
        df.collect()
        val smells = scala.collection.mutable.ListBuffer[String]()
        graft.etl.PlanWalk.visit(df.queryExecution.executedPlan) { p =>
          val n = p.getClass.getSimpleName
          if (n.contains("BroadcastNestedLoopJoin")) smells += "BroadcastNestedLoopJoin"
          if (n.contains("CartesianProduct")) smells += "CartesianProduct"
          if (n.contains("WindowExec") || n == "WindowGroupLimitExec") {
            // partition-less window = one reducer; flag via requiredChildDistribution
            val allSingle = p.requiredChildDistribution.forall(
              _.getClass.getSimpleName.contains("AllTuples"))
            if (allSingle) smells += "SinglePartitionWindow"
          }
        }
        val distinctSmells = smells.distinct
        if (distinctSmells.isEmpty) println(f"AUDIT $name%-36s clean")
        else row.accepted match {
          case Some((expected, why))
              if distinctSmells.forall(expected.split('+').contains(_)) =>
            println(f"AUDIT $name%-36s adjudicated: $expected ($why)")
          case _ =>
            unexplained += 1
            println(f"AUDIT $name%-36s UNEXPLAINED: ${distinctSmells.mkString(",")}")
        }
      } catch {
        case e: Throwable =>
          unexplained += 1
          println(f"AUDIT $name%-36s ERROR: ${e.getMessage.take(120)}")
      } finally spark.catalog.clearCache()
    }
    println(s"AUDIT_SUMMARY unexplained=$unexplained")
    spark.stop()
    if (unexplained > 0) sys.exit(1)
  }
}
