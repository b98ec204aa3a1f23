package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pair-graph form of [[Dedup.clusterByBuckets]], kept as the reference
  * DedupSpec checks the bipartite form against. */
object PairGraphClusters {

  /** Transitive duplicate clusters via iterative min-label propagation over
    * a pair graph (connected components): every doc starts labeled with its
    * own id; each round joins labels across edges and keeps the minimum;
    * stops when no label changes (or maxIters). This is the standard
    * large-graph CC formulation — per round one join + one groupBy keyed by
    * doc id, O(diameter) rounds, no driver-side graph.
    *
    * Complements [[Dedup.dropNearDuplicates]]'s greedy keep-first rule: here
    * A~B and B~C put A,B,C in ONE cluster even if A~C was never a candidate
    * pair. Returns (doc_id, cluster_id = min doc id of the component). */
  def duplicateClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    // undirected edge list, including self-loops so isolated docs keep labels
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
    var prevRound: Option[DataFrame] = None
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .select(col("src").as("doc_id"), col("cluster_id"))
      // min_by keeps the round's input label (`_prev`: the tag-0 row is the
      // old label) in the SAME aggregation, so the convergence test is a
      // scan-side filter over the round's result — no doc-sized
      // join-per-round just to count changes
      val merged = labels.select(col("doc_id"), col("cluster_id"), lit(0).as("_tag"))
        .unionByName(viaNeighbors.withColumn("_tag", lit(1)))
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"),
          expr("min_by(cluster_id, _tag)").as("_prev"))
      // localCheckpoint every few rounds truncates the otherwise
      // exponentially-deepening lineage; persist covers the rounds between.
      val next =
        if ((i + 1) % 3 == 0) merged.localCheckpoint()
        else merged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      changed = next.filter(col("cluster_id") =!= col("_prev")).count()
      // unpersist frees the persisted rounds once the following round has
      // materialized past them (labels is a projection of `next`, so the
      // persisted handle itself is what must be released); checkpoint rounds
      // are freed by the ContextCleaner once the reference drops
      // (Dataset.unpersist is a no-op for localCheckpoint blocks)
      prevRound.foreach(_.unpersist())
      prevRound = Some(next)
      labels = next.select("doc_id", "cluster_id")
      i += 1
    }
    edges.unpersist()
    labels
  }
}
