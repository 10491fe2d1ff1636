package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (community detection) — the third
  * iterate-to-fixpoint graph operator beside
  * [[graft.dedup.Dedup.connectedComponents]] and [[PageRank]], in the same
  * Spark shape: labels start as vertex ids; each round every vertex adopts
  * the most frequent label among its in-neighbors (ties broken toward the
  * SMALLEST label, making every round a pure function of the previous
  * state — no RNG, no visit order, so the result is deterministic under
  * any partitioning, unlike classic asynchronous LPA). A round is one
  * edge join + one partial-aggregating (dst, label) count + one
  * per-dst WindowGroupLimit top-1 — shuffles keyed by vertex id
  * throughout, under the [[graft.util.Checkpoints.fixpoint]] loop
  * contract. Fixed `iters`
  * rather than convergence: synchronous LPA can 2-cycle on bipartite
  * regions, and a fixed round count is what the cross-engine restatement
  * pins anyway.
  */
object LabelProp {

  /** @param vertices one row per vertex id
    * @param edges    directed (srcCol, dstCol): src's label is sent to
    *                 dst. Symmetrize first (union both directions) for
    *                 undirected community flow.
    * @return (id, label) after `iters` synchronous rounds; isolated
    *         vertices keep their own id as label */
  def run(vertices: DataFrame, idCol: String, edges: DataFrame,
      iters: Int, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, "need at least one round")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    graft.util.Checkpoints.fixpoint("LabelProp.run",
        vertices.select(col(idCol).as("id"), col(idCol).as("label")), iters, Seq(e)) {
      (labels, _) =>
        val nbr = e
          .join(labels.select(col("id").as("src"), col("label").as("__l")), "src")
          .groupBy(col("dst"), col("__l")).agg(count(lit(1)).as("__c"))
        val w = Window.partitionBy(col("dst"))
          .orderBy(col("__c").desc, col("__l"))
        val mode = nbr.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("dst").as("id"), col("__l").as("__new"))
        labels.join(mode, Seq("id"), "left")
          .select(col("id"), coalesce(col("__new"), col("label")).as("label"))
    }
  }
}
