package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank over a directed edge list — the second classic iterative graph
  * algorithm beside [[graft.dedup.Dedup.connectedComponents]]: per
  * iteration one join + one partial-aggregating groupBy (shuffling only
  * (id, contribution)), run under the [[graft.util.Checkpoints.fixpoint]]
  * loop contract. Dangling-node mass (vertices with no out-edges) is
  * redistributed uniformly each round, so total rank stays 1 and the
  * result is a proper distribution.
  *
  * The out-degree table is computed once and checkpointed; the per-round
  * dangling mass is a one-row aggregate joined into the round's own plan,
  * so a round is one action.
  */
object PageRank {

  /** @param vertices one row per vertex id
    * @param edges    directed (src, dst); parallel edges count once each.
    *                 PRECONDITION: every src and dst must appear in
    *                 `vertices` — contributions to an unknown dst are
    *                 dropped by the final left join and an unknown src
    *                 never contributes, so rank mass would silently leak
    *                 and the ranks-sum-to-1 contract break. Pass
    *                 `validate = true` to assert this (one extra anti-join
    *                 count up front).
    * @param validate when true, fail fast if any edge endpoint is missing
    *                 from `vertices` instead of leaking mass
    * @return (id, rank), ranks summing to 1 */
  def run(vertices: DataFrame, idCol: String, edges: DataFrame,
      iters: Int = 10, damping: Double = 0.85,
      validate: Boolean = false): DataFrame = {
    checkArgs(vertices, idCol, edges, iters, damping, validate)
    val n = vertices.count().toDouble
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    iterate("PageRank.run", vertices, idCol, n, iters, damping,
      edges.join(outDeg, "src").select(col("src"), col("dst"), col("__deg")), outDeg,
      col("rank") / col("__deg"))
  }

  /** Weighted PageRank: each edge carries a weight and a vertex's rank
    * splits across its out-edges PROPORTIONALLY (`w / Σw_src`) instead of
    * uniformly — link strength, click counts, transaction volume. Same
    * plan shape as [[run]]: the per-src weight sums are one aggregate
    * computed once and joined into the checkpointed edge list, so each
    * iteration still costs one join + one partial-aggregating groupBy.
    * Zero-total-weight sources are rejected up front (their rank could
    * neither flow nor count as dangling without silently leaking mass).
    * Dangling vertices (no out-edges at all) redistribute uniformly as in
    * [[run]]. With all weights equal this reduces to [[run]] numerically
    * (same mathematics; bit-identical only when the uniform fractions are
    * exactly representable — degree 3 makes `rank·(w/3w)` differ from
    * run()'s `rank/3` by an ulp, two roundings vs one).
    *
    * PRECONDITION (as in [[run]]): every src and dst must appear in
    * `vertices`, or rank mass silently leaks; pass `validate = true` to
    * assert it.
    *
    * @param edges (src, dst, weightCol), weights > 0 */
  def runWeighted(vertices: DataFrame, idCol: String, edges: DataFrame,
      weightCol: String, iters: Int = 10, damping: Double = 0.85,
      validate: Boolean = false): DataFrame = {
    checkArgs(vertices, idCol, edges, iters, damping, validate)
    val n = vertices.count().toDouble
    val w = col(weightCol).cast("double")
    val badW = edges.filter(w.isNull || w <= 0).limit(1).count()
    require(badW == 0, "edge weights must be positive and non-NULL")
    val outW = edges.groupBy(col("src")).agg(sum(w).as("__wsum"))
    iterate("PageRank.runWeighted", vertices, idCol, n, iters, damping,
      edges.join(outW, "src")
        .select(col("src"), col("dst"), (w / col("__wsum")).as("__frac")), outW,
      col("rank") * col("__frac"))
  }

  private def checkArgs(vertices: DataFrame, idCol: String, edges: DataFrame,
      iters: Int, damping: Double, validate: Boolean): Unit = {
    require(iters >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, s"damping $damping must be in (0,1)")
    if (validate) {
      val vs = vertices.select(col(idCol).as("id"))
      val orphans = edges.select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id")))
        .join(vs, Seq("id"), "left_anti").limit(1).count()
      require(orphans == 0,
        "edges reference ids absent from vertices — rank mass would leak")
    }
  }

  /** `iters` power-iteration rounds over the edge list `e` (src, dst and a
    * per-edge column), where `share` is the rank one edge carries and
    * `outSums` (src, …) lists the vertices with out-edges. */
  private def iterate(op: String, vertices: DataFrame, idCol: String, n: Double,
      iters: Int, damping: Double, e: DataFrame, outSums: DataFrame,
      share: Column): DataFrame = {
    val edgeShares = e.localCheckpoint(true)
    val ids = vertices.select(col(idCol).as("id")).localCheckpoint(true)
    val hasOut = outSums.select(col("src").as("id")).localCheckpoint(true)
    graft.util.Checkpoints.fixpoint(op, ids.select(col("id"), lit(1.0 / n).as("rank")),
        iters, Seq(edgeShares, ids, hasOut)) { (ranks, _) =>
      val dangling = ranks.join(hasOut, Seq("id"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      val contrib = edgeShares.join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), share.as("__c"))
        .groupBy(col("id")).agg(sum(col("__c")).as("__s"))
      ids.join(contrib, Seq("id"), "left").crossJoin(dangling)
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * (coalesce(col("__s"), lit(0.0)) + col("__dm") / lit(n)))
            .as("rank"))
    }
  }
}
