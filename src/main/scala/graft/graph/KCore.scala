package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition — the standard graph-pruning pass (drop everything
  * that cannot sit in a subgraph of minimum degree k) run before
  * community/cohesion analysis. Each peel round is one degree aggregate +
  * two anti-joins under the [[graft.util.Checkpoints.fixpoint]] loop
  * contract; rounds are bounded by the peel depth (≤ vertex count, in
  * practice a handful). The stop test reads the round's edge count,
  * observed on its checkpoint job: it equals the previous round's count
  * iff no weak vertex existed — every weak vertex removes at least one of
  * its incident edges (degrees come from the edge list, so every counted
  * vertex has degree ≥ 1). The edge count before round 1 is not known, so
  * a graph that is already its own k-core takes two rounds. The first-cut
  * shape ran a separate `weak.isEmpty` action per round — a full extra
  * degree pass, measured 2× the wall-clock of this loop at sf0.1. The
  * fixpoint is unique, so the output is deterministic under any
  * partitioning.
  *
  * Measured and rejected: chaining two degree-filter passes lazily inside
  * each checkpointed round converged in 2 rounds instead of 3 on the sf0.1
  * co-purchase graph (1.2M edges, k=70) but ran 1.6-2.5× slower, because
  * the stacked aggregate+anti-join blocks re-execute the previous pass's
  * subtree. `repartition(col("a"))` before each checkpoint (round 10) rose
  * shuffle write 118.0 → 128.3 MB at identical reads (graft.tools.ShufProbe,
  * same graph): the explicit exchange costs more than the aggregate
  * exchange it was meant to elide.
  */
object KCore {

  /** Vertices of the k-core of the undirected simple graph `edges` (each
    * edge once, either orientation, no self-loops). Output: (id, degree)
    * — the surviving vertices with their degree INSIDE the core. Empty
    * when no k-core exists. Fails when the peel has not reached its
    * fixpoint within `maxIter` rounds. */
  def vertices(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxIter: Int = 50): DataFrame =
    peel("KCore.vertices", edges, srcCol, dstCol, k, maxIter, mustConverge = true)

  /** The peel TRUNCATED at exactly `rounds` passes — the bounded variant
    * for graphs where the exact fixpoint depth is unaffordable: each
    * round is one degree aggregate + two anti-joins, so the total cost is
    * `rounds` scans of the (shrinking) edge list, whatever the data. The
    * output is a certified SUPERSET of the k-core's vertices (the peel
    * removes monotonically: every vertex dropped in any round is provably
    * outside the core, and survivors only ever shrink toward the
    * fixpoint), with each survivor's degree in the round-`rounds`
    * subgraph. `rounds` ≥ the peel depth reproduces [[vertices]] exactly;
    * the loop short-circuits once a round removes nothing, so over-asking
    * costs one no-op round.
    *
    * THIS is the 100 TB entry point: [[vertices]]' round count is
    * data-dependent (dense co-occurrence graphs peel superlinearly deeper
    * at larger scale — BENCH_NOTES documents kc1's 30× memory wall),
    * while the truncated peel's cost is chosen up front. The first 2-3
    * rounds remove the overwhelming mass of weak vertices; run the exact
    * [[vertices]] on the truncated survivor subgraph if the fixpoint is
    * required. */
  def truncatedPeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    peel("KCore.truncatedPeel", edges, srcCol, dstCol, k, rounds, mustConverge = false)
  }

  /** At most `rounds` peel rounds, stopping at the fixpoint: (id, degree)
    * of the surviving vertices. */
  private def peel(op: String, edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, mustConverge: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // symmetrize: per-vertex degree = outdegree in the doubled list
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionAll(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
    var prev = -1L // the edge count before round 1 is unknown
    graft.util.Checkpoints.fixpoint(op, sym, rounds,
        metric = Some(_ => count(lit(1))), mustConverge = mustConverge,
        done = { n =>
          // equal count ⇒ no weak vertex existed; zero ⇒ the core is empty
          val stable = n == prev || n == 0L
          prev = n
          stable
        }) { (e, _) =>
      val weak = e.groupBy(col("a")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") < k).select(col("a"))
      e.join(weak, Seq("a"), "left_anti")
        .join(weak.withColumnRenamed("a", "b"), Seq("b"), "left_anti")
    }.groupBy(col("a").as("id")).agg(count(lit(1)).as("degree"))
  }
}
