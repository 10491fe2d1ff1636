package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source BFS shortest-path levels over an undirected edge list —
  * the distance-labeling primitive under hop-bounded neighborhoods,
  * reachability audits, and "how far is everything from the seed set"
  * diagnostics. The reference's nearest surface is its hop-bounded
  * neighborhood sampler (db_transformer/data/strategy/bfs.py); this is the
  * exact-distance form of the same frontier walk.
  *
  * Scale shape: level-synchronous frontier expansion. Each round is ONE
  * equi-join of the current frontier against the adjacency (shuffle
  * partitioned by vertex) plus one anti-join against the visited set —
  * work proportional to edges incident to the frontier, never to the
  * whole graph re-walked. Distances are final the round a vertex is first
  * reached (BFS invariant), so `visited` only grows and duplicate arrivals
  * are dropped by the anti-join. The loop runs under the
  * [[graft.util.Checkpoints.fixpoint]] contract; its stop test is the size
  * of the round's new frontier, observed on the round's checkpoint job.
  */
object Bfs {

  /** Levels 0..maxDepth from `source`. Output: (id, dist) for every vertex
    * reached within maxDepth hops (the source at dist 0). Vertices farther
    * than maxDepth (or disconnected) are absent — the hop cap is also what
    * makes the result restatable as a bounded recursive closure. */
  def levels(edges: DataFrame, srcCol: String, dstCol: String,
      source: Long, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = edges.sparkSession
    import spark.implicits._
    // duplicate edges are harmless (the frontier's reached-set distinct
    // absorbs them), so no adjacency-wide dedup shuffle is paid here
    val adj = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .unionAll(edges.select(col(dstCol).cast("long").as("a"),
        col(srcCol).cast("long").as("b")))
      .localCheckpoint(true)
    // broadcast the frontier (the BfsSampler device): the adjacency —
    // the big side — is probed in place instead of re-shuffled every
    // round; a frontier too large to broadcast means the walk has
    // reached graph scale and hop-bounded BFS is the wrong tool anyway
    graft.util.Checkpoints.fixpoint("Bfs.levels", Seq((source, 0)).toDF("id", "dist"),
        maxDepth, Seq(adj), metric = Some(depth => count_if(col("dist") === depth)),
        done = _ == 0L) { (visited, depth) =>
      val frontier = visited.filter(col("dist") === depth - 1).select(col("id").as("a"))
      val next = adj.join(broadcast(frontier), Seq("a"))
        .select(col("b").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("dist", lit(depth))
      visited.unionAll(next)
    }
  }
}
