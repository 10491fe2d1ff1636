package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint discipline for the iterate-to-fixpoint operators
  * (connected components, k-core peel, BFS, PageRank, label propagation),
  * which all run through [[fixpoint]]. The loop contract, stated once:
  *
  *  - ONE Spark action per round: the round's frame is materialized with
  *    `localCheckpoint(true)`, which keeps lineage flat. The scalar a stop
  *    test needs rides that same job as a `Dataset.observe` at the top of
  *    the checkpointed plan (the result stage, where each task's metric
  *    update is applied once) and is read back from the query's observed
  *    metrics when the checkpoint returns; no separate `count`, `isEmpty`
  *    or `collect` decides the next round.
  *  - Release: the previous generation is released once the next one
  *    exists. Without it the superseded blocks stay in the block manager
  *    until the DRIVER garbage-collects the old DataFrame and the async
  *    ContextCleaner gets to them; in local mode they share the one heap
  *    with execution memory (round 10: kc1's 30.0 s first pass carried
  *    5,056 ms of GC against 169 ms in a same-JVM retime at identical
  *    shuffle bytes, and the 30× scale audit OOM'd an 8 GB heap on exactly
  *    these blocks; BENCH_DETAIL_r10.json, BENCH_NOTES.md). The round-0
  *    `init` frame is read directly, never checkpointed or released. Loop
  *    invariants, and the live generation when the loop fails, are
  *    released however the loop ends.
  *  - A loop that must converge fails at its round cap (after that
  *    release) instead of returning a cut-off result.
  *  - Rounds are data: each round's jobs carry the Spark job description
  *    `"<op> round <r>"` (r from 1), so a listener or the UI can count and
  *    attribute rounds; nothing is printed.
  *
  * [[release]] may only be called on a frame whose data can never be
  * re-read: a localCheckpoint truncates lineage, so a released frame is
  * unrecomputable by design.
  */
object Checkpoints {

  /** True when the process runs with `-Dgraft.explain.lazyPlans=true` —
    * set ONLY by [[graft.tools.Explain]] so plan dumps show the real
    * pre-checkpoint physical plan instead of a vacuous post-checkpoint
    * RDD scan (the r14 verdict's evidence gap for the eagerly-
    * materializing family: dsir1/2, er1, d3/d6/d8/dq7). Bench and Verify
    * never set it, so timed/verified semantics are untouched. */
  private[graft] def lazyPlans: Boolean =
    java.lang.Boolean.getBoolean("graft.explain.lazyPlans")

  /** Eagerly materialize a ONE-SHOT result frame (`localCheckpoint(true)`)
    * — or, under [[lazyPlans]], return the frame unchanged so its full
    * plan stays visible to explain. Use for terminal materializations
    * only; iterate-to-fixpoint loops run through [[fixpoint]], whose
    * stop tests and [[release]] discipline depend on actually
    * materializing each round. */
  def eager(df: DataFrame): DataFrame =
    if (lazyPlans) df else df.localCheckpoint(true)

  /** Unpersisting a locally-checkpointed RDD logs a WARN ("lineage has
    * been truncated and cannot be recomputed") — here that is the whole
    * POINT (the contract above releases only unreachable frames), and a
    * 186-query sweep would emit hundreds of them. Suppression is SCOPED:
    * the logger (named for the concrete RDD class) is dropped to ERROR
    * only around the unpersist call and restored after, so legitimate
    * truncated-lineage warnings from unrelated unpersists elsewhere
    * (Bench's between-query sweep, ShufProbe) still surface. */
  private def quietly[A](body: => A): A = {
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val prev =
      try Option(org.apache.logging.log4j.LogManager.getLogger(name).getLevel)
      catch { case _: Throwable => None }
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      name, org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    try body
    finally prev.foreach { lvl =>
      try org.apache.logging.log4j.core.config.Configurator.setLevel(name, lvl)
      catch { case _: Throwable => () }
    }
  }

  /** Unpersist the storage blocks behind `df`, which MUST be a bare
    * checkpoint frame — its analyzed plan a single `LogicalRDD` leaf,
    * exactly what `localCheckpoint()` returns. Anything else (a
    * projection/join DERIVED from a checkpoint) throws: unpersisting the
    * leaves under a derived frame would release blocks the caller still
    * owns, and a truncated-lineage checkpoint cannot be recomputed, so
    * that misuse must fail fast rather than corrupt caller state.
    * Non-blocking: the block-manager removal proceeds asynchronously, but
    * the RDD leaves the persistent-RDD registry immediately, so storage
    * accounting (and [[org.apache.spark.SparkContext#getPersistentRDDs]])
    * reflects the release at once. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => quietly(lr.rdd.unpersist(blocking = false))
    case other => throw new IllegalArgumentException(
      "Checkpoints.release expects a bare checkpoint frame (a single " +
        s"LogicalRDD leaf); got ${other.nodeName} — releasing a derived " +
        "frame would unpersist blocks the caller still owns")
  }

  /** Run `step` from `init` for at most `maxRounds` rounds under the loop
    * contract above, and return the last round's checkpoint (`init` itself
    * when `maxRounds` is 0).
    *
    * @param op         names the loop in job descriptions and in the cap
    *                   failure
    * @param invariants bare checkpoint frames the rounds read; released
    *                   when the loop ends, however it ends
    * @param metric     the stop test's scalar for round r: an aggregate
    *                   (yielding a long) over round r's frame, observed on
    *                   its checkpoint job
    * @param done       true of a round's metric ends the loop after that
    *                   round
    * @param mustConverge fail when `done` has not held by `maxRounds`
    * @param step       round r's frame from round r − 1's */
  private[graft] def fixpoint(op: String, init: DataFrame, maxRounds: Int,
      invariants: Seq[DataFrame] = Nil, metric: Option[Int => Column] = None,
      done: Long => Boolean = _ => false, mustConverge: Boolean = false)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    val sc = init.sparkSession.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    var cur = init
    var round = 0
    var stopped = false
    try {
      while (!stopped && round < maxRounds) {
        round += 1
        sc.setJobDescription(s"$op round $round")
        val frame = step(cur, round)
        val observed = metric.fold(frame)(m => frame.observe(op, m(round).as("m")))
        val next = observed.localCheckpoint(true)
        if (cur ne init) release(cur)
        cur = next
        stopped = metric.isDefined &&
          done(observed.queryExecution.observedMetrics(op).getLong(0))
      }
      require(stopped || !mustConverge, s"$op did not converge within $maxRounds rounds")
      cur
    } catch {
      case e: Throwable =>
        if (cur ne init) release(cur)
        throw e
    } finally {
      invariants.foreach(release)
      sc.setLocalProperty("spark.job.description", description)
    }
  }
}
