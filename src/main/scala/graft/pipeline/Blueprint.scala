package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agg.VectorAgg
import graft.functions.ArrayKernel.{Tensor, cube, matVec, matrix, minus, plus, scalar, scale,
  softmax, softmaxBack, stableSoftmax, stack, transpose, vecMat, vector}
import graft.graph.{EdgeType, RelGraph}
import graft.similarity.Similarity

/** Blueprint-style composition of message-passing pipelines over a
  * [[RelGraph]] — the engine's restatement of the reference's
  * `BlueprintModel` assembly surface (nn/models/blueprint.py:24-214): the
  * user supplies per-stage transforms (`pre_combination`, per-edge-type
  * `table_combination`, `post_combination`, `decoder_aggregation`,
  * `decoder`) and the runner wires K rounds of hetero message passing.
  *
  * Everything is a lazy DataFrame plan: one round = (per edge type: edge
  * join + per-destination vector reduce) + a cross-edge-type sum + an
  * elementwise combine — shuffles only on edge keys, partial aggregation
  * map-side, no driver-side loops over rows. Learned parameters live in
  * literal weight arrays (or broadcastable weight DataFrames), so a forward
  * pass is runnable on any cluster size.
  */
object Blueprint {

  /** Per-node-type transform on (id, feat) DataFrames. */
  type NodeTransform = DataFrame => DataFrame

  final case class Config(
      layers: Int = 1,
      aggr: String = "mean",                 // sum | mean | min | max (A7) | attn (A9 vector)
      pre: NodeTransform = identity,         // pre_combination
      post: NodeTransform = identity,        // post_combination
      /** combine(self, neighborAgg) -> new features; default: mean of the
        * two vectors (MeanAddConv-like, nn/conv/mean_add.py:8-20). */
      combine: (Column, Column) => Column =
        (self, agg) => zip_with(self, agg, (a, b) => (a + b) / 2.0),
      /** Per-edge-type aggregation override — the reference's
        * `table_combination` is supplied PER edge type
        * (nn/models/blueprint.py:24-214); unlisted types fall back to
        * `aggr`. */
      edgeAggr: Map[EdgeType, String] = Map.empty,
      /** Per-destination-node-type combine override (the combine runs
        * after the cross-edge-type reduce, so its natural granularity is
        * the node type); unlisted types fall back to `combine`. */
      nodeCombine: Map[String, (Column, Column) => Column] = Map.empty)

  /** Run K rounds of heterogeneous message passing.
    *
    * @param nodes per table: (id, feat: array<double>) — id is the graph
    *              row id ([[RelGraph.RowId]] based)
    * @param edges (src_id, dst_id) per edge type (include reverse edge
    *              types for undirected flow, RelGraph.withReverseEdges)
    * @return per-table node features after K rounds
    *
    * A node whose `feat` (after `pre`) is NULL, empty or holds a NULL
    * fails the query, naming its table: the vector aggregates read an
    * empty array as "no message" and skip a NULL one, so such a child
    * would drop out of its parent's aggregate without a sign.
    */
  def forward(
      nodes: Map[String, DataFrame],
      edges: Map[EdgeType, DataFrame],
      cfg: Config = Config()): Map[String, DataFrame] = {

    var state = nodes.map { case (t, df) =>
      t -> cfg.pre(df).withColumn("feat",
        checkedFeatures(col("feat"), 0, s"table '$t': feature column 'feat'"))
    }
    (1 to cfg.layers).foreach { _ =>
      // per edge type: reduce messages per destination (A7; attn = A9
      // cross-attention with the destination features as queries)
      val perType: Seq[(String, DataFrame)] = edges.toSeq.map { case (et, e) =>
        val aggr = cfg.edgeAggr.getOrElse(et, cfg.aggr)
        val reduced =
          if (aggr == "attn")
            VectorAgg.propagateAttention(state(et.src), state(et.dst), e, "id", "feat")
          else VectorAgg.propagate(state(et.src), e, "id", "feat", aggr)
        et.dst -> reduced.withColumnRenamed("dst_id", "id")
      }
      // cross-edge-type reduce per destination table (HeteroConv sum)
      val incoming: Map[String, DataFrame] = perType.groupBy(_._1).map { case (t, dfs) =>
        t -> dfs.map(_._2).reduce(_.unionAll(_))
          .groupBy("id").agg(VectorAgg.vecSum(col("feat")).as("feat"))
      }
      state = state.map { case (t, self) =>
        t -> (incoming.get(t) match {
          case None => self
          case Some(msgs) =>
            val m = msgs.withColumnRenamed("feat", "__msg")
            val comb = cfg.nodeCombine.getOrElse(t, cfg.combine)
            // nodes with no incoming edges keep their own features
            self.join(m, Seq("id"), "left")
              .select(col("id"),
                when(col("__msg").isNull, col("feat"))
                  .otherwise(comb(col("feat"), col("__msg"))).as("feat"))
        })
      }
      state = state.map { case (t, df) => t -> cfg.post(df) }
    }
    state
  }

  /** Decoder: linear readout over the target table's features —
    * score = feat · weights + bias (nn/models/blueprint.py decoder stage).
    * Weights as literals → broadcast-free, codegen-friendly. */
  def decodeLinear(target: DataFrame, weights: Array[Double], bias: Double): DataFrame =
    target.select(col("id"),
      (Similarity.dot(col("feat"), Similarity.litVec(weights)) + bias).as("score"))

  /** F21-style classification readout: per-class scores → softmax + argmax. */
  def decodeClasses(target: DataFrame, classWeights: Seq[Array[Double]]): DataFrame =
    decodeClasses(target, classWeights, Seq.fill(classWeights.length)(0.0))

  /** [[decodeClasses]] with per-class biases — the readout for
    * [[fitClassDecoders]]' (weights, bias) pairs. */
  def decodeClasses(target: DataFrame, classWeights: Seq[Array[Double]],
      biases: Seq[Double]): DataFrame = {
    require(classWeights.length == biases.length, "one bias per class")
    val scores = array(classWeights.zip(biases).map { case (w, b) =>
      Similarity.dot(col("feat"), Similarity.litVec(w)) + lit(b)
    }: _*)
    target.select(col("id"), scores.as("scores"))
      .withColumn("probs", Similarity.softmaxArray(col("scores")))
      .withColumn("pred", Similarity.argmaxArray(col("scores")))
  }

  /** Closed-form ridge/OLS fit of the [[decodeLinear]] weights — the
    * train-a-readout capability of the reference's Lightning fit stage
    * (main.py:307-323) re-expressed as pure aggregation: the normal
    * equations `(X'X + λI) w = X'y` need only the sums Σ xᵢxⱼ, Σ xᵢ,
    * Σ xᵢy, Σ y and n, all computed in ONE distributed pass with map-side
    * partial aggregation (shuffles a single (k+2)(k+1)/2-value row), then a
    * (k+1)×(k+1) solve on the driver — k is the feature dimension, so the
    * driver work is trivially small at any data scale.
    *
    * The intercept is an implicit all-ones column and is NOT penalized by
    * `lambda` (standard ridge convention).
    *
    * @param df      rows with a feature vector column and a label column
    * @param featCol array<double> feature column, fixed width `dim`
    * @param yCol    numeric label column
    * @param lambda  L2 penalty; 0 = OLS
    * @return (weights, bias) for [[decodeLinear]]
    */
  def fitLinearDecoder(df: DataFrame, featCol: String, yCol: String, dim: Int,
      lambda: Double = 0.0): (Array[Double], Double) =
    fitLinearDecoders(df, featCol, Seq(checkedLabel(yCol)), dim, lambda).head

  /** Multi-target form of [[fitLinearDecoder]]: the Gram matrix X'X is
    * target-independent, so T targets share ONE distributed pass (X'X once
    * + X'y per target) and T tiny driver solves — fitting a T-class
    * readout costs the same scan as fitting one. The fit reads the first
    * `dim` values of `featCol`; a row where one of them is missing or
    * NULL, or whose target is NULL, fails that pass: the sums would skip
    * it while `n` still counts the row. */
  def fitLinearDecoders(df: DataFrame, featCol: String, targets: Seq[Column],
      dim: Int, lambda: Double = 0.0): Seq[(Array[Double], Double)] = {
    require(dim >= 1, "need at least one feature")
    require(targets.nonEmpty, "need at least one target")
    val x = (i: Int) => element_at(col("__x"), i + 1)
    val sums: Seq[Column] =
      (for { i <- 0 until dim; j <- i until dim }
        yield sum(x(i) * x(j)).as(s"s_${i}_$j")) ++
      (0 until dim).map(i => sum(x(i)).as(s"s1_$i")) ++
      targets.indices.flatMap { t =>
        val y = col(s"__y$t")
        (0 until dim).map(i => sum(x(i) * y).as(s"sy_${t}_$i")) :+
          sum(y).as(s"sy_$t")
      } ++
      Seq(count(lit(1)).cast("double").as("n"))
    val rows = df.select(firstFeatures(featCol, dim).as("__x") +: targets.zipWithIndex.map { case (y, t) =>
        when(y.isNotNull, y).otherwise(raise_error(lit(s"target $y must hold a non-NULL number")))
          .as(s"__y$t")
      }: _*)
    val row = rows.agg(sums.head, sums.tail: _*).collect()(0)
    def g(name: String): Double = row.getDouble(row.fieldIndex(name))
    val k = dim + 1
    targets.indices.map { t =>
      // solveLinearSystem mutates its arguments: fresh copies per target
      val a = Array.ofDim[Double](k, k)
      val b = new Array[Double](k)
      for (i <- 0 until dim; j <- i until dim) { a(i)(j) = g(s"s_${i}_$j"); a(j)(i) = a(i)(j) }
      for (i <- 0 until dim) { a(i)(dim) = g(s"s1_$i"); a(dim)(i) = a(i)(dim); a(i)(i) += lambda }
      a(dim)(dim) = g("n")
      for (i <- 0 until dim) b(i) = g(s"sy_${t}_$i")
      b(dim) = g(s"sy_$t")
      val w = solveLinearSystem(a, b)
      (w.take(dim), w(dim))
    }
  }

  /** K-fold cross-validated ridge regression in TWO distributed passes
    * REGARDLESS of k — model selection without k re-scans of the data.
    * Pass 1 groups the Gram/moment sufficient statistics by `foldCol`
    * (≤ k rows collected — bounded like a centroid pull); each fold's
    * leave-one-fold-out model is solved on the driver from
    * (total − fold) sums, so training set f = everything outside fold f
    * at zero extra scan cost. The k models are FROZEN at 4 dp (both
    * engines score identical parameters — the pipe2 device) and pass 2
    * broadcast-joins them back by fold to score every row against the
    * model that did NOT see it, aggregating per-fold held-out MSE.
    *
    * Returns one row per fold: (fold, n_test, w_0..w_{dim-1}, bias,
    * mse). Assign folds by a GROUPING key (e.g. [[graft.sample.Sampling
    * .kFold]] on the order key) to keep the split leakage-free. A row
    * missing one of its first `dim` features, or with a NULL label, fails
    * pass 1, as in [[fitLinearDecoders]].
    */
  def kFoldRidge(df: DataFrame, featCol: String, yCol: String, dim: Int,
      foldCol: String, lambda: Double = 0.0): DataFrame = {
    require(dim >= 1, "need at least one feature")
    val spark = df.sparkSession
    val rows = df.select(col(foldCol).cast("int").as("fold"),
      firstFeatures(featCol, dim).as("__x"), checkedLabel(yCol).as("__y"))
    val x = (i: Int) => element_at(col("__x"), i + 1)
    val y = col("__y")
    val sums: Seq[Column] =
      (for { i <- 0 until dim; j <- i until dim }
        yield sum(x(i) * x(j)).as(s"s_${i}_$j")) ++
      (0 until dim).map(i => sum(x(i)).as(s"s1_$i")) ++
      (0 until dim).map(i => sum(x(i) * y).as(s"sy_$i")) ++
      Seq(sum(y).as("sy"), count(lit(1)).cast("double").as("n"))
    val perFold = rows.groupBy(col("fold"))
      .agg(sums.head, sums.tail: _*)
      .collect().sortBy(_.getInt(0))
    require(perFold.length >= 2, "need at least 2 non-empty folds")
    val fields = (for { i <- 0 until dim; j <- i until dim } yield s"s_${i}_$j") ++
      (0 until dim).map(i => s"s1_$i") ++
      (0 until dim).map(i => s"sy_$i") ++ Seq("sy", "n")
    def g(r: org.apache.spark.sql.Row, f: String) = r.getDouble(r.fieldIndex(f))
    // totals accumulate in ascending-fold order (pinned for restatement)
    val tot = fields.map(f => f -> perFold.map(g(_, f)).sum).toMap
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = dim + 1
    val models = perFold.map { r =>
      val a = Array.ofDim[Double](k, k)
      val b = new Array[Double](k)
      def lo(f: String) = tot(f) - g(r, f)
      for (i <- 0 until dim; j <- i until dim) {
        a(i)(j) = lo(s"s_${i}_$j"); a(j)(i) = a(i)(j)
      }
      for (i <- 0 until dim) {
        a(i)(dim) = lo(s"s1_$i"); a(dim)(i) = a(i)(dim); a(i)(i) += lambda
      }
      a(dim)(dim) = lo("n")
      for (i <- 0 until dim) b(i) = lo(s"sy_$i")
      b(dim) = lo("sy")
      val w = solveLinearSystem(a, b)
      org.apache.spark.sql.Row.fromSeq(
        r.getInt(0) +: w.map(r4).toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("fold",
        org.apache.spark.sql.types.IntegerType) +:
      ((0 until dim).map(i => org.apache.spark.sql.types.StructField(s"__w$i",
        org.apache.spark.sql.types.DoubleType)) :+
       org.apache.spark.sql.types.StructField("__b",
         org.apache.spark.sql.types.DoubleType)))
    val mdf = spark.createDataFrame(
      spark.sparkContext.parallelize(models.toSeq, 1), schema)
    val pred = (0 until dim).map(i => x(i) * col(s"__w$i")).reduce(_ + _) +
      col("__b")
    rows.join(broadcast(mdf), "fold")
      .groupBy(col("fold"))
      .agg(count(lit(1)).cast("bigint").as("n_test"),
        ((0 until dim).map(i => first(col(s"__w$i")).as(s"w_$i")) :+
         first(col("__b")).as("bias") :+
         round(avg(pow(col("__y") - pred, 2)), 2).as("mse")): _*)
  }

  /** Gradient-trained logistic readout — the train-LOOP capability of the
    * reference's Lightning fit stage (main.py:307-323) in distributed
    * form, complementing the closed-form [[fitLinearDecoder]]: full-batch
    * gradient descent on logistic loss. Each step runs on the GD kernel
    * ([[gdStep]]): one aggregate of the per-row gradient
    * `(σ(x̂·θ) − y)·x̂` (x̂ = x ++ [1], θ = w ++ [b]) with map-side partial
    * aggregation, then the driver-side update. θ enters the plan as ONE
    * array literal, so the plan has the same size at any dim and its
    * generated code is the same from step to step. Mini-batching at
    * 100 TB = a deterministic [[graft.sample.Sampling]] filter composed in
    * front per step; the loop shape is unchanged.
    *
    * Update rule (op order pinned for engine-parity restatement):
    * `w_i ← w_i − lr·(g_i/n + l2·w_i)`, bias unpenalized. Weights start at
    * zero, so step 1's gradient is exact-integer arithmetic for integer
    * features; later steps are dominated by σ = 1/(1+exp(−m)), whose
    * cross-engine error is ulp-level — orders below the round-6 contract.
    * A feature array that is not `dim` long, is NULL or holds a NULL
    * fails the step.
    */
  def fitLogisticGD(df: DataFrame, featCol: String, yCol: String, dim: Int,
      steps: Int, lr: Double, l2: Double = 0.0): (Array[Double], Double) = {
    require(dim >= 1, "need at least one feature")
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    val rows = withCheckedFeatures(df, featCol, dim, "feature")
    val x = col(featCol)
    val dm = col("__dm")
    val theta = (1 to steps).foldLeft(new Array[Double](dim + 1)) { (theta, _) =>
      val fwd = rows.withColumn("__dm",
        sigmoid(Similarity.dot(withOne(x), Similarity.litVec(theta))) - checkedLabel(yCol))
      gdStep(fwd, concat(transform(x, xi => dm * xi), array(dm)), theta, lr,
        l2 = l2, decayed = dim)
    }
    (theta.take(dim), theta(dim))
  }

  /** Parameters of a one-hidden-layer sigmoid network:
    * `h_j = σ(Σ_i x_i·w1(i)(j) + b1(j))`, `p = σ(Σ_j h_j·w2(j) + b2)`. */
  final case class MlpParams(w1: Array[Array[Double]], b1: Array[Double],
      w2: Array[Double], b2: Double)

  /** Gradient-trained HIDDEN layer — end-to-end backprop through a
    * one-hidden-layer sigmoid network, the message-passing-weights
    * counterpart of [[fitLogisticGD]]'s readout-only training (the
    * reference trains the whole blueprint stack end-to-end,
    * main.py:307-323, nn/models/blueprint.py:24-214). Each step runs on
    * the GD kernel ([[gdStep]]): the per-row forward activations and all
    * backprop products are array expressions over the feature vector, one
    * aggregate sums them (map-side partial agg), and the driver updates.
    * The parameters enter the plan as array literals — nothing is
    * broadcast, no state lives on executors, the plan has the same size
    * at any dim × hidden, and its generated code is the same from step to
    * step;
    * mini-batching composes a deterministic [[graft.sample.Sampling]]
    * filter in front of each pass.
    *
    * Op order is pinned (margins accumulate in feature order; each
    * gradient product multiplies left-to-right `dm · w2_j · h_j(1−h_j) ·
    * x_i`; updates are `θ − lr·(g/n)`) so the recurrence is restatable
    * engine-for-engine in SQL — cross-engine drift is summation-order and
    * exp ulps, orders below a round-6 contract. A feature array that is
    * not `dim` long, is NULL or holds a NULL fails the step. */
  def fitMlpGD(df: DataFrame, featCol: String, yCol: String, dim: Int,
      hidden: Int, steps: Int, lr: Double,
      init: MlpParams = null): MlpParams = {
    require(dim >= 1 && hidden >= 1, "need at least one feature and hidden unit")
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    // zero init would make hidden units permanently identical (symmetry);
    // the default is a small deterministic ramp, same constants as the
    // SQL restatement
    val p0 = if (init != null) init else MlpParams(
      Array.tabulate(dim, hidden)((i, j) => 0.1 * (i + 1) * (if (j % 2 == 0) 1 else -1)),
      Array.fill(hidden)(0.0),
      Array.tabulate(hidden)(j => 0.1 * (j + 1)),
      0.0)
    require(shaped(p0.w1, dim, hidden) && p0.b1.length == hidden && p0.w2.length == hidden,
      "init shape mismatch")
    val unflat = (theta: Array[Double]) => {
      val u = new Unflat(theta)
      MlpParams(u.mat(dim, hidden), u.vec(hidden), u.vec(hidden), u.scalar)
    }
    val (x, h, dm, d) = (col(featCol), col("__h"), col("__dm"), col("__d"))
    val theta = (1 to steps).foldLeft(p0.w1.flatten ++ p0.b1 ++ p0.w2 :+ p0.b2) { (theta, _) =>
      val p = unflat(theta)
      // d_j = dm·w2_j·h_j(1−h_j): the message layer's residual per unit
      val back = mlpForward(df, featCol, yCol, p)
        .withColumn("__dm", col("__p") - col("__y"))
        .withColumn("__d", zip_with(h, Similarity.litVec(p.w2),
          (hj, vj) => dm * vj * (hj * (lit(1.0) - hj))))
      gdStep(back, concat(flatten(transform(x, xi => transform(d, dj => dj * xi))), d,
        transform(h, hj => dm * hj), array(dm)), theta, lr)
    }
    unflat(theta)
  }

  /** [[fitMlpGD]]'s forward over the checked feature rows: the hidden
    * activations `__h`, the prediction `__p` and the label `__y`. */
  private def mlpForward(df: DataFrame, featCol: String, yCol: String,
      p: MlpParams): DataFrame =
    withCheckedFeatures(df, featCol, p.w1.length, "feature")
      .withColumn("__h", sigmoidLayer(withOne(col(featCol)), p.w1, p.b1))
      .withColumn("__p", sigmoid(Similarity.dot(withOne(col("__h")),
        Similarity.litVec(p.w2 :+ p.b2))))
      .withColumn("__y", checkedLabel(yCol))

  /** End-to-end backprop THROUGH the message-passing aggregation — the
    * one genuinely graph-structured trainable layer the reference fits
    * end-to-end (main.py:307-323 trains embedder + convs + decoder; the
    * conv is a per-child transform followed by a per-parent reduce,
    * nn/conv/mean_add.py:8-20). [[fitLogisticGD]]/[[fitMlpGD]] train
    * dense layers on flat features; here the HIDDEN layer sits UPSTREAM
    * of the A7 scatter-sum, so its gradient must flow backward through
    * the aggregation.
    *
    * Model: each child row (one FK edge) emits a message
    * `h_j = σ(Σ_i x_i·w1(i)(j) + b1(j))`; a parent aggregates its
    * children's messages by SUM (`a_j = Σ_children h_j`, zero when
    * childless — [[VectorAgg.propagate]]'s `sum` semantics); the readout
    * is `p = σ(Σ_j a_j·w2(j) + b2)` against the parent label, mean
    * logistic loss over parents.
    *
    * The adjoint of a scatter-sum sends each parent's residual to its
    * children: `∂L/∂h(child) = ∂L/∂a(its parent)`. This is
    * [[fitHeteroGnnGD]] with ONE edge group and `aggr = "sum"` (same
    * default init), so a GD step costs what that step costs: one Spark
    * action, the backward sums riding the forward scatter-sum.
    *
    * General graphs: pass one row per EDGE (pre-join the source features
    * onto the edge list); a multi-out-edge source's rows duplicate its
    * features, which the per-edge sums count exactly once per edge —
    * the correct gradient.
    *
    * @param children one row per FK edge: fk columns + featCol
    * @param parents  one row per parent: key columns + yCol (0/1)
    * @return the trained [[MlpParams]] (w1/b1 = message layer upstream of
    *         the aggregation, w2/b2 = readout) */
  def fitGnnGD(children: DataFrame, fkCols: Seq[String], featCol: String,
      parents: DataFrame, keyCols: Seq[String], yCol: String,
      dim: Int, hidden: Int, steps: Int, lr: Double,
      init: MlpParams = null): MlpParams = {
    val p = fitHeteroGnnGD(Seq(EdgeGroup(children, fkCols, featCol, dim)), parents,
      keyCols, yCol, hidden, steps, lr,
      if (init == null) null
      else HeteroGnnParams(Seq(init.w1), Seq(init.b1), init.w2, init.b2))
    MlpParams(p.w1.head, p.b1.head, p.w2, p.b2)
  }

  /** Mean logistic loss of [[fitGnnGD]]'s network over the parents
    * ([[heteroGnnLogLoss]] on one group); the finite-difference anchor
    * proving the analytic gradient really flows through the aggregation. */
  def gnnLogLoss(children: DataFrame, fkCols: Seq[String], featCol: String,
      parents: DataFrame, keyCols: Seq[String], yCol: String,
      p: MlpParams): Double =
    heteroGnnLogLoss(Seq(EdgeGroup(children, fkCols, featCol, p.w1.length)),
      parents, keyCols, yCol,
      HeteroGnnParams(Seq(p.w1), Seq(p.b1), p.w2, p.b2))

  /** One typed EDGE GROUP of a hetero GNN layer: one row per FK edge
    * (fk columns + an array feature column of width `dim`). The reference
    * keys one conv per edge type and lets `HeteroConv` SUM the per-type
    * aggregates into each destination (nn/models/hetero_gnn.py:25-36);
    * a reverse edge (J5) is just another group whose children frame is
    * the parent→source join. */
  final case class EdgeGroup(children: DataFrame, fkCols: Seq[String],
      featCol: String, dim: Int)

  /** Parameters of the hetero layer: per-group message weights
    * (`w1(t)`, `b1(t)`) feeding ONE shared readout (`w2`, `b2`); `u(t)`
    * is group t's attention scorer, present only under `aggr = "attn"`
    * (null otherwise — sum/mean have no attention parameters). */
  final case class HeteroGnnParams(w1: Seq[Array[Array[Double]]],
      b1: Seq[Array[Double]], w2: Array[Double], b2: Double,
      u: Seq[Array[Double]] = null)

  /** Joint training across SEVERAL edge types — the reference's hetero
    * conv semantics (nn/models/hetero_gnn.py:25-36: one SAGEConv per edge
    * type, per-destination aggregates summed across types; trained
    * end-to-end with the decoder, main.py:307-323). Each group `t` owns a
    * message layer `h^t_j = σ(x·w1(t)(·)(j) + b1(t)(j))`, a parent's
    * hidden state is the CROSS-TYPE sum `a_j = Σ_t Σ_{children_t} h^t_j`,
    * and one shared readout `p = σ(a·w2 + b2)` scores the parent label.
    *
    * Because the types enter `a_j` additively, the adjoint decomposes
    * per type: `∂L/∂h^t(child) = dm(its parent)` independently of which
    * type carried the message. And it is LINEAR in per-edge terms:
    * `Σ_edges dm_p·f(edge) = Σ_parents dm_p·Σ_{edges of p} f(edge)`, so
    * the per-parent scatter aggregate that feeds the forward pass can
    * carry the backward pass's sums too — `Σ h`, `Σ h(1−h)·x`,
    * `Σ h(1−h)` and the child count — and no residual ever travels back
    * to the child rows.
    *
    * Cost per GD step: ONE Spark action. Per group, one projection of the
    * children (message, outer products, packed into one array) and one
    * scatter-sum on the parent key; the parents left-join every group's
    * aggregate; one global vector sum over parents returns every
    * gradient, which the driver unpacks into one flat parameter vector's
    * layout for the GD kernel's update ([[descend]], the `θ − lr·(g/n)`
    * every trainer shares). Each children plan is evaluated
    * once, nothing is checkpointed or persisted. The per-edge and
    * per-parent math runs on array columns with every parameter passed
    * as ONE array literal per vector or matrix ([[Similarity.litVec]]),
    * which the generated code references instead of inlining: the plan
    * has the same size at any dim×hidden, and its generated code is the
    * same from one step to the next (no per-step recompilation).
    *
    * `aggr` selects the per-type reduce, mirroring the reference's
    * AggrType knob (hetero_gnn.py:19, main.py:61 defaults to "sum"; the
    * experiment tune space is choice(["attn", "sum"]),
    * blueprint_mlflow.py:267): "sum", "mean", or "attn". Mean divides a
    * type's sums by the per-(parent, type) child count the same
    * aggregate carries, and its adjoint scales that parent's residual by
    * the same 1/n. Attn gives every group its own trainable scorer `u(t)`
    * and per-(parent, type) softmax weights `α` (A9's stable two-window
    * device on the group's OWN scores, on the parent key the scatter-sum
    * shuffles on anyway); the forward and backward sums become
    * α-weighted, and the softmax Jacobian — the per-edge scalar
    * `dm·α·(m_c − s_t)` with `m_c = h_c·w2` and `s_t` the group's OWN
    * aggregate projected on w2 (cross-type terms vanish: another type's
    * aggregate does not read this type's scores) — rides along as
    * `Σ α·m·x` and `Σ α·x`: `gu_i = Σ_p dm_p·(Σ α·m·x_i − s_t·Σ α·x_i)`.
    * Attention heads come from the parameter shapes: `H = w2.length /
    * hidden`; head g owns `u(t)`'s g-th `dim` values and `w2`'s g-th
    * `hidden` values (head-major). A type's aggregate concatenates the
    * heads' `Σ α_g·h` over shared messages, the H window pairs share one
    * exchange, and the driver mixes the heads' message-weight gradient
    * blocks over `w2_g`. H > 1 needs "attn"; the default init has H = 1.
    * ("min"/"max" route gradients to one extremal child and "cat"
    * changes the readout arity — neither is trained by any reference
    * experiment config; out of scope.)
    *
    * Every child's feature array must hold exactly `dim` non-NULL
    * values; any other (or a NULL array) fails the step with an error
    * instead of silently dropping out of the sums.
    *
    * Forward op order is pinned for the SQL restatement (`(Σ_i x_i·w + b)`
    * left to right, `1/(1+exp(−z))`); gradients sum per parent first,
    * so drift against a per-edge restatement is summation order. */
  def fitHeteroGnnGD(groups: Seq[EdgeGroup], parents: DataFrame,
      keyCols: Seq[String], yCol: String, hidden: Int, steps: Int,
      lr: Double, init: HeteroGnnParams = null,
      aggr: String = "sum"): HeteroGnnParams = {
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    val attn = aggr == "attn"
    val p0 = if (init != null) init else HeteroGnnParams(
      groups.map(g => Array.tabulate(g.dim, hidden)(
        (i, j) => 0.1 * (i + 1) * (if (j % 2 == 0) 1 else -1))),
      groups.map(_ => Array.fill(hidden)(0.0)),
      Array.tabulate(hidden)(j => 0.1 * (j + 1)),
      0.0,
      if (attn) groups.map(g => Array.tabulate(g.dim)(i => 0.05 * (i + 1)))
      else null)
    checkHetero(groups, keyCols, hidden, p0, aggr)
    val width = p0.w2.length // the readout's input: H heads × hidden
    val heads = width / hidden
    // θ: w2, b2, then per group w1 (i-major), b1 and attn's u; unflat
    // builds fresh arrays, so the caller's init is never written
    val unflat = (theta: Array[Double]) => {
      val u = new Unflat(theta)
      val (w2, b2) = (u.vec(width), u.scalar)
      val perGroup = groups.map(g =>
        (u.mat(g.dim, hidden), u.vec(hidden), if (attn) u.vec(heads * g.dim) else null))
      HeteroGnnParams(perGroup.map(_._1), perGroup.map(_._2), w2, b2,
        if (attn) perGroup.map(_._3) else null)
    }
    val theta0 = p0.w2 ++ Array(p0.b2) ++ groups.indices.flatMap(t =>
      p0.w1(t).flatten ++ p0.b1(t) ++ (if (attn) p0.u(t) else Array.empty[Double]))
    unflat((1 to steps).foldLeft(theta0) { (theta, _) =>
      val p = unflat(theta)
      val fwd = heteroForward(groups, parents, keyCols, yCol, p, aggr)
        .withColumn("__dm", col("__p") - col("__y"))
      val dm = col("__dm")
      // per group: each head's message-weight sums (scaled by 1/n_t under
      // mean), then attn's score sums; zero for a parent childless in t
      val perGroup = groups.zipWithIndex.flatMap { case (g, t) =>
        val s = col(s"__s$t")
        val c = (g.dim + 2) * hidden // one head's [Σα·h | Σα·h(1−h)⊗x̂]
        val scale = if (aggr == "mean") dm / col(s"__n$t") else dm
        val gw = (0 until heads).map(k =>
          coalesce(transform(slice(s, k * c + hidden + 1, (g.dim + 1) * hidden),
            v => scale * v), zeros((g.dim + 1) * hidden)))
        if (!attn) gw
        else gw ++ (0 until heads).map { k =>
          val off = heads * c + 1 + 2 * k * g.dim
          // s_tk = a^t_k·w2_k, as a^t against w2 zeroed outside head k
          val sProj = Similarity.dot(col(s"__a$t"), Similarity.litVec(
            Array.tabulate(width)(i => if (i / hidden == k) p.w2(i) else 0.0)))
          coalesce(zip_with(slice(s, off + 1, g.dim),
            slice(s, off + g.dim + 1, g.dim), (am, ax) => dm * (am - sProj * ax)),
            zeros(g.dim))
        }
      }
      val grad = concat(transform(col("__aT"), v => dm * v) +:
        array(dm, lit(1.0)) +: perGroup: _*)
      val r = fwd.select(VectorAgg.vecSum(grad)).collect()(0).getSeq[Double](0).toArray
      val n = if (r.isEmpty) 0.0 else r(width + 1)
      require(n > 0, "cannot fit on an empty parents frame")
      // the sums in θ's layout: gv (width) and gb, then per group the H
      // heads' gw blocks ((dim+1)×hidden, the last row b1's) mixed over
      // w2, then attn's gu (H×dim)
      var off = width + 2
      val g = r.take(width + 1) ++ groups.flatMap { gr =>
        val block = (gr.dim + 1) * hidden
        val gw = Array.tabulate(block)(ij => (0 until heads)
          .map(k => p.w2(k * hidden + ij % hidden) * r(off + k * block + ij)).sum)
        off += heads * block
        val gu = if (attn) r.slice(off, off + heads * gr.dim) else Array.empty[Double]
        off += gu.length
        gw ++ gu
      }
      descend(theta, g, n, lr)
    })
  }

  /** Mean logistic loss of [[fitHeteroGnnGD]]'s network — the same
    * forward plan, one aggregate; the finite-difference anchor proving
    * the gradient flows through EVERY group's aggregation and the shared
    * readout. */
  def heteroGnnLogLoss(groups: Seq[EdgeGroup], parents: DataFrame,
      keyCols: Seq[String], yCol: String, p: HeteroGnnParams,
      aggr: String = "sum"): Double = {
    checkHetero(groups, keyCols, p.b1.headOption.fold(0)(_.length), p, aggr)
    heteroForward(groups, parents, keyCols, yCol, p, aggr)
      .agg(meanLogLoss(col("__y"), col("__p")))
      .collect()(0).getDouble(0)
  }

  private def checkHetero(groups: Seq[EdgeGroup], keyCols: Seq[String],
      hidden: Int, p: HeteroGnnParams, aggr: String): Unit = {
    require(aggr == "sum" || aggr == "mean" || aggr == "attn",
      s"aggr must be 'sum', 'mean' or 'attn', got '$aggr'")
    require(groups.nonEmpty, "need at least one edge group")
    require(hidden >= 1, "need at least one hidden unit")
    groups.foreach { g =>
      require(g.dim >= 1 && g.fkCols.nonEmpty && g.fkCols.length == keyCols.length,
        s"bad edge group: dim=${g.dim}, fkCols=${g.fkCols} vs keyCols=$keyCols")
    }
    require(p.w1.length == groups.length && p.b1.length == groups.length &&
      p.w2.nonEmpty && p.w2.length % hidden == 0 &&
      p.w1.zip(groups).forall { case (w, g) =>
        w.length == g.dim && w.forall(_.length == hidden) } &&
      p.b1.forall(_.length == hidden), "init shape mismatch")
    val heads = p.w2.length / hidden
    require(heads == 1 || aggr == "attn",
      s"w2 holds $heads heads of $hidden units: needs aggr='attn', got '$aggr'")
    require(aggr != "attn" || (p.u != null && p.u.length == groups.length &&
      p.u.zip(groups).forall { case (ut, g) => ut.length == heads * g.dim }),
      "aggr='attn' needs one scorer u(t) per group, holding heads × dim values")
  }

  private def zeros(n: Int): Column = Similarity.litVec(Array.fill(n)(0.0))

  /** The GD step of every single-aggregate trainer. ONE
    * [[VectorAgg.vecSum]] over the packed per-row gradient `grad` (the
    * kernel appends the row's count, 1) returns every gradient sum and n;
    * the driver then applies [[descend]] to the flat parameter vector
    * `theta`, laid out like `grad`.
    *
    * With `table > 0` the rows come from [[lookup]] and the sum groups by
    * its `__code` (card rows after map-side partial aggregation): `grad`
    * starts with the row's `table`-wide block of the looked-up table row,
    * `theta` with the card × `table` table. Each code's aggregate gives
    * that code its block; the remaining blocks add up across codes.
    *
    * Fails when no row reaches the sum (an empty frame, or no code inside
    * the table). `l2`/`decayed` are [[descend]]'s. */
  private def gdStep(rows: DataFrame, grad: Column, theta: Array[Double], lr: Double,
      table: Int = 0, l2: Double = 0.0, decayed: Int = 0): Array[Double] = {
    val packed = VectorAgg.vecSum(withOne(grad))
    val sums: Seq[(Int, Seq[Double])] =
      if (table == 0) Seq(0 -> rows.select(packed).collect()(0).getSeq[Double](0))
      else rows.groupBy(col("__code")).agg(packed).collect().toSeq
        .map(r => r.getInt(0) -> r.getSeq[Double](1))
    val g = new Array[Double](theta.length)
    var n = 0.0
    sums.filter(_._2.nonEmpty).foreach { case (c, v) =>
      val rest = v.length - 1 - table // the blocks summed across codes
      val at = theta.length - rest    // where they sit, after the table
      require(rest >= 0 && (c + 1) * table <= at && (table > 0 || at == 0),
        s"a gradient of ${v.length - 1} values does not fit ${theta.length} parameters")
      (0 until table).foreach(i => g(c * table + i) = v(i))
      (0 until rest).foreach(j => g(at + j) += v(table + j))
      n += v.last
    }
    require(n > 0, if (table > 0) "no row carries a code inside [0, card)"
      else "cannot fit on an empty DataFrame")
    descend(theta, g, n, lr, l2, decayed)
  }

  /** The GD update `θ − lr·(g/n)` of a flat parameter vector; its first
    * `decayed` entries also take an L2 term, `θ − lr·(g/n + l2·θ)`. */
  private def descend(theta: Array[Double], g: Array[Double], n: Double, lr: Double,
      l2: Double = 0.0, decayed: Int = 0): Array[Double] =
    Array.tabulate(theta.length) { i =>
      if (i < decayed) theta(i) - lr * (g(i) / n + l2 * theta(i))
      else theta(i) - lr * (g(i) / n)
    }

  /** Consecutive blocks read off a flat parameter vector, in call order. */
  private final class Unflat(theta: Array[Double]) {
    private var off = 0
    def vec(n: Int): Array[Double] = { off += n; theta.slice(off - n, off) }
    def mat(rows: Int, cols: Int): Array[Array[Double]] = Array.fill(rows)(vec(cols))
    def cube(a: Int, rows: Int, cols: Int): Array[Array[Array[Double]]] =
      Array.fill(a)(mat(rows, cols))
    def scalar: Double = vec(1)(0)
  }

  /** `df` inner-joined to the card × dim table `e` on `codeCol`, adding
    * the code `__code` and its table row `__emb`. The table ships as a
    * broadcast frame, so the lookup is a broadcast-hash join, never a
    * shuffle; a code outside [0, card) or NULL matches nothing and drops
    * out (the dangling-FK convention of the J-ops). */
  private def lookup(df: DataFrame, codeCol: String, e: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val table = e.zipWithIndex.map { case (row, c) => (c, row) }.toSeq.toDF("__code", "__emb")
    df.join(broadcast(table), col(codeCol).cast("int") === col("__code"))
  }

  /** `σ(x̂·w1(·)(j) + b1(j))` for every hidden unit j, over `xh` = x ++ [1]:
    * the weights enter as ONE literal of hidden rows `w1(·)(j) ++ b1(j)`. */
  private def sigmoidLayer(xh: Column, w1: Array[Array[Double]], b1: Array[Double]): Column = {
    val dim = w1.length
    val w = typedLit(Array.tabulate(b1.length, dim + 1)((j, i) =>
      if (i < dim) w1(i)(j) else b1(j)))
    transform(w, wj => sigmoid(Similarity.dot(xh, wj)))
  }

  /** `c ++ [1]`: a vector with the bias's input appended. */
  private def withOne(c: Column): Column = concat(c, array(lit(1.0)))

  /** The outer product `a ⊗ b` of two tensors, `a_i·b_j` with a's axes
    * first (flat, i-major for two vectors); `b` may carry leading batch
    * axes of `a` (one `b` per head). */
  private def outer(a: Tensor, b: Tensor): Tensor = scale(b, a)

  /** The tensor of `shape` held by the stage column `name`. */
  private def stage(name: String, shape: Int*): Tensor = Tensor(col(name), shape)

  /** The logistic function, op order `1/(1+exp(−z))` (what the SQL
    * restatements spell out). */
  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Mean logistic loss of predictions `p` against 0/1 labels `y`. */
  private def meanLogLoss(y: Column, p: Column): Column =
    avg(-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p)))

  /** `c` as `array<double>`, failing the query on a row whose array is
    * not `dim` long (with `dim` 0: is empty), is NULL or holds a NULL
    * element: element access past the end is NULL with ANSI off and sums
    * skip NULLs, so such a row would otherwise drop out of a gradient sum
    * while a count still counts it. `what` names the column in the error. */
  private def checkedFeatures(c: Column, dim: Int, what: String): Column = {
    val f = c.cast("array<double>")
    val (fits, want) =
      if (dim > 0) (size(f) === dim, s"$dim non-NULL values")
      else (size(f) > 0, "a non-empty array of non-NULL values")
    when(fits && forall(f, _.isNotNull), f)
      .otherwise(raise_error(concat(lit(s"$what must hold $want, got "),
        coalesce(f.cast("string"), lit("NULL")))).cast("array<double>"))
  }

  /** The label `yCol` as a double, failing the query on a NULL (or
    * non-numeric) label: its row's gradient terms would otherwise be
    * NULLs that the sums skip while the count still counts the row. With
    * `nClass > 0` it is a class index (an int), and a label outside
    * `[0, nClass)` fails too: it would train against an all-zero target. */
  private def checkedLabel(yCol: String, nClass: Int = 0): Column = {
    val t = if (nClass == 0) "double" else "int"
    val y = col(yCol).cast(t)
    val (ok, want) = if (nClass == 0) (y.isNotNull, "a non-NULL number")
      else (y >= 0 && y < nClass, s"a class in [0, $nClass)")
    when(ok, y).otherwise(raise_error(concat(lit(s"label column '$yCol' must hold $want, got "),
      coalesce(col(yCol).cast("string"), lit("NULL")))).cast(t))
  }

  /** `df` with `featCol` replaced by its [[checkedFeatures]]; unchanged
    * (the column may be absent) when `dim` is 0 — a mid with no features. */
  private def withCheckedFeatures(df: DataFrame, featCol: String, dim: Int,
      what: String): DataFrame =
    if (dim == 0) df
    else df.withColumn(featCol, checkedFeatures(col(featCol), dim, s"$what column '$featCol'"))

  /** The first `dim` values of `featCol`, checked by [[checkedFeatures]]:
    * the closed-form decoder fits read only those, and a wider array (the
    * forward's output under its NULL-padding default `combine`) keeps
    * fitting on them. */
  private def firstFeatures(featCol: String, dim: Int): Column =
    checkedFeatures(slice(col(featCol), 1, dim), dim, s"feature column '$featCol'")

  /** `df` with each token column checked by [[checkedFeatures]] for
    * `dim` values. */
  private def withCheckedTokens(df: DataFrame, tokenCols: Seq[String], dim: Int): DataFrame =
    tokenCols.foldLeft(df)((d, t) => withCheckedFeatures(d, t, dim, "token"))

  /** `df` with each numeric column as a double, failing the query on a
    * NULL (or non-numeric) value: such a row's gradient terms would
    * otherwise be NULLs that the sums skip while the count still counts
    * the row. */
  private def withCheckedNumbers(df: DataFrame, numCols: Seq[String]): DataFrame =
    df.withColumns(numCols.map { c =>
      val v = col(c).cast("double")
      c -> when(v.isNotNull, v).otherwise(raise_error(lit(
        s"numeric column '$c' must hold a non-NULL number")).cast("double"))
    }.toMap)

  /** `m` is `rows` × `cols`. */
  private def shaped(m: Array[Array[Double]], rows: Int, cols: Int): Boolean =
    m.length == rows && m.forall(_.length == cols)

  /** `w` holds `heads` projections of `rows` × `cols`. */
  private def shapedHeads(w: Array[Array[Array[Double]]], heads: Int, rows: Int,
      cols: Int): Boolean =
    w.length == heads && w.forall(shaped(_, rows, cols))

  /** The forward plan of [[fitHeteroGnnGD]] at parameters `p`: one row per
    * parent with its label `__y`, the readout's prediction `__p`, the
    * cross-type aggregate `__aT` and, per group t, the child count `__n$t`,
    * the group's own aggregate `__a$t` (zero when childless in t; H heads
    * concatenated, head-major) and the raw packed per-parent sums `__s$t`
    * (NULL when childless in t):
    *
    *   [per head: Σh (hidden) | Σ h(1−h)⊗x̂ ((dim+1)×hidden, i-major) |
    *    count | attn only, per head: Σ α·m·x (dim) | Σ α·x (dim)]
    *
    * with x̂ = x ++ [1] (its last row is the bias's) and, under attn, head
    * g's first two blocks weighted by its α_g and its m_g = h·w2_g. One
    * head (always, under sum and mean) is one block of each. */
  private def heteroForward(groups: Seq[EdgeGroup], parents: DataFrame,
      keyCols: Seq[String], yCol: String, p: HeteroGnnParams,
      aggr: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hidden = p.b1.head.length
    val heads = p.w2.length / hidden
    val sums = groups.zipWithIndex.map { case (g, t) =>
      val x = checkedFeatures(col(g.featCol), g.dim, s"edge group $t: column '${g.featCol}'")
      val msg = g.children.select(g.fkCols.map(col) :+ x.as("__x"): _*)
        .withColumn("__xh", withOne(col("__x")))
        .withColumn("__h", sigmoidLayer(col("__xh"), p.w1(t), p.b1(t)))
      val core = concat(col("__h"), flatten(transform(col("__xh"),
        xi => transform(col("__h"), h => xi * (h * (lit(1.0) - h))))))
      val packed =
        if (aggr != "attn") msg.select(g.fkCols.map(col) :+
          withOne(core).as("__v"): _*)
        else {
          val win = Window.partitionBy(g.fkCols.map(col): _*)
          val alphas = (0 until heads).map { k =>
            val e = Similarity.dot(col("__x"),
              Similarity.litVec(p.u(t).slice(k * g.dim, (k + 1) * g.dim)))
            val stable = exp(e - max(e).over(win))
            (stable / sum(stable).over(win)).as(s"__al$k")
          }
          val al = (k: Int) => col(s"__al$k")
          val m = (k: Int) => Similarity.dot(col("__h"),
            Similarity.litVec(p.w2.slice(k * hidden, (k + 1) * hidden)))
          msg.select(col("*") +: alphas: _*)
            .select(g.fkCols.map(col) :+ concat(
              (0 until heads).map(k => transform(core, v => al(k) * v)) ++
              Seq(array(lit(1.0))) ++
              (0 until heads).flatMap(k => Seq(
                transform(col("__x"), xi => al(k) * m(k) * xi),
                transform(col("__x"), xi => al(k) * xi))): _*).as("__v"): _*)
        }
      val aggd = packed.groupBy(g.fkCols.map(col): _*)
        .agg(VectorAgg.vecSum(col("__v")).as(s"__s$t"))
      g.fkCols.zip(keyCols).foldLeft(aggd) {
        case (df, (c, k)) => df.withColumnRenamed(c, k)
      }
    }
    val joined = sums.foldLeft(
        parents.select(keyCols.map(col) :+ checkedLabel(yCol).as("__y"): _*)) {
      (acc, s) => acc.join(s, keyCols, "left")
    }
    // per-type aggregate: the heads' Σh (mean: over the child count), zero
    // when childless in that type
    val perType = groups.zipWithIndex.flatMap { case (g, t) =>
      val s = col(s"__s$t")
      val c = (g.dim + 2) * hidden // one head's [Σh | Σ h(1−h)⊗x̂]
      val n = coalesce(element_at(s, heads * c + 1), lit(0.0))
      val sh = if (heads == 1) slice(s, 1, hidden)
        else concat((0 until heads).map(k => slice(s, k * c + 1, hidden)): _*)
      val a = if (aggr == "mean") transform(sh, v => v / n) else sh
      Seq(n.as(s"__n$t"), coalesce(a, zeros(p.w2.length)).as(s"__a$t"))
    }
    val withA = joined.select(col("__y") +: groups.indices.map(t => col(s"__s$t")) ++:
      perType: _*)
    val aT = groups.indices.map(t => col(s"__a$t"))
      .reduce((a, b) => zip_with(a, b, (x, y) => x + y))
    withA.withColumn("__aT", aT)
      .withColumn("__p", sigmoid(Similarity.dot(withOne(col("__aT")),
        Similarity.litVec(p.w2 :+ p.b2))))
  }

  /** Parameters of the DEPTH-2 GNN: level-1 message layer (`w1`/`b1`,
    * leaf→mid), level-2 message layer (`w2`/`b2`, over [mid aggregate ;
    * mid own features]), readout (`v`/`vb`). */
  final case class Gnn2Params(w1: Array[Array[Double]], b1: Array[Double],
      w2: Array[Array[Double]], b2: Array[Double],
      v: Array[Double], vb: Double)

  /** Backprop through TWO nested scatter-sums — the STACKED-layer shape
    * the reference actually trains (`HeteroGNN` wires `dims: List[int]`
    * layers in sequence, nn/models/hetero_gnn.py:60-105, driven
    * end-to-end main.py:307-323): a leaf table's messages aggregate into
    * a middle table, the middle table's hidden states (its aggregate
    * CONCATENATED with its own features — SAGEConv's neighbor+root form)
    * message onward into the root table, and the readout scores the root
    * label. [[fitGnnGD]]/[[fitHeteroGnnGD]] train depth 1; this is the
    * aggregate-of-aggregate (fp2) composition, trained.
    *
    * Model: leaf row (edge leaf→mid) emits `m1_j = σ(x·w1(·)(j)+b1(j))`;
    * mid aggregates `A_j = Σ m1_j` (zero when leafless); mid row (edge
    * mid→root) emits `m2_k = σ([A;z]·w2(·)(k)+b2(k))` over its aggregate
    * and its own features `z`; root aggregates `B_k = Σ m2_k`; readout
    * `p = σ(B·v+vb)` against the root label, mean logistic loss.
    *
    * The chain rule through the two sums is linear in per-edge terms, so
    * the backward rides the forward aggregates ([[fitHeteroGnnGD]]'s
    * device, applied twice). A mid's level-2 gradient is
    * `dm(root)·[A;z;1]⊗(v⊙σ')`. A leaf's level-1 gradient is
    * `γ_j·x̂⊗m1_j(1−m1_j)` with the per-mid `γ_j = dm(root)·β_j`,
    * `β_j = Σ_k w2(A_j)(k)·v_k·σ'_k`, so summed over a root's leaves it is
    * `dm` times `Σ_mids β⊗S1`, where `S1 = Σ_leaves x̂⊗m1(1−m1)` is the
    * mid's level-1 aggregate. Each root's aggregate is laid out like the
    * flat parameters `w1 ++ b1 ++ w2 ++ b2 ++ v ++ [vb]`, so its
    * gradient is `dm·(sums ++ [1])`.
    *
    * Cost per GD step: ONE Spark action on the GD kernel ([[gdStep]]):
    * a scatter-sum per level and one global vector sum over the roots;
    * nothing is checkpointed or persisted. Every parameter enters the
    * plan as an array literal, so the plan has the same size at any
    * leafDim × h1 and its generated code is the same from step to step.
    *
    * A leaf (or mid) feature array not `leafDim` (`midDim`) non-NULL
    * values long, or a NULL label, fails the step. Forward op order is
    * pinned (`(Σ_i x_i·w + b)` left to right, `1/(1+exp(−z))`).
    *
    * (The reference interleaves ReLU/batch-norm between layers; this
    * restatement uses the same sigmoid nonlinearity as the rest of the
    * trainable stack so the SQL restatement stays one device.) */
  def fitGnn2GD(leaves: DataFrame, leafFkCols: Seq[String], leafFeatCol: String,
      mids: DataFrame, midKeyCols: Seq[String], midFkCols: Seq[String],
      midFeatCol: String, midDim: Int,
      roots: DataFrame, rootKeyCols: Seq[String], yCol: String,
      leafDim: Int, h1: Int, h2: Int, steps: Int, lr: Double,
      init: Gnn2Params = null): Gnn2Params = {
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    val d2 = h1 + midDim // level-2 input: [A ; z]
    val p0 = if (init != null) init else Gnn2Params(
      Array.tabulate(leafDim, h1)((i, j) => 0.1 * (i + 1) * (if (j % 2 == 0) 1 else -1)),
      Array.fill(h1)(0.0),
      Array.tabulate(d2, h2)((i, k) => 0.1 * (i + 1) * (if (k % 2 == 0) 1 else -1)),
      Array.fill(h2)(0.0),
      Array.tabulate(h2)(k => 0.1 * (k + 1)),
      0.0)
    checkGnn2(leafFkCols, midKeyCols, midFkCols, rootKeyCols, leafDim, midDim, h1, h2, p0)
    val unflat = (theta: Array[Double]) => {
      val u = new Unflat(theta)
      Gnn2Params(u.mat(leafDim, h1), u.vec(h1), u.mat(d2, h2), u.vec(h2), u.vec(h2), u.scalar)
    }
    val theta0 = p0.w1.flatten ++ p0.b1 ++ p0.w2.flatten ++ p0.b2 ++ p0.v :+ p0.vb
    unflat((1 to steps).foldLeft(theta0) { (theta, _) =>
      val p = unflat(theta)
      val fwd = gnn2Forward(leaves, leafFkCols, leafFeatCol, mids, midKeyCols, midFkCols,
        midFeatCol, roots, rootKeyCols, yCol, p).withColumn("__dm", col("__p") - col("__y"))
      // the root's sums are in θ's layout: the gradient is dm·(sums ++ [1])
      gdStep(fwd, transform(withOne(col("__s")), v => col("__dm") * v), theta, lr)
    })
  }

  /** Mean logistic loss of [[fitGnn2GD]]'s depth-2 network — the same
    * forward plan, one aggregate; the finite-difference anchor proving
    * the gradient flows through BOTH nested aggregations. */
  def gnn2LogLoss(leaves: DataFrame, leafFkCols: Seq[String], leafFeatCol: String,
      mids: DataFrame, midKeyCols: Seq[String], midFkCols: Seq[String],
      midFeatCol: String, midDim: Int,
      roots: DataFrame, rootKeyCols: Seq[String], yCol: String,
      p: Gnn2Params): Double = {
    checkGnn2(leafFkCols, midKeyCols, midFkCols, rootKeyCols, p.w1.length, midDim,
      p.b1.length, p.b2.length, p)
    gnn2Forward(leaves, leafFkCols, leafFeatCol, mids, midKeyCols, midFkCols, midFeatCol,
      roots, rootKeyCols, yCol, p)
      .agg(meanLogLoss(col("__y"), col("__p")))
      .collect()(0).getDouble(0)
  }

  private def checkGnn2(leafFkCols: Seq[String], midKeyCols: Seq[String],
      midFkCols: Seq[String], rootKeyCols: Seq[String], leafDim: Int, midDim: Int,
      h1: Int, h2: Int, p: Gnn2Params): Unit = {
    require(leafDim >= 1 && midDim >= 0 && h1 >= 1 && h2 >= 1,
      "need at least one leaf feature and one hidden unit per level")
    require(leafFkCols.nonEmpty && leafFkCols.length == midKeyCols.length,
      s"leaf FK arity mismatch: $leafFkCols vs $midKeyCols")
    require(midFkCols.nonEmpty && midFkCols.length == rootKeyCols.length,
      s"mid FK arity mismatch: $midFkCols vs $rootKeyCols")
    require(shaped(p.w1, leafDim, h1) && p.b1.length == h1 &&
      shaped(p.w2, h1 + midDim, h2) && p.b2.length == h2 && p.v.length == h2,
      "init shape mismatch")
  }

  /** The forward plan of [[fitGnn2GD]] at parameters `p`: one row per
    * root with its label `__y`, the prediction `__p` and its packed sums
    * `__s` = `[G1 | G2 | B]` (zero when midless), laid out like `θ`'s
    * `w1 ++ b1 ++ w2 ++ b2 ++ v`: `G1 = Σ_mids β⊗S1`,
    * `G2 = Σ_mids [A;z;1]⊗(v⊙σ')`, `B = Σ_mids m2`. Each leaf packs
    * `[m1 | x̂⊗m1(1−m1)]`, and one sum per mid gives `[A | S1]` (zero when
    * leafless); each mid packs `[β⊗S1 | [A;z;1]⊗(v⊙σ') | m2]` with
    * `β_j = Σ_k w2(j)(k)·v_k·σ'_k`. Outer products are i-major. */
  private def gnn2Forward(leaves: DataFrame, leafFkCols: Seq[String], leafFeatCol: String,
      mids: DataFrame, midKeyCols: Seq[String], midFkCols: Seq[String], midFeatCol: String,
      roots: DataFrame, rootKeyCols: Seq[String], yCol: String, p: Gnn2Params): DataFrame = {
    val (leafDim, h1, h2) = (p.w1.length, p.b1.length, p.b2.length)
    val s1 = (leafDim + 1) * h1 // S1 = Σ_leaves x̂⊗m1(1−m1)
    val width = s1 + (p.w2.length + 1) * h2 + h2 // [G1 | G2 | B]
    val leafSums = withCheckedFeatures(leaves, leafFeatCol, leafDim, "leaf")
      .select(leafFkCols.map(col) :+ withOne(col(leafFeatCol)).as("__xh"): _*)
      .withColumn("__m1", sigmoidLayer(col("__xh"), p.w1, p.b1))
      .groupBy(leafFkCols.map(col): _*)
      .agg(VectorAgg.vecSum(concat(col("__m1"), outer(stage("__xh", leafDim + 1),
        Tensor(transform(col("__m1"), m => m * (lit(1.0) - m)), Seq(h1))).c)).as("__s"))
      .withColumnsRenamed(leafFkCols.zip(midKeyCols).toMap)
    val midDim = p.w2.length - h1
    val z = if (midDim == 0) Nil else Seq(col(midFeatCol))
    val midSums = withCheckedFeatures(mids, midFeatCol, midDim, "mid")
      .select((midKeyCols ++ midFkCols).distinct.map(col) ++ z: _*)
      .join(leafSums, midKeyCols, "left")
      .withColumn("__s", coalesce(col("__s"), zeros(h1 + s1)))
      .withColumn("__in2", withOne(concat(slice(col("__s"), 1, h1) +: z: _*)))
      .withColumn("__m2", sigmoidLayer(col("__in2"), p.w2, p.b2))
      // v⊙σ': the mid's level-2 residual per unit of its root's dm
      .withColumn("__d2", zip_with(Similarity.litVec(p.v), col("__m2"),
        (vk, m) => vk * (m * (lit(1.0) - m))))
      .withColumn("__beta", transform(typedLit(p.w2.take(h1)),
        w => Similarity.dot(w, col("__d2"))))
      .groupBy(midFkCols.map(col): _*)
      .agg(VectorAgg.vecSum(concat(zip_with(slice(col("__s"), h1 + 1, s1),
        flatten(array_repeat(col("__beta"), leafDim + 1)), (s, b) => b * s),
        outer(stage("__in2", p.w2.length + 1), stage("__d2", h2)).c, col("__m2"))).as("__s"))
      .withColumnsRenamed(midFkCols.zip(rootKeyCols).toMap)
    roots.select(rootKeyCols.map(col) :+ checkedLabel(yCol).as("__y"): _*)
      .join(midSums, rootKeyCols, "left")
      .select(col("__y"), coalesce(col("__s"), zeros(width)).as("__s"))
      .withColumn("__p", sigmoid(Similarity.dot(withOne(slice(col("__s"), width - h2 + 1, h2)),
        Similarity.litVec(p.v :+ p.vb))))
  }

  /** Parameters of the attention GNN layer: message weights `w1`/`b1`,
    * attention scorer `u` (no score bias — softmax is shift-invariant,
    * so a bias there has exactly zero gradient), shared readout
    * `w2`/`b2`. */
  final case class AttnGnnParams(w1: Array[Array[Double]], b1: Array[Double],
      u: Array[Double], w2: Array[Double], b2: Double)

  /** Backprop THROUGH the softmax attention aggregation — the last
    * forward-only trainable shape in the engine. The reference trains
    * `AttentionAggregation` (nn/aggr/attention.py:10-41: softmax(q·k/√d)
    * then a weighted reduce) end-to-end; here the attention score is the
    * trainable linear form `e_c = x_c·u`, the weights are the per-parent
    * softmax `α_c = softmax(e)` (A9's numerically-stable two-window
    * device, [[VectorAgg.softmaxAggregate]]), messages are
    * `h_cj = σ(x_c·w1(·)(j) + b1(j))`, a parent aggregates
    * `a_j = Σ_c α_c·h_cj`, and the readout `p = σ(a·w2 + b2)` scores the
    * parent label (mean logistic loss; childless parents aggregate zero).
    *
    * The softmax Jacobian collapses to a per-edge scalar: with
    * `m_c = Σ_j w2_j·h_cj` (the edge's readout-projected message) and
    * `s = Σ_j w2_j·a_j` (its parent's aggregate projection),
    * `∂L/∂e_c = dm·α_c·(m_c − s)`, so `u`'s gradient is
    * `Σ_p dm_p·(Σ α·m·x − s·Σ α·x)` over per-parent sums. The
    * message-weight path holds α fixed per edge (`∂L/∂h_cj = dm·w2_j·α_c`)
    * because e does not read h. This is [[fitHeteroGnnGD]] with ONE edge
    * group and `aggr = "attn"` (same default init, `u` included), so a
    * GD step is that step: one Spark action, the windowed softmax and
    * the scatter-sum on one parent-key exchange, the backward sums
    * riding the forward aggregate. */
  def fitAttnGnnGD(children: DataFrame, fkCols: Seq[String], featCol: String,
      parents: DataFrame, keyCols: Seq[String], yCol: String,
      dim: Int, hidden: Int, steps: Int, lr: Double,
      init: AttnGnnParams = null): AttnGnnParams = {
    val p = fitHeteroGnnGD(Seq(EdgeGroup(children, fkCols, featCol, dim)), parents,
      keyCols, yCol, hidden, steps, lr,
      if (init == null) null
      else HeteroGnnParams(Seq(init.w1), Seq(init.b1), init.w2, init.b2, Seq(init.u)),
      aggr = "attn")
    AttnGnnParams(p.w1.head, p.b1.head, p.u.head, p.w2, p.b2)
  }

  /** Mean logistic loss of [[fitAttnGnnGD]]'s network
    * ([[heteroGnnLogLoss]] on one group under `aggr = "attn"`); the
    * finite-difference anchor proving the gradient flows through the
    * attention WEIGHTS (u) as well as the message and readout layers. */
  def attnGnnLogLoss(children: DataFrame, fkCols: Seq[String], featCol: String,
      parents: DataFrame, keyCols: Seq[String], yCol: String,
      p: AttnGnnParams): Double =
    heteroGnnLogLoss(Seq(EdgeGroup(children, fkCols, featCol, p.w1.length)),
      parents, keyCols, yCol,
      HeteroGnnParams(Seq(p.w1), Seq(p.b1), p.w2, p.b2, Seq(p.u)), aggr = "attn")

  /** Parameters of the MULTI-HEAD attention aggregation
    * ([[fitMhaGnnGD]]): shared message net `w1`/`b1`, per-head score
    * vectors `u(g)`, per-head readout slices `w2(g)` (the concat), bias
    * `b2`. */
  final case class MhaGnnParams(w1: Array[Array[Double]], b1: Array[Double],
      u: Array[Array[Double]], w2: Array[Array[Double]], b2: Double)

  /** [[fitAttnGnnGD]] generalized to h attention heads — the reference's
    * GNN tune space pairs the attention aggregation with
    * `num_heads ∈ {2,4,8}` (`experiments/blueprint_mlflow.py:267`): each
    * head g carries its OWN trainable score vector `u(g)` (so heads
    * learn to attend different children), the per-parent softmaxes run
    * independently per head over the SHARED messages
    * `h_cj = σ(x_c·w1(·)(j) + b1(j))`, and the concatenated per-head
    * aggregates `a^g_j = Σ_c α^g_c·h_cj` feed the readout
    * `p = σ(Σ_g Σ_j a^g_j·w2(g)(j) + b2)`.
    *
    * This is [[fitHeteroGnnGD]] with ONE edge group under `aggr = "attn"`
    * and `u`/`w2` flattened head-major (the heads come from those
    * shapes), so a GD step is that step: ONE Spark action, the backward
    * sums (bp8's softmax Jacobian per head) riding the forward aggregate.
    * heads=1 reproduces [[fitAttnGnnGD]] exactly. */
  def fitMhaGnnGD(children: DataFrame, fkCols: Seq[String], featCol: String,
      parents: DataFrame, keyCols: Seq[String], yCol: String,
      dim: Int, hidden: Int, heads: Int, steps: Int, lr: Double,
      init: MhaGnnParams = null): MhaGnnParams = {
    require(heads >= 1, s"need at least one head, got $heads")
    val p0 = if (init != null) init else MhaGnnParams(
      Array.tabulate(dim, hidden)((i, j) => 0.1 * (i + 1) * (if (j % 2 == 0) 1 else -1)),
      Array.fill(hidden)(0.0),
      Array.tabulate(heads, dim)((g, i) =>
        0.05 * (i + 1) * (g + 1) * (if ((g + i) % 2 == 0) 1 else -1)),
      Array.tabulate(heads, hidden)((g, j) =>
        0.1 * (j + 1) * (if ((g + j) % 2 == 0) 1 else -1)),
      0.0)
    require(p0.u.length == heads && p0.w2.length == heads, "init shape mismatch")
    val p = fitHeteroGnnGD(Seq(EdgeGroup(children, fkCols, featCol, dim)), parents,
      keyCols, yCol, hidden, steps, lr, mhaAsHetero(p0), aggr = "attn")
    MhaGnnParams(p.w1.head, p.b1.head, p.u.head.grouped(dim).toArray,
      p.w2.grouped(hidden).toArray, p.b2)
  }

  /** Mean logistic loss of [[fitMhaGnnGD]]'s network ([[heteroGnnLogLoss]]
    * on one group under `aggr = "attn"`); the finite-difference anchor
    * proving each head's score vector gets its own gradient. */
  def mhaGnnLogLoss(children: DataFrame, fkCols: Seq[String], featCol: String,
      parents: DataFrame, keyCols: Seq[String], yCol: String,
      p: MhaGnnParams): Double =
    heteroGnnLogLoss(Seq(EdgeGroup(children, fkCols, featCol, p.w1.length)),
      parents, keyCols, yCol, mhaAsHetero(p), aggr = "attn")

  /** [[MhaGnnParams]] as one group's [[HeteroGnnParams]]: the per-head
    * scorers and readout slices flattened head-major. */
  private def mhaAsHetero(p: MhaGnnParams): HeteroGnnParams = {
    require(p.u.forall(_.length == p.w1.length) && p.w2.forall(_.length == p.b1.length),
      "init shape mismatch")
    HeteroGnnParams(Seq(p.w1), Seq(p.b1), p.w2.flatten, p.b2, Seq(p.u.flatten))
  }

  /** Mean logistic loss of [[fitMlpGD]]'s network over its forward — one
    * aggregation pass; the training-progress metric and the
    * finite-difference anchor for gradient correctness in specs. */
  def mlpLogLoss(df: DataFrame, featCol: String, yCol: String,
      p: MlpParams): Double =
    mlpForward(df, featCol, yCol, p).agg(meanLogLoss(col("__y"), col("__p")))
      .collect()(0).getDouble(0)

  /** Parameters of the trainable embedding model: `e` = the card×dim
    * embedding table, `w` = readout over the embedding, `u` = readout
    * over the numeric features (may be empty), `b` = bias. */
  final case class EmbParams(e: Array[Array[Double]], w: Array[Double],
      u: Array[Double], b: Double)

  /** Deterministic default [[EmbParams]] init (nonzero so neither the
    * table nor the readout is gradient-dead at step 0; shared by the
    * bp12 oracle generator, which embeds the same rows as VALUES). */
  def embInit(card: Int, dim: Int, nFeat: Int): EmbParams = EmbParams(
    Array.tabulate(card, dim)((c, i) =>
      0.05 * (c + 1) * (if (i % 2 == 0) 1 else -1)),
    Array.tabulate(dim)(i => 0.1 * (i + 1)),
    Array.fill(nFeat)(0.0), 0.0)

  /** Gradient-trained per-category EMBEDDING TABLE — the reference's
    * `CatEmbedder` (`nn/embedder/columns/cat_embedder.py:14-24`:
    * `nn.Embedding(card, dim)` looked up per row), created per
    * categorical column by the table embedder (`nn/embedder/
    * db_embedder.py:81-125`) and trained end-to-end with everything
    * downstream. Model: logistic readout over the looked-up embedding
    * concatenated with `nFeat` numeric features,
    * `p = σ(Σ_i E[c][i]·w_i + Σ_j x_j·u_j + b)`, mean logistic loss.
    *
    * Forward: the F20 broadcast-join device ([[lookup]]) — the card×dim
    * table ships as a broadcast frame keyed by code, so the lookup is a
    * broadcast-hash join, never a shuffle. Backward: the lookup's
    * adjoint is a SCATTER-ADD per code, `∂L/∂E[c] = Σ_{rows: code=c}
    * dm·w`; the readout's gradients are plain sums, `∂w = Σ dm·E[c]`,
    * `∂u = Σ dm·x`, `∂b = Σ dm`. Each step runs on the GD kernel's
    * grouped form ([[gdStep]]): ONE groupBy(code) aggregate of the
    * per-row gradient (card rows after map-side partial agg) gives each
    * code its table block and the readout sums, then the driver updates.
    * The readout enters the plan as one array literal and the table as a
    * fresh broadcast frame — no executor state, 1000-executor-safe at any
    * corpus size (card bounds the driver work, not the data).
    *
    * Codes outside [0, card) drop out of the inner lookup join and
    * contribute nothing — the dangling-FK convention of the J-ops. A
    * feature array that is not `nFeat` long, is NULL or holds a NULL
    * fails the step. Op order pinned (gradients all computed from the
    * step's incoming parameters, then `θ − lr·(g/n)` applied) for the
    * SQL restatement; drift is summation-order and exp ulps, below a
    * round-6 contract. */
  def fitEmbeddingGD(df: DataFrame, codeCol: String, featCol: String,
      yCol: String, card: Int, dim: Int, nFeat: Int, steps: Int, lr: Double,
      init: EmbParams = null): EmbParams = {
    require(card >= 1 && dim >= 1, "need at least one code and one dimension")
    require(nFeat >= 0 && (nFeat == 0 || featCol != null),
      "nFeat > 0 requires a feature column")
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    val p0 = if (init != null) init else embInit(card, dim, nFeat)
    require(shaped(p0.e, card, dim) && p0.w.length == dim && p0.u.length == nFeat,
      "init shape mismatch")
    val unflat = (theta: Array[Double]) => {
      val u = new Unflat(theta)
      EmbParams(u.mat(card, dim), u.vec(dim), u.vec(nFeat), u.scalar)
    }
    val dm = col("__dm")
    val theta = (1 to steps).foldLeft(p0.e.flatten ++ p0.w ++ p0.u :+ p0.b) { (theta, _) =>
      val p = unflat(theta)
      val back = embeddingForward(df, codeCol, featCol, yCol, p)
        .withColumn("__dm", col("__p") - col("__y"))
      // [the code's table block: dm·w | dm·(E[c] ++ x ++ [1])]
      gdStep(back, concat(transform(Similarity.litVec(p.w), wi => dm * wi),
        transform(col("__in"), v => dm * v)), theta, lr, table = dim)
    }
    unflat(theta)
  }

  /** [[fitEmbeddingGD]]'s forward: the [[lookup]] of each row's code, the
    * readout input `__in` = E[c] ++ x ++ [1], the prediction `__p` and
    * the label `__y`. */
  private def embeddingForward(df: DataFrame, codeCol: String, featCol: String,
      yCol: String, p: EmbParams): DataFrame = {
    val nFeat = p.u.length
    val in = if (nFeat == 0) col("__emb") else concat(col("__emb"), col(featCol))
    lookup(withCheckedFeatures(df, featCol, nFeat, "feature"), codeCol, p.e)
      .withColumn("__in", withOne(in))
      .withColumn("__p", sigmoid(Similarity.dot(col("__in"),
        Similarity.litVec(p.w ++ p.u :+ p.b))))
      .withColumn("__y", checkedLabel(yCol))
  }

  /** Mean logistic loss of [[fitEmbeddingGD]]'s model over its forward —
    * one broadcast lookup join + one aggregate; the finite-difference
    * anchor proving the analytic gradient really flows through the table
    * lookup. */
  def embeddingLogLoss(df: DataFrame, codeCol: String, featCol: String,
      yCol: String, p: EmbParams): Double =
    embeddingForward(df, codeCol, featCol, yCol, p)
      .agg(meanLogLoss(col("__y"), col("__p")))
      .collect()(0).getDouble(0)

  /** Single-head column-token self-attention FORWARD — the reference's
    * per-row transformer over column embeddings
    * (`nn/models/transformer.py:8-39`: `MultiheadAttention` applied to
    * `x: [batch, num_cols, dim]`, i.e. each row's tokens are its k
    * column embeddings; the readout then takes token 0,
    * `transformer.py:106-110`). Scaled dot-product attention with
    * Q=K=V=X (the reference constructs the module with its projections,
    * then trains them — this is the forward at the identity point):
    *
    *   s_ab = (Σ_i x_a[i]·x_b[i]) / √dim
    *   A_ab = exp(s_ab) / Σ_b exp(s_ab)
    *   out_a[i] = Σ_b A_ab · x_b[i]
    *
    * Everything is row-local k×k arithmetic — pure codegen column
    * expressions, NO shuffle, no UDF: at 100 TB this runs as a straight
    * projection inside whole-stage codegen at scan speed. The softmax is
    * the numerically-stable form (row-local max subtracted before `exp`,
    * the same two-pass device the trained variants bp8/bp14 use in their
    * windowed aggregates): algebraically identical to the plain form —
    * `exp(s−M)/Σexp(s−M) ≡ exp(s)/Σexp(s)` — so the SQL restatements
    * keep the plain form term-for-term and round-6 absorbs the ulps,
    * while learned projections feeding ±large scores (multi-head Q/K/V,
    * [[mhaForwardStaged]]) can no longer overflow `exp`.
    *
    * @param tokens the k column embeddings, each an array column of
    *               length `dim`
    * @return the k attended vectors, each as `dim` scalar expressions
    *         (out(a)(i) = component i of attended token a) */
  def columnSelfAttention(tokens: Seq[Column], dim: Int): Seq[Seq[Column]] = {
    require(tokens.nonEmpty && dim >= 1, "need at least one token and one dim")
    val k = tokens.length
    val x = (a: Int, i: Int) => element_at(tokens(a), i + 1).cast("double")
    val scale = 1.0 / math.sqrt(dim.toDouble)
    val s = Array.tabulate(k, k)((a, b) =>
      (0 until dim).map(i => x(a, i) * x(b, i)).reduce(_ + _) * lit(scale))
    val m = (0 until k).map(a =>
      if (k == 1) s(a)(0) else greatest((0 until k).map(b => s(a)(b)): _*))
    val ex = Array.tabulate(k, k)((a, b) => exp(s(a)(b) - m(a)))
    val z = (0 until k).map(a => (0 until k).map(b => ex(a)(b)).reduce(_ + _))
    (0 until k).map { a =>
      (0 until dim).map { i =>
        (0 until k).map(b => ex(a)(b) / z(a) * x(b, i)).reduce(_ + _)
      }.toSeq
    }.toSeq
  }

  /** Parameters of the trainable cross-attention readout: `q` = the
    * learned query (the trainable CLS token), `w` = readout over the
    * attended vector, `b` = bias. */
  final case class CrossAttnParams(q: Array[Double], w: Array[Double],
      b: Double)

  /** Deterministic default [[CrossAttnParams]] init (nonzero q so the
    * softmax is not flat at step 0; shared by the bp13 oracle). */
  def crossAttnInit(dim: Int): CrossAttnParams = CrossAttnParams(
    Array.tabulate(dim)(i => 0.1 * (i + 1) * (if (i % 2 == 0) 1 else -1)),
    Array.tabulate(dim)(i => 0.1 * (i + 1)), 0.0)

  /** Gradient training THROUGH [[columnSelfAttention]]'s softmax — the
    * reference's transformer readout made trainable: a LEARNED query
    * vector (the trainable CLS embedding, exactly the `x_i` side of
    * `TransformerGNN.message`'s `MultiheadAttention(x_i, x_c, x_c)`,
    * `nn/models/transformer.py:32-38`) attends over each row's k column
    * tokens, and a logistic readout scores the attended vector:
    *
    *   s_b = (Σ_i q_i·x_b[i]) / √dim      α = softmax_b(s)
    *   a_i = Σ_b α_b·x_b[i]               p = σ(Σ_i a_i·w_i + b)
    *
    * The softmax Jacobian collapses row-locally (the bp8 device with no
    * aggregation in sight): with value-side score gradients
    * `g_b = dm·(Σ_i w_i·x_b[i])`, `∂L/∂s_b = α_b·(g_b − Σ_c α_c·g_c)`,
    * and `∂L/∂q_i = Σ_b ∂L/∂s_b · x_b[i]/√dim`. EVERY gradient is a
    * per-row array expression, so each step runs on the GD kernel
    * ([[gdStep]]): one aggregate (map-side partial agg), no join, no
    * scatter, no per-step checkpoint; q and [w ; b] enter the plan as
    * array literals, so the plan has the same size at any dim and its
    * generated code is the same from step to step. The cheapest trainable
    * operator in the library, at any corpus size.
    *
    * Plain softmax (no max-subtraction) so the SQL restatement is
    * term-for-term; callers keep token dot products bounded (normalized
    * features), as in [[columnSelfAttention]]. A token array that is not
    * `dim` long, is NULL or holds a NULL fails the step. */
  def fitCrossAttnGD(df: DataFrame, tokenCols: Seq[String], yCol: String,
      dim: Int, steps: Int, lr: Double,
      init: CrossAttnParams = null): CrossAttnParams = {
    require(tokenCols.nonEmpty && dim >= 1, "need tokens and a dimension")
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    val p0 = if (init != null) init else crossAttnInit(dim)
    require(p0.q.length == dim && p0.w.length == dim, "init shape mismatch")
    val unflat = (theta: Array[Double]) => {
      val u = new Unflat(theta)
      CrossAttnParams(u.vec(dim), u.vec(dim), u.scalar)
    }
    val k = tokenCols.length
    val (x, dm) = (stage("__T", k, dim), scalar(col("__dm")))
    val scaleD = scalar(lit(1.0 / math.sqrt(dim.toDouble)))
    val theta = (1 to steps).foldLeft(p0.q ++ p0.w :+ p0.b) { (theta, _) =>
      val p = unflat(theta)
      val back = crossAttnForward(df, tokenCols, yCol, p)
        .withColumn("__dm", col("__p") - col("__y"))
        .withColumn("__ds", softmaxBack(stage("__al", k), scale(matVec(x, vector(p.w)), dm)).c)
      gdStep(back, concat(scale(vecMat(stage("__ds", k), x), scaleD).c,
        scale(stage("__a", dim), dm).c, array(dm.c)), theta, lr)
    }
    unflat(theta)
  }

  /** [[fitCrossAttnGD]]'s forward over the checked token rows: the tokens
    * `__T` (k × dim, flat), the softmax `__al` (k), the attended vector `__a`,
    * the prediction `__p` and the label `__y`. */
  private def crossAttnForward(df: DataFrame, tokenCols: Seq[String], yCol: String,
      p: CrossAttnParams): DataFrame = {
    val (k, dim) = (tokenCols.length, p.q.length)
    val x = stage("__T", k, dim)
    val scaleD = scalar(lit(1.0 / math.sqrt(dim.toDouble)))
    withCheckedTokens(df, tokenCols, dim)
      .withColumn("__T", concat(tokenCols.map(col): _*))
      .withColumn("__al", softmax(scale(matVec(x, vector(p.q)), scaleD)).c)
      .withColumn("__a", vecMat(stage("__al", k), x).c)
      .withColumn("__p", sigmoid(Similarity.dot(withOne(col("__a")),
        Similarity.litVec(p.w :+ p.b))))
      .withColumn("__y", checkedLabel(yCol))
  }

  /** Mean logistic loss of [[fitCrossAttnGD]]'s model over its forward —
    * one aggregate; the finite-difference anchor proving the analytic
    * gradient really flows through the row-local softmax. */
  def crossAttnLogLoss(df: DataFrame, tokenCols: Seq[String], yCol: String,
      p: CrossAttnParams): Double =
    crossAttnForward(df, tokenCols, yCol, p).agg(meanLogLoss(col("__y"), col("__p")))
      .collect()(0).getDouble(0)

  /** Parameters of the end-to-end trainable DBTransformer: `e` = the
    * card×dim categorical embedding table (token 0), `a`/`c` = the
    * Linear(1, dim) weight/bias of each numeric column's embedder
    * (token m+1), `wOut`/`bOut` = the nClass×dim class head. */
  final case class TransformerParams(e: Array[Array[Double]],
      a: Array[Array[Double]], c: Array[Array[Double]],
      wOut: Array[Array[Double]], bOut: Array[Double])

  /** Deterministic default [[TransformerParams]] init — every block
    * nonzero and class-asymmetric so no gradient path is dead at step 0;
    * shared by the bp14 oracle generator. */
  def transformerInit(card: Int, dim: Int, nNum: Int,
      nClass: Int): TransformerParams = TransformerParams(
    Array.tabulate(card, dim)((cd, i) =>
      0.05 * (cd + 1) * (if (i % 2 == 0) 1 else -1)),
    Array.tabulate(nNum, dim)((m, j) =>
      0.1 * (m + 1) * (j + 1) * (if (j % 2 == 0) 1 else -1)),
    Array.tabulate(nNum, dim)((m, j) => 0.05 * (m + 1) * (if (j % 2 == 0) -1 else 1)),
    Array.tabulate(nClass, dim)((k, i) =>
      0.1 * (k + 1) * (if ((k + i) % 2 == 0) 1 else -1)),
    Array.fill(nClass)(0.0))

  /** The row-local forward of [[fitTransformerGD]]'s model as a STAGED
    * projection chain over [[embedTokens]]' tokens: each intermediate
    * (tokens, softmax weights, attended vector, class probabilities)
    * lands as a NAMED column computed once
    * per row, the dataflow form of the oracle's CTE chain. Inlining the
    * same arithmetic as raw expressions duplicates each shared subtree
    * at every use site — the gradient sums then carry the forward tens
    * of times over and plan analysis alone dominates the step (measured
    * minutes per step at dim=2, k=3). Catalyst keeps the stages apart
    * (CollapseProject refuses to duplicate non-cheap expressions
    * referenced more than once), so codegen evaluates the DAG, not the
    * tree. Shared by the fit loop and [[transformerLogLoss]] so forward
    * and backward can never drift apart.
    *
    * Each stage is one flat array column computed by
    * [[graft.functions.ArrayKernel]]s, native expressions that stay in
    * whole-stage codegen: [[embedTokens]]' columns, then the softmax
    * `__al` (k), the attended vector `__o` (dim) and [[classHead]]'s
    * columns. */
  private def transformerForwardStaged(df: DataFrame, codeCol: String,
      numCols: Seq[String], p: TransformerParams): DataFrame = {
    val (k, dim) = (numCols.length + 1, p.e.head.length)
    val t = stage("__T", k, dim)
    val attended = embedTokens(df, codeCol, numCols, p.e, p.a, p.c)
      .withColumn("__al", softmax(scale(matVec(t, t(0)), scalar(lit(1.0 / math.sqrt(dim))))).c)
      .withColumn("__o", vecMat(stage("__al", k), t).c)
    classHead(attended, stage("__o", dim), p.wOut, p.bOut)
  }

  /** The reference's DBTransformer trained END-TO-END
    * (`nn/models/transformer.py:63-110`: column embedders → per-row
    * self-attention over the tokens → token-0 readout → `out_lin` →
    * class softmax, all trained jointly by the experiment loop): a
    * card×dim categorical embedding table (token 0 — the readout
    * token), one Linear(1, dim) embedder per numeric column
    * (`num_embedder.py:10-33`), single-head self-attention with
    * Q=K=V=tokens, an nClass linear head, softmax cross-entropy.
    *
    * The entire backward pass is row-local until the very last move:
    * class-softmax residuals `du_k = p_k − 1[y=k]` flow back through
    * the head (`do_i = Σ_k du_k·W[k][i]`), through the attention
    * softmax Jacobian (`ds_b = α_b·(dα_b − Σ_c α_c·dα_c)` with
    * `dα_b = Σ_i do_i·t_b[i]`), and into every token along BOTH paths —
    * value (`α_b·do_j`) and score: token 0 is the query of every score
    * AND its own key (`∂s_0/∂t_0[j] = 2·t_0[j]·√dim⁻¹`), the numeric
    * tokens are keys of their own score only. Token gradients then fold
    * into parameters: the table's is the scatter-add per code, the
    * numeric embedders' and the head's are plain sums. Each step runs on
    * the GD kernel's grouped form ([[gdStep]]): ONE groupBy(code)
    * aggregate of the per-row gradient, the bp12 economy for the full
    * model. At 100 TB a training step shuffles card rows, nothing else.
    * The embedders and the head enter the plan as one array literal per
    * block and the table as a broadcast frame, so the plan has the same
    * size at any dim and its generated code is the same from step to step.
    *
    * Plain softmaxes (no max-subtraction) for term-for-term SQL
    * restatement; callers keep features normalized. Codes outside
    * [0, card) drop out of the lookup join (dangling-FK convention); a
    * NULL numeric value fails the step. Op order pinned: all gradients
    * from the step's incoming parameters, then `θ − lr·(g/n)`. */
  def fitTransformerGD(df: DataFrame, codeCol: String, numCols: Seq[String],
      yCol: String, card: Int, dim: Int, nClass: Int, steps: Int, lr: Double,
      init: TransformerParams = null): TransformerParams = {
    require(card >= 1 && dim >= 1 && nClass >= 2, "need codes, dims, 2+ classes")
    require(steps >= 1 && lr > 0, "need steps >= 1 and lr > 0")
    val nNum = numCols.length
    val p0 = if (init != null) init else transformerInit(card, dim, nNum, nClass)
    require(shaped(p0.e, card, dim) && shaped(p0.a, nNum, dim) && shaped(p0.c, nNum, dim) &&
      shaped(p0.wOut, nClass, dim) && p0.bOut.length == nClass, "init shape mismatch")
    val unflat = (theta: Array[Double]) => {
      val u = new Unflat(theta)
      TransformerParams(u.mat(card, dim), u.mat(nNum, dim), u.mat(nNum, dim),
        u.mat(nClass, dim), u.vec(nClass))
    }
    val k = nNum + 1
    val scaleD = scalar(lit(1.0 / math.sqrt(dim.toDouble)))
    val (t, al, dS, dout) = (stage("__T", k, dim), stage("__al", k), stage("__dS", k),
      stage("__dout", dim))
    // token 0's score path: the query of every score and its own key
    // (2·dS_0·t_0), plus the numeric tokens' keys (Σ_b≥1 dS_b·t_b)
    val query = scale(t(0), scalar(dS(0).c * lit(2.0)))
    val queryKey = if (nNum == 0) query else plus(query, vecMat(dS.rows(1, nNum), t.rows(1, nNum)))
    val theta0 = Array(p0.e, p0.a, p0.c, p0.wOut).flatten.flatten ++ p0.bOut
    val theta = (1 to steps).foldLeft(theta0) { (theta, _) =>
      val p = unflat(theta)
      // backward stages continue the forward's projection chain — every
      // adjoint lands as a named column computed once per row
      val back = classBack(transformerForwardStaged(df, codeCol, numCols, p), yCol, p.wOut)
        .withColumn("__dS", softmaxBack(al, matVec(t, dout)).c)
        // token gradients: value path + score paths (token b>=1 keys only s_b)
        .withColumn("__dT", stack(
          plus(scale(dout, al(0)), scale(queryKey, scaleD)).as(Seq(1, dim)),
          plus(scale(dout, al.rows(1, nNum)), scale(scale(t(0), dS.rows(1, nNum)), scaleD))).c)
      gdStep(back, transformerGrad(nNum, nClass, Nil, stage("__o", dim)), theta, lr, table = dim)
    }
    unflat(theta)
  }

  /** Mean softmax cross-entropy of [[fitTransformerGD]]'s model — one
    * lookup join + one aggregate over the fit's forward; the
    * finite-difference anchor for the full end-to-end gradient. */
  def transformerLogLoss(df: DataFrame, codeCol: String,
      numCols: Seq[String], yCol: String, p: TransformerParams): Double =
    classLogLoss(transformerForwardStaged(df, codeCol, numCols, p), yCol, p.wOut.length)

  /** Parameters of the multi-head attention readout with LEARNED
    * projections (`torch.nn.MultiheadAttention` semantics,
    * `nn/models/transformer.py:16-18`, `nn/layers/attenttion.py:5-13`:
    * in-projections Q/K/V and an out-projection are always trained, and
    * the experiment sweep searches `num_heads ∈ {2,4,8}`,
    * `experiments/blueprint_mlflow.py:256,271,296`): per head g,
    * `wq/wk/wv(g)` are the (dim/heads)×dim head projections; `wo` is the
    * dim×dim output projection over the concatenated heads; `w`/`b` the
    * logistic readout. */
  final case class MhaParams(wq: Array[Array[Array[Double]]],
      wk: Array[Array[Array[Double]]], wv: Array[Array[Array[Double]]],
      wo: Array[Array[Double]], w: Array[Double], b: Double)

  /** Deterministic default [[MhaParams]] init — every projection entry
    * nonzero, head- and index-asymmetric (so no two heads start
    * identical and no gradient path is dead at step 0); shared by the
    * bp15/mha1 oracle generators. */
  def mhaInit(dim: Int, heads: Int): MhaParams = {
    require(heads >= 1 && dim % heads == 0, s"dim $dim must split into $heads heads")
    val dh = dim / heads
    def proj(off: Double) = Array.tabulate(heads, dh, dim)((g, r, c) =>
      (off + 0.1 * (g + 1) + 0.05 * (r + 1) * (c + 1)) *
        (if ((g + r + c) % 2 == 0) 1 else -1))
    MhaParams(proj(0.2), proj(0.3), proj(0.4),
      Array.tabulate(dim, dim)((i, j) =>
        (0.15 + 0.05 * (i + 1) * (j + 1)) * (if ((i + j) % 2 == 0) 1 else -1)),
      Array.tabulate(dim)(i => 0.1 * (i + 1) * (if (i % 2 == 0) 1 else -1)),
      0.0)
  }

  /** The row-local multi-head attention forward as a STAGED projection
    * chain (the [[transformerForwardStaged]] device — each intermediate
    * is a NAMED column computed once per row, so codegen evaluates the
    * DAG, not an exponentially-duplicated tree). Token 0 is the query
    * token (the reference reads token 0 out, `transformer.py:106-110`);
    * all k tokens are keys and values. Per head g (head dim dh):
    *
    *   q_r = Σ_c wq(g)(r)(c)·x₀[c]        k/v analogously per token b
    *   s_b = Σ_r q_r·k_br / √dh           α = softmax_b(s)   (stable:
    *                                       row max subtracted pre-exp)
    *   ho_r = Σ_b α_b·v_br                o = concat_g(ho)
    *   out_i = Σ_j wo(i)(j)·o_j
    *
    * Adds the tokens `__T` (k × dim, flat), then [[mhaStages]]' columns.
    * Row-local, NO shuffle.
    * Shared by [[fitMhaGD]], [[mhaLogLoss]] and the mha1 registry query
    * so forward and backward can never drift apart. */
  private[graft] def mhaForwardStaged(df: DataFrame, tokenCols: Seq[String],
      p: MhaParams): DataFrame =
    mhaStages(df.withColumn("__T", concat(tokenCols.map(t => col(t).cast("array<double>")): _*)),
      tokenCols.length, p.wq, p.wk, p.wv, p.wo)

  /** The attention stages of [[mhaForwardStaged]] and
    * [[transformerMhaForwardStaged]] over the k × dim tokens `__T`, each
    * one flat array column: `__q` (heads × dh), `__k` and `__v` (heads ×
    * k × dh), the softmax `__al` (heads × k), `__o` (the concatenated
    * heads, dim) and `__out` (dim). Each projection enters as one literal,
    * and every stage is one [[graft.functions.ArrayKernel]] batched over
    * the heads. */
  private def mhaStages(df: DataFrame, k: Int, wq: Array[Array[Array[Double]]],
      wk: Array[Array[Array[Double]]], wv: Array[Array[Array[Double]]],
      wo: Array[Array[Double]]): DataFrame = {
    val (heads, dh, dim) = (wq.length, wq.head.length, wo.length)
    val scaleH = scalar(lit(1.0 / math.sqrt(dh.toDouble)))
    val x = stage("__T", k, dim)
    // every head projects every token: the tokens once per head
    df.withColumn("__q", matVec(cube(wq, dh, dim), x(0)).c)
      .withColumn("__k", matVec(cube(wk, dh, dim), x.repeat(heads)).c)
      .withColumn("__v", matVec(cube(wv, dh, dim), x.repeat(heads)).c)
      .withColumn("__al", stableSoftmax(scale(matVec(stage("__k", heads, k, dh),
        stage("__q", heads, dh)), scaleH)).c)
      .withColumn("__o", vecMat(stage("__al", heads, k), stage("__v", heads, k, dh)).c)
      .withColumn("__out", matVec(matrix(wo, dim), stage("__o", dim)).c)
  }

  /** Multi-head attention with learned Q/K/V/output projections, trained
    * end-to-end by GD — the last reference capability without an engine
    * twin (the tuned model space searches `num_heads ∈ {2,4,8}`): token 0
    * queries all k tokens through per-head learned projections, the
    * concatenated head outputs pass the learned out-projection, and a
    * logistic readout scores the result (mean BCE vs `yCol`).
    *
    * The entire backward is row-local (the bp13 softmax-Jacobian device,
    * once per head): with `dout_i = dm·w_i`, `do_j = Σ_i wo(i)(j)·dout_i`,
    * per head `dα_b = Σ_r da_r·v_br`, `ds_b = α_b(dα_b − Σ_c α_c dα_c)`,
    * the projection gradients fold as flat sums — `∂wq(g)(r)(c) =
    * (Σ_b ds_b·k_br)·√dh⁻¹·x₀[c]`, `∂wk(g)(r)(c) = q_r·√dh⁻¹·Σ_b ds_b·
    * x_b[c]`, `∂wv(g)(r)(c) = Σ_b α_b·da_r·x_b[c]`. EVERY gradient is a
    * per-row array expression, so each step runs on the GD kernel
    * ([[gdStep]]): one aggregate, no join, no scatter, map-side partial
    * agg; every parameter block enters the plan as one array literal, so
    * the plan has the same size at any dim and its generated code is the
    * same from step to step. The stable softmax (max-subtract) keeps large
    * learned projections from overflowing `exp`; the softmax-normalized
    * backward formulas read α directly, so stabilization costs the
    * gradient nothing. A token array that is not `dim` long, is NULL or
    * holds a NULL fails the step. Op order pinned: all gradients from the
    * step's incoming parameters, then `θ − lr·(g/n)` — the SQL
    * restatement is step-for-step. */
  def fitMhaGD(df: DataFrame, tokenCols: Seq[String], yCol: String,
      dim: Int, heads: Int, steps: Int, lr: Double,
      init: MhaParams = null): MhaParams = {
    require(tokenCols.nonEmpty && dim >= 1, "need tokens and a dimension")
    require(heads >= 1 && dim % heads == 0, s"dim $dim must split into $heads heads")
    require(steps >= 1 && lr > 0, "need steps >= 1 and lr > 0")
    val dh = dim / heads
    val p0 = if (init != null) init else mhaInit(dim, heads)
    require(shapedHeads(p0.wq, heads, dh, dim) && shapedHeads(p0.wk, heads, dh, dim) &&
      shapedHeads(p0.wv, heads, dh, dim) && shaped(p0.wo, dim, dim) &&
      p0.w.length == dim, "init shape mismatch")
    val unflat = (theta: Array[Double]) => {
      val u = new Unflat(theta)
      MhaParams(u.cube(heads, dh, dim), u.cube(heads, dh, dim), u.cube(heads, dh, dim),
        u.mat(dim, dim), u.vec(dim), u.scalar)
    }
    val rows = withCheckedTokens(df, tokenCols, dim)
    val (k, dm) = (tokenCols.length, scalar(col("__dm")))
    val theta0 = Array(p0.wq, p0.wk, p0.wv).flatten.flatten.flatten ++
      p0.wo.flatten ++ p0.w :+ p0.b
    val theta = (1 to steps).foldLeft(theta0) { (theta, _) =>
      val p = unflat(theta)
      // backward stages continue the forward's projection chain
      val back = mhaBackStages(mhaForwardStaged(rows, tokenCols, p)
        .withColumn("__dm", mhaReadout(p) - checkedLabel(yCol))
        .withColumn("__dout", scale(vector(p.w), dm).c), k, p.wo, heads)
      gdStep(back, concat(mhaGrads(k, heads, dh), scale(stage("__out", dim), dm).c, array(dm.c)),
        theta, lr)
    }
    unflat(theta)
  }

  /** The backward of [[mhaStages]] from the out-projection's input
    * gradient `__dout` (dim): `__do` (heads × dh), the softmax Jacobian
    * `__ds` (heads × k) and `__dq` (heads × dh). */
  private def mhaBackStages(df: DataFrame, k: Int, wo: Array[Array[Double]],
      heads: Int): DataFrame = {
    val (dim, dh) = (wo.length, wo.length / heads)
    val scaleH = scalar(lit(1.0 / math.sqrt(dh.toDouble)))
    // wo's columns, head by head: row r of head g is column g·dh + r
    val woT = Array.tabulate(heads, dh)((g, r) => wo.map(_(g * dh + r)))
    df.withColumn("__do", matVec(cube(woT, dh, dim), stage("__dout", dim)).c)
      .withColumn("__ds", softmaxBack(stage("__al", heads, k),
        matVec(stage("__v", heads, k, dh), stage("__do", heads, dh))).c)
      .withColumn("__dq", scale(vecMat(stage("__ds", heads, k), stage("__k", heads, k, dh)),
        scaleH).c)
  }

  /** The per-row gradients of [[mhaStages]]' projections over the tokens
    * `__T`, in parameter order: wq, wk, wv (head-, row-, column-major),
    * then wo (row-major). */
  private def mhaGrads(k: Int, heads: Int, dh: Int): Column = {
    val (dim, scaleH) = (heads * dh, scalar(lit(1.0 / math.sqrt(dh.toDouble))))
    val x = stage("__T", k, dim)
    concat(
      outer(stage("__dq", heads, dh), x(0)).c,
      scale(outer(stage("__q", heads, dh), vecMat(stage("__ds", heads, k), x)), scaleH).c,
      outer(stage("__do", heads, dh), vecMat(stage("__al", heads, k), x)).c,
      outer(stage("__dout", dim), stage("__o", dim)).c)
  }

  /** [[fitMhaGD]]'s prediction over [[mhaForwardStaged]]:
    * `σ(Σ_i out_i·w_i + b)`. */
  private def mhaReadout(p: MhaParams): Column =
    sigmoid(Similarity.dot(withOne(col("__out")), Similarity.litVec(p.w :+ p.b)))

  /** Mean logistic loss of [[fitMhaGD]]'s model — one aggregate over the
    * shared staged forward; the finite-difference anchor proving the
    * analytic gradient flows through every learned projection (Q, K, V,
    * output) and both softmax paths. */
  def mhaLogLoss(df: DataFrame, tokenCols: Seq[String], yCol: String,
      p: MhaParams): Double =
    mhaForwardStaged(withCheckedTokens(df, tokenCols, p.wo.length), tokenCols, p)
      .agg(meanLogLoss(checkedLabel(yCol), mhaReadout(p)))
      .collect()(0).getDouble(0)

  /** The reference's FULL stacked DBTransformer forward
    * (`nn/models/transformer.py:43-59,96-110`: L `DBTransformerLayer`s,
    * each = per-table column self-attention AND per-edge-type
    * cross-table attention message passing, then the target-table
    * readout head) composed from the engine's pieces as ONE dataflow:
    *
    * per layer ℓ (same weight-free attention each layer — the dbt1
    * "deterministic trained point" convention, so the whole stack
    * restates in SQL):
    *  1. each table's tokens pass [[columnSelfAttention]] with a
    *     residual add (`t'_b = t_b + attn(t)_b`) — row-local codegen;
    *  2. cross-table messages on the CLS token (token 0, the reference's
    *     readout token): each parent aggregates its children's CLS with
    *     softmax attention scored `exp((cls_p·cls_c)/√dim)` — computed
    *     as the α-weighted mean `Σ e·x / Σ e` in ONE groupBy on the FK
    *     (no window, map-side partial agg) — and each child receives its
    *     parent's CLS back (the reference's reverse edge; with a single
    *     parent the softmax collapses to weight 1). Both directions read
    *     the POST-self-attention, PRE-cross states, then the residuals
    *     apply simultaneously — the op order is pinned for the SQL
    *     restatement.
    *
    * After L layers the parent CLS passes the nClass linear head + class
    * softmax. Childless parents aggregate a zero message; children with
    * a dangling FK receive zero.
    *
    * Scale: per layer, one shuffle on the FK for the message groupBy and
    * two co-partitioned joins on the same key — at 100 TB, bucket both
    * tables by the FK ([[graft.sources.Bucketing]]) and every layer's
    * exchange disappears; the self-attention stages are free (scan-speed
    * projections inside whole-stage codegen). */
  def dbTransformerForward(child: DataFrame, fkCol: String,
      childTokens: Seq[String], parent: DataFrame, keyCol: String,
      parentTokens: Seq[String], dim: Int, layers: Int,
      wOut: Array[Array[Double]], bOut: Array[Double]): DataFrame = {
    require(dim >= 1 && layers >= 1, "need a dimension and at least one layer")
    require(childTokens.nonEmpty && parentTokens.nonEmpty, "need tokens")
    require(wOut.length >= 2 && wOut.forall(_.length == dim) &&
      bOut.length == wOut.length, "head shape mismatch")
    val scale = 1.0 / math.sqrt(dim.toDouble)
    // stage token components as scalar columns (self-attention and the
    // cross pass then stay pure projections over named columns)
    var c = child.select(col(fkCol).as("__fk") +:
      (for (b <- childTokens.indices; i <- 0 until dim)
        yield element_at(col(childTokens(b)), i + 1).cast("double")
          .as(s"__ct${b}_$i")): _*)
    var p = parent.select(col(keyCol).as("__key") +:
      (for (b <- parentTokens.indices; i <- 0 until dim)
        yield element_at(col(parentTokens(b)), i + 1).cast("double")
          .as(s"__pt${b}_$i")): _*)
    def selfAttnResidual(df: DataFrame, pre: String, k: Int,
        idCol: String): DataFrame = {
      val toks = (0 until k).map(b =>
        array((0 until dim).map(i => col(s"__$pre${b}_$i")): _*))
      val out = columnSelfAttention(toks, dim)
      df.select(col(idCol) +:
        (for (b <- 0 until k; i <- 0 until dim)
          yield (col(s"__$pre${b}_$i") + out(b)(i)).as(s"__$pre${b}_$i")): _*)
    }
    (1 to layers).foreach { _ =>
      c = selfAttnResidual(c, "ct", childTokens.length, "__fk")
      p = selfAttnResidual(p, "pt", parentTokens.length, "__key")
      val pcls = p.select(col("__key").as("__fk") +:
        (0 until dim).map(i => col(s"__pt0_$i").as(s"__pcls$i")): _*)
      val w = exp((0 until dim).map(i => col(s"__pcls$i") * col(s"__ct0_$i"))
        .reduce(_ + _) * lit(scale))
      val msg = c.join(pcls, Seq("__fk"))
        .select(col("__fk") +: (w.as("__w") +:
          (0 until dim).map(i => col(s"__ct0_$i"))): _*)
        .groupBy("__fk")
        .agg((0 until dim).map(i =>
            (sum(col("__w") * col(s"__ct0_$i")) / sum(col("__w"))).as(s"__m$i")).head,
          (0 until dim).map(i =>
            (sum(col("__w") * col(s"__ct0_$i")) / sum(col("__w"))).as(s"__m$i")).tail: _*)
        .withColumnRenamed("__fk", "__key")
      val pCols = p.columns
      p = p.join(msg, Seq("__key"), "left")
        .select(col("__key") +: pCols.filter(_ != "__key").map { n =>
          if (n.startsWith("__pt0_")) {
            val i = n.stripPrefix("__pt0_")
            (col(n) + coalesce(col(s"__m$i"), lit(0.0))).as(n)
          } else col(n)
        }.toSeq: _*)
      val cCols = c.columns
      c = c.join(pcls, Seq("__fk"), "left")
        .select(col("__fk") +: cCols.filter(_ != "__fk").map { n =>
          if (n.startsWith("__ct0_")) {
            val i = n.stripPrefix("__ct0_")
            (col(n) + coalesce(col(s"__pcls$i"), lit(0.0))).as(n)
          } else col(n)
        }.toSeq: _*)
    }
    val s = wOut.indices.map(kk => (0 until dim)
      .map(i => col(s"__pt0_$i") * lit(wOut(kk)(i))).reduce(_ + _) + lit(bOut(kk)))
    val zc = s.map(exp).reduce(_ + _)
    p.select(col("__key") +:
      wOut.indices.map(kk => (exp(s(kk)) / zc).as(s"p_class$kk")): _*)
  }

  /** Parameters of the FULL multi-head DBTransformer ([[
    * fitTransformerMhaGD]]): the card×dim embedding table `e`, the
    * Linear(1, dim) numeric embedders `a`/`c`, per-head Q/K/V
    * projections `wq`/`wk`/`wv` (heads×(dim/heads)×dim), the dim×dim
    * out-projection `wo`, and the nClass×dim class head `wOut`/`bOut`. */
  final case class TransformerMhaParams(e: Array[Array[Double]],
      a: Array[Array[Double]], c: Array[Array[Double]],
      wq: Array[Array[Array[Double]]], wk: Array[Array[Array[Double]]],
      wv: Array[Array[Array[Double]]], wo: Array[Array[Double]],
      wOut: Array[Array[Double]], bOut: Array[Double])

  /** Deterministic default [[TransformerMhaParams]] init — the
    * [[transformerInit]] embedding/embedder/head blocks plus the
    * [[mhaInit]] projections; shared by the bp17 oracle generator. */
  def transformerMhaInit(card: Int, dim: Int, nNum: Int, nClass: Int,
      heads: Int): TransformerMhaParams = {
    val t = transformerInit(card, dim, nNum, nClass)
    val m = mhaInit(dim, heads)
    TransformerMhaParams(t.e, t.a, t.c, m.wq, m.wk, m.wv, m.wo, t.wOut, t.bOut)
  }

  /** The staged forward of [[fitTransformerMhaGD]] — tokens from the
    * embedding lookup + numeric embedders ([[embedTokens]], as in
    * [[transformerForwardStaged]]), then MULTI-HEAD attention with
    * learned projections queried by token 0 ([[mhaStages]] over
    * parameter-dependent tokens), the out-projection, and the class
    * head ([[classHead]]), each stage one flat array column. */
  private def transformerMhaForwardStaged(df: DataFrame, codeCol: String,
      numCols: Seq[String], p: TransformerMhaParams): DataFrame =
    classHead(mhaStages(embedTokens(df, codeCol, numCols, p.e, p.a, p.c), numCols.length + 1,
      p.wq, p.wk, p.wv, p.wo), stage("__out", p.wo.length), p.wOut, p.bOut)

  /** The reference's DBTransformer at `num_heads > 1`, trained
    * END-TO-END — the exact tuned model family
    * (`torch.nn.MultiheadAttention` inside `transformer.py:16-18,63-110`
    * with the sweep's `num_heads ∈ {2,4,8}`): embedding table + numeric
    * embedders feed per-head LEARNED Q/K/V projections (token 0 the
    * query), concat heads pass the learned out-projection and the
    * nClass head; softmax cross-entropy, all parameter blocks trained
    * jointly.
    *
    * The backward composes bp14's and bp15's devices: class residuals →
    * head → out-projection → per-head softmax Jacobian ([[fitMhaGD]]'s
    * stages) → projection gradients AND token gradients — token 0
    * receives query+key+value paths through the learned projections
    * (`dt0[c] = Σ_g [Σ_r wq(g)(r)(c)·dq_r + √dh⁻¹·Σ_r wk(g)(r)(c)·ds_0·q_r
    * + Σ_r wv(g)(r)(c)·α_0·do_{g·dh+r}]`), numeric tokens key+value
    * only. Token gradients fold into the table (scatter-add per code) and
    * the embedders (flat sums), so each step is still ONE groupBy(code)
    * aggregate on the GD kernel ([[gdStep]]) — at 100 TB a training step
    * shuffles card rows, nothing else. The embedders, the Q/K/V cubes,
    * wo and the head enter the plan as one array literal per block and
    * the table as a broadcast frame. Op order pinned; codes outside
    * [0, card) drop out of the lookup join; a NULL numeric value fails
    * the step. */
  def fitTransformerMhaGD(df: DataFrame, codeCol: String, numCols: Seq[String],
      yCol: String, card: Int, dim: Int, nClass: Int, heads: Int,
      steps: Int, lr: Double,
      init: TransformerMhaParams = null): TransformerMhaParams = {
    require(card >= 1 && dim >= 1 && nClass >= 2, "need codes, dims, 2+ classes")
    require(heads >= 1 && dim % heads == 0, s"dim $dim must split into $heads heads")
    require(steps >= 1 && lr > 0, "need steps >= 1 and lr > 0")
    val nNum = numCols.length; val dh = dim / heads
    val p0 = if (init != null) init
      else transformerMhaInit(card, dim, nNum, nClass, heads)
    require(shaped(p0.e, card, dim) && shaped(p0.a, nNum, dim) && shaped(p0.c, nNum, dim) &&
      shapedHeads(p0.wq, heads, dh, dim) && shapedHeads(p0.wk, heads, dh, dim) &&
      shapedHeads(p0.wv, heads, dh, dim) && shaped(p0.wo, dim, dim) &&
      shaped(p0.wOut, nClass, dim) && p0.bOut.length == nClass, "init shape mismatch")
    val unflat = (theta: Array[Double]) => {
      val u = new Unflat(theta)
      TransformerMhaParams(u.mat(card, dim), u.mat(nNum, dim), u.mat(nNum, dim),
        u.cube(heads, dh, dim), u.cube(heads, dh, dim), u.cube(heads, dh, dim),
        u.mat(dim, dim), u.mat(nClass, dim), u.vec(nClass))
    }
    val (k, scaleH) = (nNum + 1, scalar(lit(1.0 / math.sqrt(dh.toDouble))))
    val theta0 = Array(p0.e, p0.a, p0.c).flatten.flatten ++
      Array(p0.wq, p0.wk, p0.wv).flatten.flatten.flatten ++
      Array(p0.wo, p0.wOut).flatten.flatten ++ p0.bOut
    // Σ over the heads of a heads × dim block, folded from 0.0 head by head
    val overHeads = (h: Tensor) => vecMat(vector(Array.fill(heads)(1.0)), h)
    val (key, value) = (stage("__dTk", k, heads, dim), stage("__dTv", k, heads, dim))
    val (q, ds, al) = (stage("__q", heads, dh), stage("__ds", heads, k), stage("__al", heads, k))
    val theta = (1 to steps).foldLeft(theta0) { (theta, _) =>
      val p = unflat(theta)
      // token b's gradient through the learned projections, summed over
      // the heads: its key path (ds_b·q) and its value path (α_b·do),
      // plus, for token 0 only, the query path; both paths token-major
      // (k × heads × dim), so each token's heads sum as one block
      val back = mhaBackStages(classBack(transformerMhaForwardStaged(df, codeCol, numCols, p),
          yCol, p.wOut), k, p.wo, heads)
        .withColumn("__dTk", transpose(scale(vecMat(scale(q, ds), cube(p.wk, dh, dim)),
          scaleH)).c)
        .withColumn("__dTv", transpose(vecMat(scale(stage("__do", heads, dh), al),
          cube(p.wv, dh, dim))).c)
        .withColumn("__dT", stack(
          overHeads(plus(plus(vecMat(stage("__dq", heads, dh), cube(p.wq, dh, dim)), key(0)),
            value(0))).as(Seq(1, dim)),
          overHeads(plus(key.rows(1, nNum), value.rows(1, nNum)))).c)
      gdStep(back, transformerGrad(nNum, nClass, Seq(mhaGrads(k, heads, dh)),
        stage("__out", dim)), theta, lr, table = dim)
    }
    unflat(theta)
  }

  /** Mean softmax cross-entropy of [[fitTransformerMhaGD]]'s model over
    * the fit's forward — the finite-difference anchor for the full
    * multi-head end-to-end gradient (every block: table, embedders,
    * Q/K/V/O, head). */
  def transformerMhaLogLoss(df: DataFrame, codeCol: String,
      numCols: Seq[String], yCol: String, p: TransformerMhaParams): Double =
    classLogLoss(transformerMhaForwardStaged(df, codeCol, numCols, p), yCol, p.wOut.length)

  /** The DBTransformers' token stage: the [[lookup]] of each row's code
    * in the table `e`, after a NULL numeric value is made to fail the
    * query, then the numeric values `__xn` (nNum) and the tokens `__T`
    * (k × dim): token 0 the code's table row, token m+1 numeric column m
    * through its Linear(1, dim) embedder, `x_m·a(m)(j) + c(m)(j)`. */
  private def embedTokens(df: DataFrame, codeCol: String, numCols: Seq[String],
      e: Array[Array[Double]], a: Array[Array[Double]], c: Array[Array[Double]]): DataFrame = {
    val dim = e.head.length
    lookup(withCheckedNumbers(df, numCols), codeCol, e)
      .withColumn("__xn", array(numCols.map(col): _*).cast("array<double>"))
      .withColumn("__T", stack(stage("__emb", 1, dim),
        plus(scale(matrix(a, dim), stage("__xn", numCols.length)), matrix(c, dim))).c)
  }

  /** The DBTransformers' class head over its input vector `in`: the
    * class softmax `__pr` (nClass) of the logits `wOut·in + bOut`. */
  private def classHead(df: DataFrame, in: Tensor, wOut: Array[Array[Double]],
      bOut: Array[Double]): DataFrame =
    df.withColumn("__pr", softmax(plus(matVec(matrix(wOut, in.shape.head), in), vector(bOut))).c)

  /** The class head's backward: residuals `__du` = `p_k − 1[y=k]` and
    * the head input's gradient `__dout` = `Σ_k du_k·wOut(k)`. */
  private def classBack(fwd: DataFrame, yCol: String,
      wOut: Array[Array[Double]]): DataFrame = {
    val (nClass, dim) = (wOut.length, wOut.head.length)
    val oneHot = typedLit(Array.tabulate(nClass, nClass)((i, j) => if (i == j) 1.0 else 0.0))
    fwd.withColumn("__du", minus(stage("__pr", nClass),
        Tensor(oneHot(checkedLabel(yCol, nClass)), Seq(nClass))).c)
      .withColumn("__dout", vecMat(stage("__du", nClass), matrix(wOut, dim)).c)
  }

  /** A DBTransformer's packed per-row gradient in parameter order: the
    * code's table block (token 0's gradient, row 0 of `__dT`), the
    * numeric embedders' `a` then `c`, the attention's `attn`, then the
    * class head's over its input `in`. */
  private def transformerGrad(nNum: Int, nClass: Int, attn: Seq[Column], in: Tensor): Column = {
    val (dT, du) = (stage("__dT", nNum + 1, in.shape.head), stage("__du", nClass))
    val dTn = dT.rows(1, nNum)
    concat(Seq(dT(0).c, scale(dTn, stage("__xn", nNum)).c, dTn.c) ++ attn ++
      Seq(outer(du, in).c, du.c): _*)
  }

  /** Mean softmax cross-entropy of a class head's `__pr` against the
    * integer labels in `yCol`. */
  private def classLogLoss(fwd: DataFrame, yCol: String, nClass: Int): Double =
    fwd.agg(avg(-log(col("__pr")(checkedLabel(yCol, nClass)))))
      .collect()(0).getDouble(0)

  /** One-vs-rest ridge-classifier fit of the [[decodeClasses]] weights:
    * one ridge regression per class against its 0/1 indicator (a standard
    * ridge classifier — argmax of the per-class scores predicts). All
    * classes share the single X'X pass of [[fitLinearDecoders]]. A NULL
    * label fails that pass: it would count as 0 for every class. */
  def fitClassDecoders(df: DataFrame, featCol: String, yCol: String, dim: Int,
      classes: Seq[Any], lambda: Double = 0.0): Seq[(Array[Double], Double)] = {
    val y = when(col(yCol).isNotNull, col(yCol))
      .otherwise(raise_error(lit(s"label column '$yCol' must hold a non-NULL class")))
    fitLinearDecoders(df, featCol,
      classes.map(c => when(y === lit(c), 1.0).otherwise(0.0)), dim, lambda)
  }

  /** Gaussian elimination with partial pivoting on the tiny (k+1)×(k+1)
    * normal matrix — driver-side scalar math, like the reference's other
    * driver-side formulas (W7). Mutates its arguments. */
  private def solveLinearSystem(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    for (p <- 0 until n) {
      var best = p
      for (r <- p + 1 until n) if (math.abs(a(r)(p)) > math.abs(a(best)(p))) best = r
      if (best != p) {
        val tmp = a(p); a(p) = a(best); a(best) = tmp
        val tb = b(p); b(p) = b(best); b(best) = tb
      }
      require(a(p)(p) != 0.0, "singular normal matrix (add ridge lambda or drop collinear features)")
      for (r <- p + 1 until n) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p until n) a(r)(c) -= f * a(p)(c)
        b(r) -= f * b(p)
      }
    }
    val w = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var s = b(i)
      for (j <- i + 1 until n) s -= a(i)(j) * w(j)
      w(i) = s / a(i)(i)
    }
    w
  }

  /** W7: the reference's batch-size heuristic
    * (experiments/blueprint_mlflow.py:115-117):
    * `max(16, 2^round(log2(n/500))) * 2^scale`, capped at 16384. */
  def batchSizeHeuristic(n: Long, scaleExp: Int = 0): Int = {
    require(n > 0, "table must be non-empty")
    val base = math.max(16.0, math.pow(2, math.round(math.log(n / 500.0) / math.log(2.0)).toDouble))
    math.min(16384.0, base * math.pow(2, scaleExp.toDouble)).toInt
  }
}

/** F21/F22: evaluation metrics as single-row DataFrames
  * (nn/lightning/lightning_wrapper.py:44-58). */
object Metrics {
  /** Classification accuracy: mean(pred == y). */
  def accuracy(df: DataFrame, predCol: String, yCol: String): DataFrame =
    df.agg(avg(when(col(predCol) === col(yCol), 1.0).otherwise(0.0)).as("accuracy"))

  /** MAE, MSE, NRMSE = sqrt(MSE)/mean(y). */
  def regression(df: DataFrame, predCol: String, yCol: String): DataFrame = {
    val err = col(predCol) - col(yCol)
    df.agg(
      avg(abs(err)).as("mae"),
      avg(pow(err, 2)).as("mse"),
      (sqrt(avg(pow(err, 2))) / avg(col(yCol))).as("nrmse"))
  }
}
