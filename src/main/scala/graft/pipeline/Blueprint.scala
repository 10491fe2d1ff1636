package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agg.VectorAgg
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
    */
  def forward(
      nodes: Map[String, DataFrame],
      edges: Map[EdgeType, DataFrame],
      cfg: Config = Config()): Map[String, DataFrame] = {

    var state = nodes.map { case (t, df) => t -> cfg.pre(df) }
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
    fitLinearDecoders(df, featCol, Seq(col(yCol).cast("double")), dim, lambda).head

  /** Multi-target form of [[fitLinearDecoder]]: the Gram matrix X'X is
    * target-independent, so T targets share ONE distributed pass (X'X once
    * + X'y per target) and T tiny driver solves — fitting a T-class
    * readout costs the same scan as fitting one. */
  def fitLinearDecoders(df: DataFrame, featCol: String, targets: Seq[Column],
      dim: Int, lambda: Double = 0.0): Seq[(Array[Double], Double)] = {
    require(dim >= 1, "need at least one feature")
    require(targets.nonEmpty, "need at least one target")
    val x = (i: Int) => element_at(col(featCol), i + 1).cast("double")
    val sums: Seq[Column] =
      (for { i <- 0 until dim; j <- i until dim }
        yield sum(x(i) * x(j)).as(s"s_${i}_$j")) ++
      (0 until dim).map(i => sum(x(i)).as(s"s1_$i")) ++
      targets.zipWithIndex.flatMap { case (y, t) =>
        (0 until dim).map(i => sum(x(i) * y).as(s"sy_${t}_$i")) :+
          sum(y).as(s"sy_$t")
      } ++
      Seq(count(lit(1)).cast("double").as("n"))
    val row = df.agg(sums.head, sums.tail: _*).collect()(0)
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
    * .kFold]] on the order key) to keep the split leakage-free.
    */
  def kFoldRidge(df: DataFrame, featCol: String, yCol: String, dim: Int,
      foldCol: String, lambda: Double = 0.0): DataFrame = {
    require(dim >= 1, "need at least one feature")
    val spark = df.sparkSession
    val x = (i: Int) => element_at(col(featCol), i + 1).cast("double")
    val y = col(yCol).cast("double")
    val sums: Seq[Column] =
      (for { i <- 0 until dim; j <- i until dim }
        yield sum(x(i) * x(j)).as(s"s_${i}_$j")) ++
      (0 until dim).map(i => sum(x(i)).as(s"s1_$i")) ++
      (0 until dim).map(i => sum(x(i) * y).as(s"sy_$i")) ++
      Seq(sum(y).as("sy"), count(lit(1)).cast("double").as("n"))
    val perFold = df.groupBy(col(foldCol).cast("int").as("fold"))
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
    df.select(col(foldCol).cast("int").as("fold"), col(featCol), y.as("__y"))
      .join(broadcast(mdf), "fold")
      .groupBy(col("fold"))
      .agg(count(lit(1)).cast("bigint").as("n_test"),
        ((0 until dim).map(i => first(col(s"__w$i")).as(s"w_$i")) :+
         first(col("__b")).as("bias") :+
         round(avg(pow(col("__y") - pred, 2)), 2).as("mse")): _*)
  }

  /** Gradient-trained logistic readout — the train-LOOP capability of the
    * reference's Lightning fit stage (main.py:307-323) in distributed
    * form, complementing the closed-form [[fitLinearDecoder]]: full-batch
    * gradient descent on logistic loss, where EVERY step is exactly one
    * distributed aggregation pass (the gradient `Σ (σ(w·x+b) − y)·x` and
    * `Σ (σ(w·x+b) − y)` with map-side partial aggregation — a (dim+2)-value
    * shuffle per step) followed by a driver-side scalar weight update. The
    * weights enter the next step's plan as literals, so no broadcast or
    * state distribution is needed and the per-step scan is pure codegen.
    * Mini-batching at 100 TB = a deterministic [[graft.sample.Sampling]]
    * filter composed in front per step; the loop shape is unchanged.
    *
    * Update rule (op order pinned for engine-parity restatement):
    * `w_i ← w_i − lr·(g_i/n + l2·w_i)`, bias unpenalized. Weights start at
    * zero, so step 1's gradient is exact-integer arithmetic for integer
    * features; later steps are dominated by σ = 1/(1+exp(−m)), whose
    * cross-engine error is ulp-level — orders below the round-6 contract.
    */
  def fitLogisticGD(df: DataFrame, featCol: String, yCol: String, dim: Int,
      steps: Int, lr: Double, l2: Double = 0.0): (Array[Double], Double) = {
    require(dim >= 1, "need at least one feature")
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    val x = (i: Int) => element_at(col(featCol), i + 1).cast("double")
    val y = col(yCol).cast("double")
    val w = Array.fill(dim)(0.0)
    var b = 0.0
    (1 to steps).foreach { _ =>
      val margin = (0 until dim).map(i => x(i) * lit(w(i))).reduce(_ + _) + lit(b)
      val p = sigmoid(margin)
      val sums = (0 until dim).map(i => sum((p - y) * x(i)).as(s"g_$i")) ++
        Seq(sum(p - y).as("g_b"), count(lit(1)).cast("double").as("n"))
      val row = df.agg(sums.head, sums.tail: _*).collect()(0)
      val n = row.getDouble(row.fieldIndex("n"))
      require(n > 0, "cannot fit on an empty DataFrame")
      (0 until dim).foreach { i =>
        w(i) = w(i) - lr * (row.getDouble(row.fieldIndex(s"g_$i")) / n + l2 * w(i))
      }
      b = b - lr * (row.getDouble(row.fieldIndex("g_b")) / n)
    }
    (w, b)
  }

  /** Parameters of a one-hidden-layer sigmoid network:
    * `h_j = σ(Σ_i x_i·w1(i)(j) + b1(j))`, `p = σ(Σ_j h_j·w2(j) + b2)`. */
  final case class MlpParams(w1: Array[Array[Double]], b1: Array[Double],
      w2: Array[Double], b2: Double)

  /** Gradient-trained HIDDEN layer — end-to-end backprop through a
    * one-hidden-layer sigmoid network, the message-passing-weights
    * counterpart of [[fitLogisticGD]]'s readout-only training (the
    * reference trains the whole blueprint stack end-to-end,
    * main.py:307-323, nn/models/blueprint.py:24-214). Every GD step is
    * ONE distributed aggregation pass: the per-row forward activations
    * and all backprop products are codegen expressions, and only the
    * `dim·H + 2H + 2` gradient sums shuffle (map-side partial agg). The
    * updated parameters re-enter the next step's plan as literals —
    * nothing is broadcast, no state lives on executors, so the loop runs
    * unchanged on a 1000-executor cluster; mini-batching composes a
    * deterministic [[graft.sample.Sampling]] filter in front of each pass.
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
    require(p0.w1.length == dim && p0.w1.forall(_.length == hidden) &&
      p0.b1.length == hidden && p0.w2.length == hidden, "init shape mismatch")
    val rows = withCheckedFeatures(df, featCol, dim, "feature")
    val x = (i: Int) => element_at(col(featCol), i + 1).cast("double")
    val y = col(yCol).cast("double")
    val w1 = p0.w1.map(_.clone()); val b1 = p0.b1.clone()
    val w2 = p0.w2.clone(); var b2 = p0.b2
    (1 to steps).foreach { _ =>
      val h = (0 until hidden).map { j =>
        sigmoid((0 until dim).map(i => x(i) * lit(w1(i)(j))).reduce(_ + _) + lit(b1(j)))
      }
      val m = (0 until hidden).map(j => h(j) * lit(w2(j))).reduce(_ + _) + lit(b2)
      val dm = sigmoid(m) - y
      val sums =
        (for { i <- 0 until dim; j <- 0 until hidden }
          yield sum(dm * lit(w2(j)) * (h(j) * (lit(1.0) - h(j))) * x(i)).as(s"gw_${i}_$j")) ++
        (0 until hidden).map(j =>
          sum(dm * lit(w2(j)) * (h(j) * (lit(1.0) - h(j)))).as(s"gc_$j")) ++
        (0 until hidden).map(j => sum(dm * h(j)).as(s"gv_$j")) ++
        Seq(sum(dm).as("gb"), count(lit(1)).cast("double").as("n"))
      val row = rows.agg(sums.head, sums.tail: _*).collect()(0)
      def g(name: String) = row.getDouble(row.fieldIndex(name))
      val n = g("n")
      require(n > 0, "cannot fit on an empty DataFrame")
      for (i <- 0 until dim; j <- 0 until hidden)
        w1(i)(j) = w1(i)(j) - lr * (g(s"gw_${i}_$j") / n)
      for (j <- 0 until hidden) {
        b1(j) = b1(j) - lr * (g(s"gc_$j") / n)
        w2(j) = w2(j) - lr * (g(s"gv_$j") / n)
      }
      b2 = b2 - lr * (g("gb") / n)
    }
    MlpParams(w1, b1, w2, b2)
  }

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
    * gradient, which the driver unpacks. Each children plan is evaluated
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
    var p = p0 // each step builds fresh arrays: the caller's init is never written
    (1 to steps).foreach { _ =>
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
      // unpack in layout order: gv (width), gb, n, then per group H gw
      // blocks ((dim+1)×hidden, the last row is b1's) and attn's gu (H×dim)
      var off = width + 2
      val next = groups.zipWithIndex.map { case (g, t) =>
        val block = (g.dim + 1) * hidden
        val gw = (i: Int, j: Int) => (0 until heads)
          .map(k => p.w2(k * hidden + j) * r(off + k * block + i * hidden + j)).sum
        val w1 = Array.tabulate(g.dim, hidden)((i, j) => p.w1(t)(i)(j) - lr * (gw(i, j) / n))
        val b1 = Array.tabulate(hidden)(j => p.b1(t)(j) - lr * (gw(g.dim, j) / n))
        off += heads * block
        val u = if (!attn) null else {
          val ut = Array.tabulate(heads * g.dim)(i => p.u(t)(i) - lr * (r(off + i) / n))
          off += heads * g.dim
          ut
        }
        (w1, b1, u)
      }
      p = HeteroGnnParams(next.map(_._1), next.map(_._2),
        Array.tabulate(width)(j => p.w2(j) - lr * (r(j) / n)),
        p.b2 - lr * (r(width) / n),
        if (attn) next.map(_._3) else null)
    }
    p
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

  /** The logistic function, op order `1/(1+exp(−z))` (what the SQL
    * restatements spell out). */
  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Mean logistic loss of predictions `p` against 0/1 labels `y`. */
  private def meanLogLoss(y: Column, p: Column): Column =
    avg(-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p)))

  /** `c` as `array<double>`, failing the query on a row whose array is
    * not `dim` long, is NULL or holds a NULL element: element access past
    * the end is NULL with ANSI off and sums skip NULLs, so such a row
    * would otherwise drop out of a gradient sum while a count still
    * counts it. `what` names the column in the error. */
  private def checkedFeatures(c: Column, dim: Int, what: String): Column = {
    val f = c.cast("array<double>")
    when(size(f) === dim && forall(f, _.isNotNull), f)
      .otherwise(raise_error(concat(lit(s"$what must hold $dim non-NULL values, got "),
        coalesce(f.cast("string"), lit("NULL")))).cast("array<double>"))
  }

  /** `df` with `featCol` replaced by its [[checkedFeatures]]; unchanged
    * (the column may be absent) when `dim` is 0 — a mid with no features. */
  private def withCheckedFeatures(df: DataFrame, featCol: String, dim: Int,
      what: String): DataFrame =
    if (dim == 0) df
    else df.withColumn(featCol, checkedFeatures(col(featCol), dim, s"$what column '$featCol'"))

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
      // message weights as ONE literal: hidden rows of (w1(·)(j) ++ b1(j))
      val w = typedLit(Array.tabulate(hidden, g.dim + 1)((j, i) =>
        if (i < g.dim) p.w1(t)(i)(j) else p.b1(t)(j)))
      val msg = g.children.select(g.fkCols.map(col) :+ x.as("__x"): _*)
        .withColumn("__xh", concat(col("__x"), array(lit(1.0))))
        .withColumn("__h", transform(w, wj => sigmoid(Similarity.dot(col("__xh"), wj))))
      val core = concat(col("__h"), flatten(transform(col("__xh"),
        xi => transform(col("__h"), h => xi * (h * (lit(1.0) - h))))))
      val packed =
        if (aggr != "attn") msg.select(g.fkCols.map(col) :+
          concat(core, array(lit(1.0))).as("__v"): _*)
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
        parents.select(keyCols.map(col) :+ col(yCol).cast("double").as("__y"): _*)) {
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
      .withColumn("__p", sigmoid(Similarity.dot(concat(col("__aT"), array(lit(1.0))),
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
    * The chain rule telescopes through the two sums as two JOIN-BACKS:
    * `∂L/∂m2(mid) = dm(root)·v` (join roots→mids), and
    * `∂L/∂A_j(mid) = Σ_k δ2_k·σ'_k·w2(A_j)(k)` is a per-mid scalar that
    * joins mids→leaves to give `∂L/∂m1(leaf)`. Every parameter gradient
    * reduces as a flat sum over the joined rows of its own level. Cost
    * per GD step: two scatter-sum shuffles (one per level, forward), one
    * scalar aggregate per level + one over roots (gradients), two
    * join-backs. The mid-level frame (A, z per mid row) is checkpointed —
    * three passes read it — and released with the root frame after the
    * step's gradients are collected; parameters re-enter as literals, no
    * executor state.
    *
    * A leaf (or mid) feature array not `leafDim` (`midDim`) non-NULL
    * values long fails the step.
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
    require(leafDim >= 1 && midDim >= 0 && h1 >= 1 && h2 >= 1,
      "need at least one leaf feature and one hidden unit per level")
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    require(leafFkCols.nonEmpty && leafFkCols.length == midKeyCols.length,
      s"leaf FK arity mismatch: $leafFkCols vs $midKeyCols")
    require(midFkCols.nonEmpty && midFkCols.length == rootKeyCols.length,
      s"mid FK arity mismatch: $midFkCols vs $rootKeyCols")
    val d2 = h1 + midDim // level-2 input: [A ; z]
    val p0 = if (init != null) init else Gnn2Params(
      Array.tabulate(leafDim, h1)((i, j) => 0.1 * (i + 1) * (if (j % 2 == 0) 1 else -1)),
      Array.fill(h1)(0.0),
      Array.tabulate(d2, h2)((i, k) => 0.1 * (i + 1) * (if (k % 2 == 0) 1 else -1)),
      Array.fill(h2)(0.0),
      Array.tabulate(h2)(k => 0.1 * (k + 1)),
      0.0)
    require(p0.w1.length == leafDim && p0.w1.forall(_.length == h1) &&
      p0.b1.length == h1 && p0.w2.length == d2 &&
      p0.w2.forall(_.length == h2) && p0.b2.length == h2 &&
      p0.v.length == h2, "init shape mismatch")
    val leafRows = withCheckedFeatures(leaves, leafFeatCol, leafDim, "leaf")
    val midRows = withCheckedFeatures(mids, midFeatCol, midDim, "mid")
    val y = col(yCol).cast("double")
    val w1 = p0.w1.map(_.clone()); val b1 = p0.b1.clone()
    val w2 = p0.w2.map(_.clone()); val b2 = p0.b2.clone()
    val v = p0.v.clone(); var vb = p0.vb
    val xL = (i: Int) => element_at(col(leafFeatCol), i + 1).cast("double")
    val zM = (i: Int) => element_at(col(midFeatCol), i + 1).cast("double")
    (1 to steps).foreach { _ =>
      // level-1 forward: leaf messages scatter-sum into mids; keep the
      // mid frame (keys, fk-to-root, z, A) — three later passes read it
      val m1 = (0 until h1).map { j =>
        sigmoid((0 until leafDim).map(i => xL(i) * lit(w1(i)(j))).reduce(_ + _) + lit(b1(j)))
      }
      val ren1 = scatterSums(leafRows, leafFkCols, midKeyCols, m1, "__A")
      val mid = midRows
        .select((midKeyCols ++ midFkCols).distinct.map(col) ++
          (0 until midDim).map(i => zM(i).as(s"__z$i")): _*)
        .join(ren1, midKeyCols, "left")
        .select((midKeyCols ++ midFkCols).distinct.map(col) ++
          (0 until midDim).map(i => col(s"__z$i")) ++
          (0 until h1).map(j => coalesce(col(s"__A$j"), lit(0.0)).as(s"__A$j")): _*)
        .localCheckpoint(true)
      // level-2 forward: mid messages over [A ; z] scatter-sum into roots
      val in2 = (i: Int) =>
        if (i < h1) col(s"__A$i") else col(s"__z${i - h1}")
      val m2 = (0 until h2).map { k =>
        sigmoid((0 until d2).map(i => in2(i) * lit(w2(i)(k))).reduce(_ + _) + lit(b2(k)))
      }
      val ren2 = scatterSums(mid, midFkCols, rootKeyCols, m2, "__B")
      val root = roots
        .select(rootKeyCols.map(col) :+ y.as("__y"): _*)
        .join(ren2, rootKeyCols, "left")
        .select(rootKeyCols.map(col) ++ Seq(col("__y")) ++
          (0 until h2).map(k => coalesce(col(s"__B$k"), lit(0.0)).as(s"__B$k")): _*)
        .localCheckpoint(true)
      val margin = (0 until h2).map(k => col(s"__B$k") * lit(v(k))).reduce(_ + _) + lit(vb)
      val dm = sigmoid(margin) - col("__y")
      // readout gradients over roots
      val rootSums = (0 until h2).map(k => sum(dm * col(s"__B$k")).as(s"gv_$k")) ++
        Seq(sum(dm).as("gvb"), count(lit(1)).cast("double").as("n"))
      val rRow = root.agg(rootSums.head, rootSums.tail: _*).collect()(0)
      def gr(name: String) = rRow.getDouble(rRow.fieldIndex(name))
      val n = gr("n")
      require(n > 0, "cannot fit on an empty roots frame")
      // join-back 1: roots → mids; level-2 grads are flat sums over mids,
      // and γ_j = Σ_k δ2_k·σ'_k·w2(A_j)(k) chains into level 1
      val dmPerRoot = rootKeyCols.zip(midFkCols).foldLeft(
          root.select(rootKeyCols.map(col) :+ dm.as("__dm"): _*)) {
        case (df, (k, c)) => df.withColumnRenamed(k, c)
      }
      val back2 = mid.join(dmPerRoot, midFkCols)
      val sp2 = (k: Int) => m2(k) * (lit(1.0) - m2(k)) // σ' at level 2
      val gamma = (j: Int) =>
        (0 until h2).map(k => col("__dm") * lit(v(k)) * sp2(k) * lit(w2(j)(k)))
          .reduce(_ + _)
      val back2Sums =
        (for { i <- 0 until d2; k <- 0 until h2 }
          yield sum(col("__dm") * lit(v(k)) * sp2(k) * in2(i)).as(s"gw2_${i}_$k")) ++
        (0 until h2).map(k =>
          sum(col("__dm") * lit(v(k)) * sp2(k)).as(s"gb2_$k"))
      val b2Row = back2.agg(back2Sums.head, back2Sums.tail: _*).collect()(0)
      // join-back 2: mids (with γ) → leaves; level-1 grads are flat sums
      val gammaPerMid = midKeyCols.zip(leafFkCols).foldLeft(
          back2.select(midKeyCols.map(col) ++
            (0 until h1).map(j => gamma(j).as(s"__g$j")): _*)) {
        case (df, (k, c)) => df.withColumnRenamed(k, c)
      }
      val back1 = leafRows.join(gammaPerMid, leafFkCols)
      val sp1 = (j: Int) => m1(j) * (lit(1.0) - m1(j))
      val back1Sums =
        (for { i <- 0 until leafDim; j <- 0 until h1 }
          yield sum(col(s"__g$j") * sp1(j) * xL(i)).as(s"gw1_${i}_$j")) ++
        (0 until h1).map(j => sum(col(s"__g$j") * sp1(j)).as(s"gb1_$j"))
      val b1Row = back1.agg(back1Sums.head, back1Sums.tail: _*).collect()(0)
      def g2(name: String) =
        if (b2Row.isNullAt(b2Row.fieldIndex(name))) 0.0
        else b2Row.getDouble(b2Row.fieldIndex(name))
      def g1(name: String) =
        if (b1Row.isNullAt(b1Row.fieldIndex(name))) 0.0
        else b1Row.getDouble(b1Row.fieldIndex(name))
      for (i <- 0 until leafDim; j <- 0 until h1)
        w1(i)(j) = w1(i)(j) - lr * (g1(s"gw1_${i}_$j") / n)
      for (j <- 0 until h1) b1(j) = b1(j) - lr * (g1(s"gb1_$j") / n)
      for (i <- 0 until d2; k <- 0 until h2)
        w2(i)(k) = w2(i)(k) - lr * (g2(s"gw2_${i}_$k") / n)
      for (k <- 0 until h2) {
        b2(k) = b2(k) - lr * (g2(s"gb2_$k") / n)
        v(k) = v(k) - lr * (gr(s"gv_$k") / n)
      }
      vb = vb - lr * (gr("gvb") / n)
      graft.util.Checkpoints.release(root)
      graft.util.Checkpoints.release(mid)
    }
    Gnn2Params(w1, b1, w2, b2, v, vb)
  }

  /** Mean logistic loss of [[fitGnn2GD]]'s depth-2 network — two
    * scatter-sums + one aggregate; the finite-difference anchor proving
    * the gradient flows through BOTH nested aggregations. */
  def gnn2LogLoss(leaves: DataFrame, leafFkCols: Seq[String], leafFeatCol: String,
      mids: DataFrame, midKeyCols: Seq[String], midFkCols: Seq[String],
      midFeatCol: String, midDim: Int,
      roots: DataFrame, rootKeyCols: Seq[String], yCol: String,
      p: Gnn2Params): Double = {
    val leafDim = p.w1.length; val h1 = p.b1.length; val h2 = p.b2.length
    val y = col(yCol).cast("double")
    val xL = (i: Int) => element_at(col(leafFeatCol), i + 1).cast("double")
    val zM = (i: Int) => element_at(col(midFeatCol), i + 1).cast("double")
    val m1 = (0 until h1).map { j =>
      sigmoid((0 until leafDim).map(i => xL(i) * lit(p.w1(i)(j))).reduce(_ + _) +
        lit(p.b1(j)))
    }
    val ren1 = scatterSums(withCheckedFeatures(leaves, leafFeatCol, leafDim, "leaf"),
      leafFkCols, midKeyCols, m1, "__A")
    val midDimN = p.w2.length - h1
    val mid = withCheckedFeatures(mids, midFeatCol, midDimN, "mid")
      .select((midKeyCols ++ midFkCols).distinct.map(col) ++
        (0 until midDimN).map(i => zM(i).as(s"__z$i")): _*)
      .join(ren1, midKeyCols, "left")
    val in2 = (i: Int) =>
      if (i < h1) coalesce(col(s"__A$i"), lit(0.0)) else col(s"__z${i - h1}")
    val m2 = (0 until h2).map { k =>
      sigmoid((0 until p.w2.length).map(i => in2(i) * lit(p.w2(i)(k))).reduce(_ + _) +
        lit(p.b2(k)))
    }
    val ren2 = scatterSums(mid, midFkCols, rootKeyCols, m2, "__B")
    val margin = (0 until h2)
      .map(k => coalesce(col(s"__B$k"), lit(0.0)) * lit(p.v(k))).reduce(_ + _) +
      lit(p.vb)
    roots.select(rootKeyCols.map(col) :+ y.as("__y"): _*)
      .join(ren2, rootKeyCols, "left")
      .agg(meanLogLoss(col("__y"), sigmoid(margin)))
      .collect()(0).getDouble(0)
  }

  /** Per-parent sums of the per-row `msgs` (named `name0`, `name1`, …)
    * of `rows` grouped on `fkCols`, renamed to the parent's `keyCols`. */
  private def scatterSums(rows: DataFrame, fkCols: Seq[String], keyCols: Seq[String],
      msgs: Seq[Column], name: String): DataFrame = {
    val sums = msgs.indices.map(j => sum(msgs(j)).as(s"$name$j"))
    fkCols.zip(keyCols).foldLeft(rows.groupBy(fkCols.map(col): _*)
        .agg(sums.head, sums.tail: _*)) {
      case (df, (c, k)) => df.withColumnRenamed(c, k)
    }
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

  /** Mean logistic loss of [[fitMlpGD]]'s network — one aggregation pass;
    * the training-progress metric and the finite-difference anchor for
    * gradient correctness in specs. */
  def mlpLogLoss(df: DataFrame, featCol: String, yCol: String,
      p: MlpParams): Double = {
    val dim = p.w1.length; val hidden = p.b1.length
    val x = (i: Int) => element_at(col(featCol), i + 1).cast("double")
    val y = col(yCol).cast("double")
    val h = (0 until hidden).map { j =>
      sigmoid((0 until dim).map(i => x(i) * lit(p.w1(i)(j))).reduce(_ + _) + lit(p.b1(j)))
    }
    val m = (0 until hidden).map(j => h(j) * lit(p.w2(j))).reduce(_ + _) + lit(p.b2)
    withCheckedFeatures(df, featCol, dim, "feature").agg(meanLogLoss(y, sigmoid(m)))
      .collect()(0).getDouble(0)
  }

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
    * Forward: the F20 broadcast-join device — the card×dim table ships
    * as a broadcast frame keyed by code, so the lookup is a
    * broadcast-hash join, never a shuffle. Backward: the lookup's
    * adjoint is a SCATTER-ADD per code (`∂L/∂E[c] = Σ_{rows: code=c}
    * dm·w`), and because the model is linear in the looked-up vector,
    * EVERY gradient in the model is a fold of per-code residual sums:
    *   s_c = Σ_{code=c} dm,  t_{c,j} = Σ_{code=c} dm·x_j
    *   ∂E[c][i] = s_c·w_i    ∂w_i = Σ_c s_c·E[c][i]
    *   ∂u_j = Σ_c t_{c,j}    ∂b = Σ_c s_c
    * so ONE groupBy(code) aggregate (card rows after map-side partial
    * agg) per step carries the entire backward pass; the folds run on
    * the driver over the card-row result. Updated parameters re-enter
    * the next step as a fresh broadcast literal frame — no executor
    * state, 1000-executor-safe at any corpus size (card bounds the
    * driver work, not the data).
    *
    * Codes outside [0, card) drop out of the inner lookup join and
    * contribute nothing — the dangling-FK convention of the J-ops.
    * Op order pinned (gradients all computed from the step's incoming
    * parameters, then `θ − lr·(g/n)` applied) for the SQL restatement;
    * drift is summation-order and exp ulps, below a round-6 contract. */
  def fitEmbeddingGD(df: DataFrame, codeCol: String, featCol: String,
      yCol: String, card: Int, dim: Int, nFeat: Int, steps: Int, lr: Double,
      init: EmbParams = null): EmbParams = {
    require(card >= 1 && dim >= 1, "need at least one code and one dimension")
    require(nFeat >= 0 && (nFeat == 0 || featCol != null),
      "nFeat > 0 requires a feature column")
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    val p0 = if (init != null) init else embInit(card, dim, nFeat)
    require(p0.e.length == card && p0.e.forall(_.length == dim) &&
      p0.w.length == dim && p0.u.length == nFeat, "init shape mismatch")
    val e = p0.e.map(_.clone()); val w = p0.w.clone()
    val u = p0.u.clone(); var b = p0.b
    val spark = df.sparkSession
    import spark.implicits._
    val x = (j: Int) => element_at(col(featCol), j + 1).cast("double")
    val y = col(yCol).cast("double")
    (1 to steps).foreach { _ =>
      val embDf = e.zipWithIndex.map { case (row, c) => (c, row) }.toSeq
        .toDF("__code", "__emb")
      val joined = df.join(broadcast(embDf),
        col(codeCol).cast("int") === col("__code"))
      val ei = (i: Int) => element_at(col("__emb"), i + 1)
      val margin = (0 until dim).map(i => ei(i) * lit(w(i))) ++
        (0 until nFeat).map(j => x(j) * lit(u(j))) reduceOption (_ + _)
      val dm = sigmoid(margin.getOrElse(lit(0.0)) + lit(b)) - y
      val sums = Seq(sum(dm).as("__s"), count(lit(1)).cast("double").as("__n")) ++
        (0 until nFeat).map(j => sum(dm * x(j)).as(s"__t$j"))
      val rows = joined.groupBy(col("__code")).agg(sums.head, sums.tail: _*)
        .collect()
      val s = Array.fill(card)(0.0); val t = Array.fill(nFeat)(0.0)
      var n = 0.0
      rows.foreach { r =>
        val c = r.getInt(r.fieldIndex("__code"))
        s(c) = r.getDouble(r.fieldIndex("__s"))
        n += r.getDouble(r.fieldIndex("__n"))
        (0 until nFeat).foreach(j => t(j) += r.getDouble(r.fieldIndex(s"__t$j")))
      }
      require(n > 0, "no row carries a code inside [0, card)")
      // fold the readout gradients from the per-code sums (old table),
      // THEN update everything from the step's incoming parameters
      val gw = Array.tabulate(dim)(i => (0 until card).map(c => s(c) * e(c)(i)).sum)
      val gb = s.sum
      for (c <- 0 until card; i <- 0 until dim)
        e(c)(i) = e(c)(i) - lr * (s(c) * w(i) / n)
      (0 until dim).foreach(i => w(i) = w(i) - lr * (gw(i) / n))
      (0 until nFeat).foreach(j => u(j) = u(j) - lr * (t(j) / n))
      b = b - lr * (gb / n)
    }
    EmbParams(e, w, u, b)
  }

  /** Mean logistic loss of [[fitEmbeddingGD]]'s model — one broadcast
    * lookup join + one aggregate; the finite-difference anchor proving
    * the analytic gradient really flows through the table lookup. */
  def embeddingLogLoss(df: DataFrame, codeCol: String, featCol: String,
      yCol: String, p: EmbParams): Double = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = p.w.length; val nFeat = p.u.length
    val embDf = p.e.zipWithIndex.map { case (row, c) => (c, row) }.toSeq
      .toDF("__code", "__emb")
    val x = (j: Int) => element_at(col(featCol), j + 1).cast("double")
    val y = col(yCol).cast("double")
    val ei = (i: Int) => element_at(col("__emb"), i + 1)
    val margin = ((0 until dim).map(i => ei(i) * lit(p.w(i))) ++
      (0 until nFeat).map(j => x(j) * lit(p.u(j)))).reduce(_ + _) + lit(p.b)
    df.join(broadcast(embDf), col(codeCol).cast("int") === col("__code"))
      .agg(meanLogLoss(y, sigmoid(margin)))
      .collect()(0).getDouble(0)
  }

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
    * per-row codegen expression, so a GD step is ONE distributed
    * aggregate pass (2·dim + 2 sums, map-side partial agg) — no join, no
    * scatter, no per-step checkpoint; parameters re-enter the next step
    * as literals. The cheapest trainable operator in the library, at any
    * corpus size.
    *
    * Plain softmax (no max-subtraction) so the SQL restatement is
    * term-for-term; callers keep token dot products bounded (normalized
    * features), as in [[columnSelfAttention]]. */
  def fitCrossAttnGD(df: DataFrame, tokenCols: Seq[String], yCol: String,
      dim: Int, steps: Int, lr: Double,
      init: CrossAttnParams = null): CrossAttnParams = {
    require(tokenCols.nonEmpty && dim >= 1, "need tokens and a dimension")
    require(steps >= 1, "need at least one step")
    require(lr > 0, s"learning rate must be positive, got $lr")
    val p0 = if (init != null) init else crossAttnInit(dim)
    require(p0.q.length == dim && p0.w.length == dim, "init shape mismatch")
    val k = tokenCols.length
    val q = p0.q.clone(); val w = p0.w.clone(); var b = p0.b
    val x = (bi: Int, i: Int) => element_at(col(tokenCols(bi)), i + 1).cast("double")
    val y = col(yCol).cast("double")
    val scale = 1.0 / math.sqrt(dim.toDouble)
    (1 to steps).foreach { _ =>
      val e = (0 until k).map(bi =>
        exp((0 until dim).map(i => x(bi, i) * lit(q(i))).reduce(_ + _) * lit(scale)))
      val z = e.reduce(_ + _)
      val a = (0 until dim).map(i =>
        (0 until k).map(bi => e(bi) / z * x(bi, i)).reduce(_ + _))
      val dm = sigmoid((0 until dim).map(i => a(i) * lit(w(i))).reduce(_ + _) + lit(b)) - y
      val g = (0 until k).map(bi =>
        dm * (0 until dim).map(i => lit(w(i)) * x(bi, i)).reduce(_ + _))
      val sumg = (0 until k).map(bi => e(bi) / z * g(bi)).reduce(_ + _)
      val ds = (0 until k).map(bi => e(bi) / z * (g(bi) - sumg))
      val sums =
        (0 until dim).map(i => sum(
          (0 until k).map(bi => ds(bi) * x(bi, i)).reduce(_ + _) * lit(scale))
          .as(s"gq_$i")) ++
        (0 until dim).map(i => sum(dm * a(i)).as(s"gw_$i")) ++
        Seq(sum(dm).as("gb"), count(lit(1)).cast("double").as("n"))
      val row = df.agg(sums.head, sums.tail: _*).collect()(0)
      def gr(name: String) = row.getDouble(row.fieldIndex(name))
      val n = gr("n")
      require(n > 0, "cannot fit on an empty DataFrame")
      (0 until dim).foreach { i =>
        q(i) = q(i) - lr * (gr(s"gq_$i") / n)
        w(i) = w(i) - lr * (gr(s"gw_$i") / n)
      }
      b = b - lr * (gr("gb") / n)
    }
    CrossAttnParams(q, w, b)
  }

  /** Mean logistic loss of [[fitCrossAttnGD]]'s model — one aggregate;
    * the finite-difference anchor proving the analytic gradient really
    * flows through the row-local softmax. */
  def crossAttnLogLoss(df: DataFrame, tokenCols: Seq[String], yCol: String,
      p: CrossAttnParams): Double = {
    val dim = p.q.length; val k = tokenCols.length
    val x = (bi: Int, i: Int) => element_at(col(tokenCols(bi)), i + 1).cast("double")
    val y = col(yCol).cast("double")
    val scale = 1.0 / math.sqrt(dim.toDouble)
    val e = (0 until k).map(bi =>
      exp((0 until dim).map(i => x(bi, i) * lit(p.q(i))).reduce(_ + _) * lit(scale)))
    val z = e.reduce(_ + _)
    val a = (0 until dim).map(i =>
      (0 until k).map(bi => e(bi) / z * x(bi, i)).reduce(_ + _))
    val m = (0 until dim).map(i => a(i) * lit(p.w(i))).reduce(_ + _) + lit(p.b)
    df.agg(meanLogLoss(y, sigmoid(m)))
      .collect()(0).getDouble(0)
  }

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
    * projection chain over the lookup-joined frame: each intermediate
    * (token components, score exponentials, softmax weights, attended
    * vector, class probabilities) lands as a NAMED column computed once
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
    * Emits: `__t{b}_{j}` (token b component j; b=0 the embedding),
    * `__ex{b}`, `__z`, `__al{b}` (softmax), `__o{i}` (attended),
    * `__u{k}`, `__eu{k}`, `__zc`, `__pr{k}` (class softmax). */
  private def transformerForwardStaged(joined: DataFrame,
      p: TransformerParams, numCols: Seq[String]): DataFrame = {
    val dim = p.e.head.length; val nNum = p.a.length
    val nClass = p.wOut.length; val k = 1 + nNum
    val scale = 1.0 / math.sqrt(dim.toDouble)
    joined
      .withColumns((
        (0 until dim).map(j => s"__t0_$j" -> element_at(col("__emb"), j + 1)) ++
        (for (m <- 0 until nNum; j <- 0 until dim) yield s"__t${m + 1}_$j" ->
          (col(numCols(m)).cast("double") * lit(p.a(m)(j)) + lit(p.c(m)(j))))).toMap)
      .withColumns((0 until k).map(b => s"__ex$b" ->
        exp((0 until dim).map(j => col(s"__t0_$j") * col(s"__t${b}_$j"))
          .reduce(_ + _) * lit(scale))).toMap)
      .withColumn("__z", (0 until k).map(b => col(s"__ex$b")).reduce(_ + _))
      .withColumns((0 until k).map(b =>
        s"__al$b" -> col(s"__ex$b") / col("__z")).toMap)
      .withColumns((0 until dim).map(i => s"__o$i" ->
        (0 until k).map(b => col(s"__al$b") * col(s"__t${b}_$i"))
          .reduce(_ + _)).toMap)
      .withColumns((0 until nClass).map(kk => s"__u$kk" ->
        ((0 until dim).map(i => col(s"__o$i") * lit(p.wOut(kk)(i)))
          .reduce(_ + _) + lit(p.bOut(kk)))).toMap)
      .withColumns((0 until nClass).map(kk =>
        s"__eu$kk" -> exp(col(s"__u$kk"))).toMap)
      .withColumn("__zc", (0 until nClass).map(kk => col(s"__eu$kk")).reduce(_ + _))
      .withColumns((0 until nClass).map(kk =>
        s"__pr$kk" -> col(s"__eu$kk") / col("__zc")).toMap)
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
    * numeric embedders' and the head's are plain sums — ALL of which
    * ride ONE groupBy(code) aggregate per step (per-code partial sums,
    * driver-folded), the bp12 economy for the full model. At 100 TB a
    * training step shuffles card rows, nothing else.
    *
    * Plain softmaxes (no max-subtraction) for term-for-term SQL
    * restatement; callers keep features normalized. Codes outside
    * [0, card) drop out of the lookup join (dangling-FK convention).
    * Op order pinned: all gradients from the step's incoming
    * parameters, then `θ − lr·(g/n)`. */
  def fitTransformerGD(df: DataFrame, codeCol: String, numCols: Seq[String],
      yCol: String, card: Int, dim: Int, nClass: Int, steps: Int, lr: Double,
      init: TransformerParams = null): TransformerParams = {
    require(card >= 1 && dim >= 1 && nClass >= 2, "need codes, dims, 2+ classes")
    require(steps >= 1 && lr > 0, "need steps >= 1 and lr > 0")
    val nNum = numCols.length
    val p0 = if (init != null) init else transformerInit(card, dim, nNum, nClass)
    require(p0.e.length == card && p0.e.forall(_.length == dim) &&
      p0.a.length == nNum && p0.a.forall(_.length == dim) &&
      p0.c.length == nNum && p0.c.forall(_.length == dim) &&
      p0.wOut.length == nClass && p0.wOut.forall(_.length == dim) &&
      p0.bOut.length == nClass, "init shape mismatch")
    val e = p0.e.map(_.clone()); val a = p0.a.map(_.clone())
    val cc = p0.c.map(_.clone()); val wOut = p0.wOut.map(_.clone())
    val bOut = p0.bOut.clone()
    val spark = df.sparkSession
    import spark.implicits._
    val scale = 1.0 / math.sqrt(dim.toDouble)
    val k = 1 + nNum
    (1 to steps).foreach { _ =>
      val cur = TransformerParams(e.map(_.clone()), a.map(_.clone()),
        cc.map(_.clone()), wOut.map(_.clone()), bOut.clone())
      val embDf = e.zipWithIndex.map { case (row, cd) => (cd, row) }.toSeq
        .toDF("__code", "__emb")
      val joined = df.join(broadcast(embDf),
        col(codeCol).cast("int") === col("__code"))
      val y = col(yCol).cast("int")
      // backward stages continue the forward's projection chain — every
      // adjoint lands as a named column computed once per row
      val back = transformerForwardStaged(joined, cur, numCols)
        .withColumns((0 until nClass).map(kk => s"__du$kk" ->
          (col(s"__pr$kk") - when(y === kk, 1.0).otherwise(0.0))).toMap)
        .withColumns((0 until dim).map(i => s"__dO$i" ->
          (0 until nClass).map(kk => col(s"__du$kk") * lit(cur.wOut(kk)(i)))
            .reduce(_ + _)).toMap)
        .withColumns((0 until k).map(b => s"__dAl$b" ->
          (0 until dim).map(i => col(s"__dO$i") * col(s"__t${b}_$i"))
            .reduce(_ + _)).toMap)
        .withColumn("__sad",
          (0 until k).map(b => col(s"__al$b") * col(s"__dAl$b")).reduce(_ + _))
        .withColumns((0 until k).map(b => s"__dS$b" ->
          col(s"__al$b") * (col(s"__dAl$b") - col("__sad"))).toMap)
        // token gradients: value path + score paths (token 0 is the query
        // of every score and its own key; token b>=1 keys only s_b)
        .withColumns((
          (0 until dim).map(j => s"__dT0_$j" ->
            (col("__al0") * col(s"__dO$j") +
              (col("__dS0") * lit(2.0) * col(s"__t0_$j") +
                (1 until k).map(b => col(s"__dS$b") * col(s"__t${b}_$j"))
                  .reduce(_ + _)) * lit(scale))) ++
          (for (m <- 0 until nNum; j <- 0 until dim) yield s"__dT${m + 1}_$j" ->
            (col(s"__al${m + 1}") * col(s"__dO$j") +
              col(s"__dS${m + 1}") * col(s"__t0_$j") * lit(scale)))).toMap)
      // ONE grouped pass: per-code partial sums of every gradient
      val x = (m: Int) => col(numCols(m)).cast("double")
      val sums =
        (0 until dim).map(j => sum(col(s"__dT0_$j")).as(s"ge_$j")) ++
        (for (m <- 0 until nNum; j <- 0 until dim)
          yield sum(col(s"__dT${m + 1}_$j") * x(m)).as(s"ga_${m}_$j")) ++
        (for (m <- 0 until nNum; j <- 0 until dim)
          yield sum(col(s"__dT${m + 1}_$j")).as(s"gc_${m}_$j")) ++
        (for (kk <- 0 until nClass; i <- 0 until dim)
          yield sum(col(s"__du$kk") * col(s"__o$i")).as(s"gw_${kk}_$i")) ++
        (0 until nClass).map(kk => sum(col(s"__du$kk")).as(s"gb_$kk")) ++
        Seq(count(lit(1)).cast("double").as("__n"))
      val rows = back.groupBy(col("__code")).agg(sums.head, sums.tail: _*)
        .collect()
      var n = 0.0
      val gE = Array.fill(card, dim)(0.0)
      val gA = Array.fill(nNum, dim)(0.0); val gC = Array.fill(nNum, dim)(0.0)
      val gW = Array.fill(nClass, dim)(0.0); val gB = Array.fill(nClass)(0.0)
      rows.foreach { r =>
        def g(name: String) = r.getDouble(r.fieldIndex(name))
        val cd = r.getInt(r.fieldIndex("__code"))
        n += g("__n")
        (0 until dim).foreach(j => gE(cd)(j) = g(s"ge_$j"))
        for (m <- 0 until nNum; j <- 0 until dim) {
          gA(m)(j) += g(s"ga_${m}_$j"); gC(m)(j) += g(s"gc_${m}_$j")
        }
        for (kk <- 0 until nClass) {
          gB(kk) += g(s"gb_$kk")
          (0 until dim).foreach(i => gW(kk)(i) += g(s"gw_${kk}_$i"))
        }
      }
      require(n > 0, "no row carries a code inside [0, card)")
      for (cd <- 0 until card; j <- 0 until dim)
        e(cd)(j) = e(cd)(j) - lr * (gE(cd)(j) / n)
      for (m <- 0 until nNum; j <- 0 until dim) {
        a(m)(j) = a(m)(j) - lr * (gA(m)(j) / n)
        cc(m)(j) = cc(m)(j) - lr * (gC(m)(j) / n)
      }
      for (kk <- 0 until nClass) {
        (0 until dim).foreach(i => wOut(kk)(i) = wOut(kk)(i) - lr * (gW(kk)(i) / n))
        bOut(kk) = bOut(kk) - lr * (gB(kk) / n)
      }
    }
    TransformerParams(e, a, cc, wOut, bOut)
  }

  /** Mean softmax cross-entropy of [[fitTransformerGD]]'s model — one
    * lookup join + one aggregate; the finite-difference anchor for the
    * full end-to-end gradient. */
  def transformerLogLoss(df: DataFrame, codeCol: String,
      numCols: Seq[String], yCol: String, p: TransformerParams): Double = {
    val spark = df.sparkSession
    import spark.implicits._
    val nClass = p.wOut.length
    val embDf = p.e.zipWithIndex.map { case (row, cd) => (cd, row) }.toSeq
      .toDF("__code", "__emb")
    val joined = df.join(broadcast(embDf),
      col(codeCol).cast("int") === col("__code"))
    val y = col(yCol).cast("int")
    val py = (0 until nClass).map(kk =>
      when(y === kk, col(s"__pr$kk")).otherwise(lit(0.0))).reduce(_ + _)
    transformerForwardStaged(joined, p, numCols)
      .agg(avg(-log(py))).collect()(0).getDouble(0)
  }

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
    * Emits `__x{b}_{c}` (token components), `__q{g}_{r}`, `__k{g}_{b}_{r}`,
    * `__v{g}_{b}_{r}`, `__s{g}_{b}`, `__al{g}_{b}` (softmax), `__o{j}`
    * (concatenated heads), `__out{i}`. Pure codegen, NO shuffle — at
    * 100 TB the forward runs inside whole-stage codegen at scan speed.
    * Shared by [[fitMhaGD]], [[mhaLogLoss]] and the mha1 registry query
    * so forward and backward can never drift apart. */
  private[graft] def mhaForwardStaged(df: DataFrame, tokenCols: Seq[String],
      p: MhaParams): DataFrame = {
    val heads = p.wq.length; val dh = p.wq.head.length
    val dim = p.wq.head.head.length; val k = tokenCols.length
    val scaleH = 1.0 / math.sqrt(dh.toDouble)
    val x = (b: Int, c: Int) => col(s"__x${b}_$c")
    df.withColumns((for (b <- 0 until k; c <- 0 until dim)
        yield s"__x${b}_$c" ->
          element_at(col(tokenCols(b)), c + 1).cast("double")).toMap)
      .withColumns((
        (for (g <- 0 until heads; r <- 0 until dh) yield s"__q${g}_$r" ->
          (0 until dim).map(c => x(0, c) * lit(p.wq(g)(r)(c))).reduce(_ + _)) ++
        (for (g <- 0 until heads; b <- 0 until k; r <- 0 until dh)
          yield s"__k${g}_${b}_$r" ->
            (0 until dim).map(c => x(b, c) * lit(p.wk(g)(r)(c))).reduce(_ + _)) ++
        (for (g <- 0 until heads; b <- 0 until k; r <- 0 until dh)
          yield s"__v${g}_${b}_$r" ->
            (0 until dim).map(c => x(b, c) * lit(p.wv(g)(r)(c))).reduce(_ + _))).toMap)
      .withColumns((for (g <- 0 until heads; b <- 0 until k)
        yield s"__s${g}_$b" ->
          (0 until dh).map(r => col(s"__q${g}_$r") * col(s"__k${g}_${b}_$r"))
            .reduce(_ + _) * lit(scaleH)).toMap)
      .withColumns((0 until heads).map(g => s"__mx$g" -> (
        if (k == 1) col(s"__s${g}_0")
        else greatest((0 until k).map(b => col(s"__s${g}_$b")): _*))).toMap)
      .withColumns((for (g <- 0 until heads; b <- 0 until k)
        yield s"__e${g}_$b" -> exp(col(s"__s${g}_$b") - col(s"__mx$g"))).toMap)
      .withColumns((0 until heads).map(g => s"__z$g" ->
        (0 until k).map(b => col(s"__e${g}_$b")).reduce(_ + _)).toMap)
      .withColumns((for (g <- 0 until heads; b <- 0 until k)
        yield s"__al${g}_$b" -> col(s"__e${g}_$b") / col(s"__z$g")).toMap)
      .withColumns((for (g <- 0 until heads; r <- 0 until dh)
        yield s"__o${g * dh + r}" ->
          (0 until k).map(b => col(s"__al${g}_$b") * col(s"__v${g}_${b}_$r"))
            .reduce(_ + _)).toMap)
      .withColumns((0 until dim).map(i => s"__out$i" ->
        (0 until dim).map(j => col(s"__o$j") * lit(p.wo(i)(j))).reduce(_ + _)).toMap)
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
    * per-row codegen expression, so a GD step is ONE distributed
    * aggregate pass (no join, no scatter, map-side partial agg);
    * parameters re-enter the next step as literals. The stable softmax
    * (max-subtract, free in codegen) keeps large learned projections
    * from overflowing `exp`; the softmax-normalized backward formulas
    * read α directly, so stabilization costs the gradient nothing.
    * Op order pinned: all gradients from the step's incoming parameters,
    * then `θ − lr·(g/n)` — the SQL restatement is step-for-step. */
  def fitMhaGD(df: DataFrame, tokenCols: Seq[String], yCol: String,
      dim: Int, heads: Int, steps: Int, lr: Double,
      init: MhaParams = null): MhaParams = {
    require(tokenCols.nonEmpty && dim >= 1, "need tokens and a dimension")
    require(heads >= 1 && dim % heads == 0, s"dim $dim must split into $heads heads")
    require(steps >= 1 && lr > 0, "need steps >= 1 and lr > 0")
    val dh = dim / heads; val k = tokenCols.length
    val p0 = if (init != null) init else mhaInit(dim, heads)
    require(p0.wq.length == heads && p0.wq.forall(h => h.length == dh &&
        h.forall(_.length == dim)) &&
      p0.wk.length == heads && p0.wv.length == heads &&
      p0.wo.length == dim && p0.wo.forall(_.length == dim) &&
      p0.w.length == dim, "init shape mismatch")
    val wq = p0.wq.map(_.map(_.clone())); val wk = p0.wk.map(_.map(_.clone()))
    val wv = p0.wv.map(_.map(_.clone())); val wo = p0.wo.map(_.clone())
    val w = p0.w.clone(); var b = p0.b
    val scaleH = 1.0 / math.sqrt(dh.toDouble)
    val y = col(yCol).cast("double")
    (1 to steps).foreach { _ =>
      val cur = MhaParams(wq.map(_.map(_.clone())), wk.map(_.map(_.clone())),
        wv.map(_.map(_.clone())), wo.map(_.clone()), w.clone(), b)
      // backward stages continue the forward's projection chain
      val back = mhaForwardStaged(df, tokenCols, cur)
        .withColumn("__dm", sigmoid((0 until dim)
          .map(i => col(s"__out$i") * lit(cur.w(i))).reduce(_ + _) + lit(cur.b)) - y)
        .withColumns((0 until dim).map(i =>
          s"__dout$i" -> col("__dm") * lit(cur.w(i))).toMap)
        .withColumns((0 until dim).map(j => s"__do$j" ->
          (0 until dim).map(i => col(s"__dout$i") * lit(cur.wo(i)(j)))
            .reduce(_ + _)).toMap)
        .withColumns((for (g <- 0 until heads; bb <- 0 until k)
          yield s"__dal${g}_$bb" ->
            (0 until dh).map(r => col(s"__do${g * dh + r}") *
              col(s"__v${g}_${bb}_$r")).reduce(_ + _)).toMap)
        .withColumns((0 until heads).map(g => s"__sad$g" ->
          (0 until k).map(bb => col(s"__al${g}_$bb") * col(s"__dal${g}_$bb"))
            .reduce(_ + _)).toMap)
        .withColumns((for (g <- 0 until heads; bb <- 0 until k)
          yield s"__ds${g}_$bb" ->
            col(s"__al${g}_$bb") * (col(s"__dal${g}_$bb") - col(s"__sad$g"))).toMap)
        .withColumns((for (g <- 0 until heads; r <- 0 until dh)
          yield s"__dq${g}_$r" ->
            (0 until k).map(bb => col(s"__ds${g}_$bb") * col(s"__k${g}_${bb}_$r"))
              .reduce(_ + _) * lit(scaleH)).toMap)
      val xB = (bb: Int, c: Int) => col(s"__x${bb}_$c")
      // ONE aggregate pass: every projection gradient as a flat sum
      val sums =
        (for (g <- 0 until heads; r <- 0 until dh; c <- 0 until dim)
          yield sum(col(s"__dq${g}_$r") * xB(0, c)).as(s"gq_${g}_${r}_$c")) ++
        (for (g <- 0 until heads; r <- 0 until dh; c <- 0 until dim)
          yield sum((0 until k).map(bb => col(s"__ds${g}_$bb") * xB(bb, c))
            .reduce(_ + _) * col(s"__q${g}_$r") * lit(scaleH))
            .as(s"gk_${g}_${r}_$c")) ++
        (for (g <- 0 until heads; r <- 0 until dh; c <- 0 until dim)
          yield sum((0 until k).map(bb => col(s"__al${g}_$bb") * xB(bb, c))
            .reduce(_ + _) * col(s"__do${g * dh + r}"))
            .as(s"gv_${g}_${r}_$c")) ++
        (for (i <- 0 until dim; j <- 0 until dim)
          yield sum(col(s"__dout$i") * col(s"__o$j")).as(s"go_${i}_$j")) ++
        (0 until dim).map(i => sum(col("__dm") * col(s"__out$i")).as(s"gw_$i")) ++
        Seq(sum(col("__dm")).as("gb"), count(lit(1)).cast("double").as("n"))
      val row = back.agg(sums.head, sums.tail: _*).collect()(0)
      def g(name: String) = row.getDouble(row.fieldIndex(name))
      val n = g("n")
      require(n > 0, "cannot fit on an empty DataFrame")
      for (gg <- 0 until heads; r <- 0 until dh; c <- 0 until dim) {
        wq(gg)(r)(c) -= lr * (g(s"gq_${gg}_${r}_$c") / n)
        wk(gg)(r)(c) -= lr * (g(s"gk_${gg}_${r}_$c") / n)
        wv(gg)(r)(c) -= lr * (g(s"gv_${gg}_${r}_$c") / n)
      }
      for (i <- 0 until dim; j <- 0 until dim)
        wo(i)(j) -= lr * (g(s"go_${i}_$j") / n)
      (0 until dim).foreach(i => w(i) -= lr * (g(s"gw_$i") / n))
      b -= lr * (g("gb") / n)
    }
    MhaParams(wq, wk, wv, wo, w, b)
  }

  /** Mean logistic loss of [[fitMhaGD]]'s model — one aggregate over the
    * shared staged forward; the finite-difference anchor proving the
    * analytic gradient flows through every learned projection (Q, K, V,
    * output) and both softmax paths. */
  def mhaLogLoss(df: DataFrame, tokenCols: Seq[String], yCol: String,
      p: MhaParams): Double = {
    val dim = p.wo.length
    val y = col(yCol).cast("double")
    val m = (0 until dim).map(i => col(s"__out$i") * lit(p.w(i)))
      .reduce(_ + _) + lit(p.b)
    mhaForwardStaged(df, tokenCols, p)
      .agg(meanLogLoss(y, sigmoid(m)))
      .collect()(0).getDouble(0)
  }

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
    * embedding lookup + numeric embedders ([[transformerForwardStaged]]'s
    * first stage), then MULTI-HEAD attention with learned projections
    * queried by token 0 ([[mhaForwardStaged]]'s stages over
    * parameter-dependent tokens), the out-projection, and the class
    * softmax. Emits `__t{b}_{j}`, `__q/__k/__v`, `__s/__e/__al`
    * (stable softmax), `__o{j}`, `__out{i}`, `__u/__eu/__zc/__pr{k}`. */
  private def transformerMhaForwardStaged(joined: DataFrame,
      p: TransformerMhaParams, numCols: Seq[String]): DataFrame = {
    val dim = p.wo.length; val nNum = p.a.length
    val nClass = p.wOut.length; val k = 1 + nNum
    val heads = p.wq.length; val dh = p.wq.head.length
    val scaleH = 1.0 / math.sqrt(dh.toDouble)
    val t = (b: Int, j: Int) => col(s"__t${b}_$j")
    joined
      .withColumns((
        (0 until dim).map(j => s"__t0_$j" -> element_at(col("__emb"), j + 1)) ++
        (for (m <- 0 until nNum; j <- 0 until dim) yield s"__t${m + 1}_$j" ->
          (col(numCols(m)).cast("double") * lit(p.a(m)(j)) + lit(p.c(m)(j))))).toMap)
      .withColumns((
        (for (g <- 0 until heads; r <- 0 until dh) yield s"__q${g}_$r" ->
          (0 until dim).map(cc => t(0, cc) * lit(p.wq(g)(r)(cc))).reduce(_ + _)) ++
        (for (g <- 0 until heads; b <- 0 until k; r <- 0 until dh)
          yield s"__k${g}_${b}_$r" ->
            (0 until dim).map(cc => t(b, cc) * lit(p.wk(g)(r)(cc))).reduce(_ + _)) ++
        (for (g <- 0 until heads; b <- 0 until k; r <- 0 until dh)
          yield s"__v${g}_${b}_$r" ->
            (0 until dim).map(cc => t(b, cc) * lit(p.wv(g)(r)(cc))).reduce(_ + _))).toMap)
      .withColumns((for (g <- 0 until heads; b <- 0 until k)
        yield s"__s${g}_$b" ->
          (0 until dh).map(r => col(s"__q${g}_$r") * col(s"__k${g}_${b}_$r"))
            .reduce(_ + _) * lit(scaleH)).toMap)
      .withColumns((0 until heads).map(g => s"__mx$g" -> (
        if (k == 1) col(s"__s${g}_0")
        else greatest((0 until k).map(b => col(s"__s${g}_$b")): _*))).toMap)
      .withColumns((for (g <- 0 until heads; b <- 0 until k)
        yield s"__e${g}_$b" -> exp(col(s"__s${g}_$b") - col(s"__mx$g"))).toMap)
      .withColumns((0 until heads).map(g => s"__z$g" ->
        (0 until k).map(b => col(s"__e${g}_$b")).reduce(_ + _)).toMap)
      .withColumns((for (g <- 0 until heads; b <- 0 until k)
        yield s"__al${g}_$b" -> col(s"__e${g}_$b") / col(s"__z$g")).toMap)
      .withColumns((for (g <- 0 until heads; r <- 0 until dh)
        yield s"__o${g * dh + r}" ->
          (0 until k).map(b => col(s"__al${g}_$b") * col(s"__v${g}_${b}_$r"))
            .reduce(_ + _)).toMap)
      .withColumns((0 until dim).map(i => s"__out$i" ->
        (0 until dim).map(j => col(s"__o$j") * lit(p.wo(i)(j))).reduce(_ + _)).toMap)
      .withColumns((0 until nClass).map(kk => s"__u$kk" ->
        ((0 until dim).map(i => col(s"__out$i") * lit(p.wOut(kk)(i)))
          .reduce(_ + _) + lit(p.bOut(kk)))).toMap)
      .withColumns((0 until nClass).map(kk =>
        s"__eu$kk" -> exp(col(s"__u$kk"))).toMap)
      .withColumn("__zc", (0 until nClass).map(kk => col(s"__eu$kk")).reduce(_ + _))
      .withColumns((0 until nClass).map(kk =>
        s"__pr$kk" -> col(s"__eu$kk") / col("__zc")).toMap)
  }

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
    * head → out-projection → per-head softmax Jacobian → projection
    * gradients AND token gradients — token 0 receives query+key+value
    * paths through the learned projections (`dt0[c] = Σ_g [Σ_r wq(g)(r)(c)
    * ·dq_r + √dh⁻¹·Σ_r wk(g)(r)(c)·ds_0·q_r + Σ_r wv(g)(r)(c)·α_0·
    * do_{g·dh+r}]`), numeric tokens key+value only. Token gradients fold
    * into the table (scatter-add per code) and the embedders (flat
    * sums), so the whole step is still ONE groupBy(code) aggregate —
    * at 100 TB a training step shuffles card rows, nothing else.
    * Op order pinned; codes outside [0, card) drop out of the lookup
    * join. */
  def fitTransformerMhaGD(df: DataFrame, codeCol: String, numCols: Seq[String],
      yCol: String, card: Int, dim: Int, nClass: Int, heads: Int,
      steps: Int, lr: Double,
      init: TransformerMhaParams = null): TransformerMhaParams = {
    require(card >= 1 && dim >= 1 && nClass >= 2, "need codes, dims, 2+ classes")
    require(heads >= 1 && dim % heads == 0, s"dim $dim must split into $heads heads")
    require(steps >= 1 && lr > 0, "need steps >= 1 and lr > 0")
    val nNum = numCols.length; val dh = dim / heads; val k = 1 + nNum
    val p0 = if (init != null) init
      else transformerMhaInit(card, dim, nNum, nClass, heads)
    require(p0.e.length == card && p0.e.forall(_.length == dim) &&
      p0.a.length == nNum && p0.c.length == nNum &&
      p0.wq.length == heads && p0.wq.forall(h => h.length == dh &&
        h.forall(_.length == dim)) &&
      p0.wk.length == heads && p0.wv.length == heads &&
      p0.wo.length == dim && p0.wOut.length == nClass &&
      p0.bOut.length == nClass, "init shape mismatch")
    val e = p0.e.map(_.clone()); val a = p0.a.map(_.clone())
    val cc = p0.c.map(_.clone())
    val wq = p0.wq.map(_.map(_.clone())); val wk = p0.wk.map(_.map(_.clone()))
    val wv = p0.wv.map(_.map(_.clone())); val wo = p0.wo.map(_.clone())
    val wOut = p0.wOut.map(_.clone()); val bOut = p0.bOut.clone()
    val spark = df.sparkSession
    import spark.implicits._
    val scaleH = 1.0 / math.sqrt(dh.toDouble)
    (1 to steps).foreach { _ =>
      val cur = TransformerMhaParams(e.map(_.clone()), a.map(_.clone()),
        cc.map(_.clone()), wq.map(_.map(_.clone())), wk.map(_.map(_.clone())),
        wv.map(_.map(_.clone())), wo.map(_.clone()), wOut.map(_.clone()),
        bOut.clone())
      val embDf = e.zipWithIndex.map { case (row, cd) => (cd, row) }.toSeq
        .toDF("__code", "__emb")
      val joined = df.join(broadcast(embDf),
        col(codeCol).cast("int") === col("__code"))
      val y = col(yCol).cast("int")
      val back = transformerMhaForwardStaged(joined, cur, numCols)
        .withColumns((0 until nClass).map(kk => s"__du$kk" ->
          (col(s"__pr$kk") - when(y === kk, 1.0).otherwise(0.0))).toMap)
        .withColumns((0 until dim).map(i => s"__dout$i" ->
          (0 until nClass).map(kk => col(s"__du$kk") * lit(cur.wOut(kk)(i)))
            .reduce(_ + _)).toMap)
        .withColumns((0 until dim).map(j => s"__do$j" ->
          (0 until dim).map(i => col(s"__dout$i") * lit(cur.wo(i)(j)))
            .reduce(_ + _)).toMap)
        .withColumns((for (g <- 0 until heads; b <- 0 until k)
          yield s"__dal${g}_$b" ->
            (0 until dh).map(r => col(s"__do${g * dh + r}") *
              col(s"__v${g}_${b}_$r")).reduce(_ + _)).toMap)
        .withColumns((0 until heads).map(g => s"__sad$g" ->
          (0 until k).map(b => col(s"__al${g}_$b") * col(s"__dal${g}_$b"))
            .reduce(_ + _)).toMap)
        .withColumns((for (g <- 0 until heads; b <- 0 until k)
          yield s"__ds${g}_$b" ->
            col(s"__al${g}_$b") * (col(s"__dal${g}_$b") - col(s"__sad$g"))).toMap)
        .withColumns((for (g <- 0 until heads; r <- 0 until dh)
          yield s"__dq${g}_$r" ->
            (0 until k).map(b => col(s"__ds${g}_$b") * col(s"__k${g}_${b}_$r"))
              .reduce(_ + _) * lit(scaleH)).toMap)
        // token gradients through the learned projections: token 0 rides
        // the query path + its key path + its value path; token b >= 1
        // keys its own score and carries its value path
        .withColumns((
          (0 until dim).map(j => s"__dT0_$j" ->
            (0 until heads).map { g =>
              (0 until dh).map(r => lit(cur.wq(g)(r)(j)) * col(s"__dq${g}_$r"))
                .reduce(_ + _) +
              (0 until dh).map(r => lit(cur.wk(g)(r)(j)) *
                (col(s"__ds${g}_0") * col(s"__q${g}_$r"))).reduce(_ + _) * lit(scaleH) +
              (0 until dh).map(r => lit(cur.wv(g)(r)(j)) *
                (col(s"__al${g}_0") * col(s"__do${g * dh + r}"))).reduce(_ + _)
            }.reduce(_ + _)) ++
          (for (m <- 0 until nNum; j <- 0 until dim) yield s"__dT${m + 1}_$j" ->
            (0 until heads).map { g =>
              (0 until dh).map(r => lit(cur.wk(g)(r)(j)) *
                (col(s"__ds${g}_${m + 1}") * col(s"__q${g}_$r"))).reduce(_ + _) *
                lit(scaleH) +
              (0 until dh).map(r => lit(cur.wv(g)(r)(j)) *
                (col(s"__al${g}_${m + 1}") * col(s"__do${g * dh + r}"))).reduce(_ + _)
            }.reduce(_ + _))).toMap)
      val x = (m: Int) => col(numCols(m)).cast("double")
      val tB = (b: Int, j: Int) => col(s"__t${b}_$j")
      // ONE grouped pass: every gradient as a per-code partial sum
      val sums =
        (0 until dim).map(j => sum(col(s"__dT0_$j")).as(s"ge_$j")) ++
        (for (m <- 0 until nNum; j <- 0 until dim)
          yield sum(col(s"__dT${m + 1}_$j") * x(m)).as(s"ga_${m}_$j")) ++
        (for (m <- 0 until nNum; j <- 0 until dim)
          yield sum(col(s"__dT${m + 1}_$j")).as(s"gc_${m}_$j")) ++
        (for (g <- 0 until heads; r <- 0 until dh; c2 <- 0 until dim)
          yield sum(col(s"__dq${g}_$r") * tB(0, c2)).as(s"gq_${g}_${r}_$c2")) ++
        (for (g <- 0 until heads; r <- 0 until dh; c2 <- 0 until dim)
          yield sum((0 until k).map(b => col(s"__ds${g}_$b") * tB(b, c2))
            .reduce(_ + _) * col(s"__q${g}_$r") * lit(scaleH))
            .as(s"gk_${g}_${r}_$c2")) ++
        (for (g <- 0 until heads; r <- 0 until dh; c2 <- 0 until dim)
          yield sum((0 until k).map(b => col(s"__al${g}_$b") * tB(b, c2))
            .reduce(_ + _) * col(s"__do${g * dh + r}"))
            .as(s"gv_${g}_${r}_$c2")) ++
        (for (i <- 0 until dim; j <- 0 until dim)
          yield sum(col(s"__dout$i") * col(s"__o$j")).as(s"go_${i}_$j")) ++
        (for (kk <- 0 until nClass; i <- 0 until dim)
          yield sum(col(s"__du$kk") * col(s"__out$i")).as(s"gw_${kk}_$i")) ++
        (0 until nClass).map(kk => sum(col(s"__du$kk")).as(s"gb_$kk")) ++
        Seq(count(lit(1)).cast("double").as("__n"))
      val rows = back.groupBy(col("__code")).agg(sums.head, sums.tail: _*)
        .collect()
      var n = 0.0
      val gE = Array.fill(card, dim)(0.0)
      val gA = Array.fill(nNum, dim)(0.0); val gC = Array.fill(nNum, dim)(0.0)
      val gQ = Array.fill(heads, dh, dim)(0.0)
      val gK = Array.fill(heads, dh, dim)(0.0)
      val gV = Array.fill(heads, dh, dim)(0.0)
      val gO = Array.fill(dim, dim)(0.0)
      val gW = Array.fill(nClass, dim)(0.0); val gB = Array.fill(nClass)(0.0)
      rows.foreach { r =>
        def g(name: String) = r.getDouble(r.fieldIndex(name))
        val cd = r.getInt(r.fieldIndex("__code"))
        n += g("__n")
        (0 until dim).foreach(j => gE(cd)(j) = g(s"ge_$j"))
        for (m <- 0 until nNum; j <- 0 until dim) {
          gA(m)(j) += g(s"ga_${m}_$j"); gC(m)(j) += g(s"gc_${m}_$j")
        }
        for (gg <- 0 until heads; r2 <- 0 until dh; c2 <- 0 until dim) {
          gQ(gg)(r2)(c2) += g(s"gq_${gg}_${r2}_$c2")
          gK(gg)(r2)(c2) += g(s"gk_${gg}_${r2}_$c2")
          gV(gg)(r2)(c2) += g(s"gv_${gg}_${r2}_$c2")
        }
        for (i <- 0 until dim; j <- 0 until dim) gO(i)(j) += g(s"go_${i}_$j")
        for (kk <- 0 until nClass) {
          gB(kk) += g(s"gb_$kk")
          (0 until dim).foreach(i => gW(kk)(i) += g(s"gw_${kk}_$i"))
        }
      }
      require(n > 0, "no row carries a code inside [0, card)")
      for (cd <- 0 until card; j <- 0 until dim)
        e(cd)(j) = e(cd)(j) - lr * (gE(cd)(j) / n)
      for (m <- 0 until nNum; j <- 0 until dim) {
        a(m)(j) = a(m)(j) - lr * (gA(m)(j) / n)
        cc(m)(j) = cc(m)(j) - lr * (gC(m)(j) / n)
      }
      for (gg <- 0 until heads; r2 <- 0 until dh; c2 <- 0 until dim) {
        wq(gg)(r2)(c2) -= lr * (gQ(gg)(r2)(c2) / n)
        wk(gg)(r2)(c2) -= lr * (gK(gg)(r2)(c2) / n)
        wv(gg)(r2)(c2) -= lr * (gV(gg)(r2)(c2) / n)
      }
      for (i <- 0 until dim; j <- 0 until dim)
        wo(i)(j) -= lr * (gO(i)(j) / n)
      for (kk <- 0 until nClass) {
        (0 until dim).foreach(i => wOut(kk)(i) -= lr * (gW(kk)(i) / n))
        bOut(kk) -= lr * (gB(kk) / n)
      }
    }
    TransformerMhaParams(e, a, cc, wq, wk, wv, wo, wOut, bOut)
  }

  /** Mean softmax cross-entropy of [[fitTransformerMhaGD]]'s model — the
    * finite-difference anchor for the full multi-head end-to-end
    * gradient (every block: table, embedders, Q/K/V/O, head). */
  def transformerMhaLogLoss(df: DataFrame, codeCol: String,
      numCols: Seq[String], yCol: String, p: TransformerMhaParams): Double = {
    val spark = df.sparkSession
    import spark.implicits._
    val nClass = p.wOut.length
    val embDf = p.e.zipWithIndex.map { case (row, cd) => (cd, row) }.toSeq
      .toDF("__code", "__emb")
    val joined = df.join(broadcast(embDf),
      col(codeCol).cast("int") === col("__code"))
    val y = col(yCol).cast("int")
    val py = (0 until nClass).map(kk =>
      when(y === kk, col(s"__pr$kk")).otherwise(lit(0.0))).reduce(_ + _)
    transformerMhaForwardStaged(joined, p, numCols)
      .agg(avg(-log(py))).collect()(0).getDouble(0)
  }

  /** One-vs-rest ridge-classifier fit of the [[decodeClasses]] weights:
    * one ridge regression per class against its 0/1 indicator (a standard
    * ridge classifier — argmax of the per-class scores predicts). All
    * classes share the single X'X pass of [[fitLinearDecoders]]. */
  def fitClassDecoders(df: DataFrame, featCol: String, yCol: String, dim: Int,
      classes: Seq[Any], lambda: Double = 0.0): Seq[(Array[Double], Double)] =
    fitLinearDecoders(df, featCol,
      classes.map(c => when(col(yCol) === lit(c), 1.0).otherwise(0.0)), dim, lambda)

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
