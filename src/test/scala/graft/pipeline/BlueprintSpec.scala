package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.EdgeType

class BlueprintSpec extends SparkSpec {
  import spark.implicits._

  // two parents (ids 0,1), three children; child->parent edges
  private def nodes = Map(
    "parent" -> Seq((0L, Array(0.0, 0.0)), (1L, Array(10.0, 10.0))).toDF("id", "feat"),
    "child" -> Seq((0L, Array(2.0, 4.0)), (1L, Array(6.0, 8.0)), (2L, Array(1.0, 1.0)))
      .toDF("id", "feat"))

  private def edges = Map(
    EdgeType("child", "fk", "parent") -> Seq((0L, 0L), (1L, 0L), (2L, 1L)).toDF("src_id", "dst_id"))

  test("one mean-aggregation round combines self and neighbor features") {
    val out = Blueprint.forward(nodes, edges, Blueprint.Config(layers = 1, aggr = "mean"))
    val parent = out("parent").orderBy("id").as[(Long, Seq[Double])].collect()
    // parent 0: msgs mean((2,4),(6,8)) = (4,6); combine: ((0,0)+(4,6))/2 = (2,3)
    assert(parent(0) == ((0L, Seq(2.0, 3.0))))
    // parent 1: msg (1,1); combine ((10,10)+(1,1))/2 = (5.5, 5.5)
    assert(parent(1) == ((1L, Seq(5.5, 5.5))))
    // children receive nothing -> unchanged
    val child = out("child").orderBy("id").as[(Long, Seq[Double])].collect()
    assert(child(0)._2 == Seq(2.0, 4.0))
  }

  test("reverse edges flow information back over two layers") {
    val rev = edges + (EdgeType("parent", "rev_fk", "child") ->
      edges(EdgeType("child", "fk", "parent"))
        .select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
    val out = Blueprint.forward(nodes, rev, Blueprint.Config(layers = 2, aggr = "sum"))
    // after round 1 children got parent features; after round 2 they reflect
    // both directions — just assert shape + change happened
    val child = out("child").orderBy("id").as[(Long, Seq[Double])].collect()
    assert(child.length == 3 && child.forall(_._2.length == 2))
    assert(child(0)._2 != Seq(2.0, 4.0))
  }

  test("pre/post transforms apply per node type") {
    val double2x: Blueprint.NodeTransform =
      df => df.select(col("id"), transform(col("feat"), x => x * 2).as("feat"))
    val out = Blueprint.forward(nodes, Map.empty,
      Blueprint.Config(layers = 1, pre = double2x, post = double2x))
    val p = out("parent").orderBy("id").as[(Long, Seq[Double])].collect()
    assert(p(1)._2 == Seq(40.0, 40.0)) // 10 * 2 (pre) * 2 (post)
  }

  test("linear and class decoders produce scores / argmax predictions") {
    val scored = Blueprint.decodeLinear(nodes("child"), Array(1.0, 0.5), bias = 1.0)
      .orderBy("id").select("score").as[Double].collect()
    assert(scored.toSeq == Seq(2 + 2 + 1.0, 6 + 4 + 1.0, 1 + 0.5 + 1.0))
    val cls = Blueprint.decodeClasses(nodes("child"),
        Seq(Array(1.0, 0.0), Array(0.0, 1.0)))
      .orderBy("id").select("pred").as[Long].collect()
    assert(cls.toSeq == Seq(1L, 1L, 0L)) // feat(1)>feat(0) for children 0,1; tie->first for child 2
  }

  test("fitLinearDecoder: OLS recovers an exact linear relationship") {
    // y = 2*x1 - 3*x2 + 5 exactly -> zero-residual OLS solution
    val pts = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (2.0, 3.0), (4.0, 1.0))
    val df = pts.map { case (x1, x2) => (Array(x1, x2), 2 * x1 - 3 * x2 + 5) }
      .toDF("feat", "y")
    val (w, b) = Blueprint.fitLinearDecoder(df, "feat", "y", dim = 2, lambda = 0.0)
    assert(math.abs(w(0) - 2.0) < 1e-9 && math.abs(w(1) + 3.0) < 1e-9)
    assert(math.abs(b - 5.0) < 1e-9)
    // fitted weights drive decodeLinear to reproduce y
    val scored = Blueprint.decodeLinear(
        df.withColumn("id", monotonically_increasing_id()), w, b)
      .select("score").as[Double].collect().sorted
    val ys = pts.map { case (x1, x2) => 2 * x1 - 3 * x2 + 5 }.sorted
    scored.zip(ys).foreach { case (a, e) => assert(math.abs(a - e) < 1e-9) }
  }

  test("kFoldRidge: each fold's model is fitLinearDecoder on everything OUTSIDE it") {
    // y = 2*x1 - 3*x2 + 5 exactly; folds 0/1/2 by row
    val pts = Seq((0, 0.0, 0.0), (1, 1.0, 0.0), (2, 0.0, 1.0), (0, 2.0, 3.0),
      (1, 4.0, 1.0), (2, 1.0, 2.0), (0, 3.0, 0.5), (1, 0.5, 2.5))
    val df = pts.map { case (f, x1, x2) =>
      (f, Array(x1, x2), 2 * x1 - 3 * x2 + 5) }.toDF("fold", "feat", "y")
    val cv = Blueprint.kFoldRidge(df, "feat", "y", dim = 2, "fold", lambda = 0.5)
      .orderBy("fold").collect()
    assert(cv.length == 3)
    assert(cv.map(_.getLong(cv(0).fieldIndex("n_test"))).sum == pts.length,
      "every row is held out exactly once")
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    cv.foreach { r =>
      val f = r.getInt(0)
      val (w, b) = Blueprint.fitLinearDecoder(
        df.filter(col("fold") =!= f), "feat", "y", dim = 2, lambda = 0.5)
      assert(math.abs(r.getDouble(r.fieldIndex("w_0")) - r4(w(0))) < 2e-4 &&
        math.abs(r.getDouble(r.fieldIndex("w_1")) - r4(w(1))) < 2e-4 &&
        math.abs(r.getDouble(r.fieldIndex("bias")) - r4(b)) < 2e-4,
        s"fold $f leave-out model must match the direct fit on the complement")
    }
  }

  test("kFoldRidge: a fold's own labels cannot leak into its model") {
    val pts = Seq((0, 1.0, 2.0, 3.0), (0, 2.0, 0.0, 1.0), (1, 0.0, 1.0, 4.0),
      (1, 3.0, 1.0, 0.0), (2, 1.0, 1.0, 2.0), (2, 0.5, 2.0, 1.5))
    def frame(poison: Boolean) = pts.map { case (f, x1, x2, y) =>
      (f, Array(x1, x2), if (poison && f == 0) y + 1000.0 else y)
    }.toDF("fold", "feat", "y")
    val clean = Blueprint.kFoldRidge(frame(false), "feat", "y", 2, "fold", 0.5)
      .orderBy("fold").collect()
    val poisoned = Blueprint.kFoldRidge(frame(true), "feat", "y", 2, "fold", 0.5)
      .orderBy("fold").collect()
    def model(r: org.apache.spark.sql.Row) =
      (r.getDouble(r.fieldIndex("w_0")), r.getDouble(r.fieldIndex("w_1")),
        r.getDouble(r.fieldIndex("bias")))
    assert(model(clean(0)) == model(poisoned(0)),
      "fold 0's model is fit WITHOUT fold 0 — corrupting fold 0's labels must not move it")
    assert(model(clean(1)) != model(poisoned(1)),
      "other folds DO train on fold 0, so their models must move")
  }

  test("fitLinearDecoder: ridge shrinks weights but not the intercept path") {
    val pts = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (2.0, 3.0), (4.0, 1.0))
    val df = pts.map { case (x1, x2) => (Array(x1, x2), 2 * x1 - 3 * x2 + 5) }
      .toDF("feat", "y")
    val (w, _) = Blueprint.fitLinearDecoder(df, "feat", "y", dim = 2, lambda = 100.0)
    assert(math.abs(w(0)) < 2.0 && math.abs(w(1)) < 3.0) // shrunk toward 0
  }

  test("fitClassDecoders: one-vs-rest ridge separates linearly-separable classes") {
    // class determined by which feature dominates; well-separated clusters
    val rows = Seq(
      (Array(5.0, 0.0), "x"), (Array(6.0, 1.0), "x"), (Array(4.0, 0.5), "x"),
      (Array(0.0, 5.0), "y"), (Array(1.0, 6.0), "y"), (Array(0.5, 4.0), "y"))
    val df = rows.toDF("feat", "y")
    val classes = Seq("x", "y")
    val fits = Blueprint.fitClassDecoders(df, "feat", "y", dim = 2, classes, lambda = 0.01)
    // argmax of the per-class ridge scores must classify every point right
    val scored = Blueprint.decodeClasses(
        df.withColumn("id", monotonically_increasing_id()),
        fits.map(_._1), fits.map(_._2))
      .select("pred").as[Long].collect()
    val want = rows.map { case (_, c) => classes.indexOf(c).toLong }
    assert(scored.toSeq == want)
    // multi-target fit agrees with fitting each indicator separately
    val single = Blueprint.fitLinearDecoder(
      df.withColumn("ind", when(col("y") === "x", 1.0).otherwise(0.0)),
      "feat", "ind", dim = 2, lambda = 0.01)
    assert(fits.head._1.zip(single._1).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(math.abs(fits.head._2 - single._2) < 1e-12)
  }

  test("attn aggregation: attention round matches scatter-mean for zero queries") {
    // parents have zero feature vectors -> all edge scores 0 -> uniform
    // softmax -> the attention reduce equals the mean reduce
    val mean = Blueprint.forward(nodes, edges, Blueprint.Config(layers = 1, aggr = "mean"))
    val attn = Blueprint.forward(nodes, edges, Blueprint.Config(layers = 1, aggr = "attn"))
    val m = mean("parent").orderBy("id").as[(Long, Seq[Double])].collect()
    val a = attn("parent").orderBy("id").as[(Long, Seq[Double])].collect()
    // parent 0 has feat (0,0): scores are 0 -> attention == mean
    assert(a(0) == m(0))
    // parent 1 has feat (10,10) and a single neighbor: softmax over one
    // message is weight 1 -> same as mean of one
    assert(a(1) == m(1))
  }

  test("edgeAggr overrides the aggregation per edge type") {
    val et = EdgeType("child", "fk", "parent")
    val out = Blueprint.forward(nodes, edges,
      Blueprint.Config(layers = 1, aggr = "mean", edgeAggr = Map(et -> "sum")))
    val p = out("parent").orderBy("id").as[(Long, Seq[Double])].collect()
    // parent 0 under SUM: msgs (2,4)+(6,8) = (8,12); combine ((0,0)+(8,12))/2
    assert(p(0) == ((0L, Seq(4.0, 6.0))))
    // an unlisted edge type would fall back to cfg.aggr (= mean): covered
    // by the first test; here the override changed the result
  }

  test("nodeCombine overrides the combine per destination node type") {
    val replace: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column = (_, msg) => msg
    val out = Blueprint.forward(nodes, edges,
      Blueprint.Config(layers = 1, aggr = "mean",
        nodeCombine = Map("parent" -> replace)))
    val p = out("parent").orderBy("id").as[(Long, Seq[Double])].collect()
    // parent 0 takes the neighbor mean outright: mean((2,4),(6,8)) = (4,6)
    assert(p(0) == ((0L, Seq(4.0, 6.0))))
  }

  test("batch-size heuristic matches the reference formula") {
    assert(Blueprint.batchSizeHeuristic(500) == 16)    // 2^0 < 16 floor
    assert(Blueprint.batchSizeHeuristic(64000) == 128) // 2^round(log2(128))
    assert(Blueprint.batchSizeHeuristic(64000, 3) == 1024)
    assert(Blueprint.batchSizeHeuristic(100000000, 8) == 16384) // cap
  }

  test("fitLogisticGD: steps reduce logistic loss; empty input errors") {
    // linearly separable toy data: y = 1 iff x1 > 3
    val df = Seq((1.0, 1.0, 0.0), (2.0, 2.0, 0.0), (3.0, 1.0, 0.0),
        (4.0, 2.0, 1.0), (5.0, 1.0, 1.0), (6.0, 2.0, 1.0))
      .map { case (a, b, y) => (Array(a, b), y) }.toDF("feat", "y")
    val (w1, b1) = Blueprint.fitLogisticGD(df, "feat", "y", dim = 2,
      steps = 1, lr = 0.5)
    val (w20, b20) = Blueprint.fitLogisticGD(df, "feat", "y", dim = 2,
      steps = 20, lr = 0.5)
    def loss(w: Array[Double], b: Double): Double = {
      // direct logistic loss, driver-side over the 6 rows
      val rows = Seq((1.0, 1.0, 0.0), (2.0, 2.0, 0.0), (3.0, 1.0, 0.0),
        (4.0, 2.0, 1.0), (5.0, 1.0, 1.0), (6.0, 2.0, 1.0))
      rows.map { case (a, c, y) =>
        val m = w(0) * a + w(1) * c + b
        val pr = 1.0 / (1.0 + math.exp(-m))
        -(y * math.log(pr) + (1 - y) * math.log(1 - pr))
      }.sum / rows.length
    }
    assert(loss(w20, b20) < loss(w1, b1), "more GD steps must lower the loss")
    assert(loss(w20, b20) < math.log(2.0), "below the all-0.5 baseline")
    intercept[IllegalArgumentException] {
      Blueprint.fitLogisticGD(df.filter($"y" > 5), "feat", "y", 2, 1, 0.1)
    }
  }

  test("fitMlpGD: analytic gradient matches finite differences; loss falls") {
    // small non-separable data so the hidden layer has something to do
    val data = Seq((0.0, 0.0, 0.0), (0.0, 1.0, 1.0), (1.0, 0.0, 1.0),
      (1.0, 1.0, 0.0), (2.0, 2.0, 0.0), (0.5, 1.5, 1.0))
    val df = data.map { case (a, b, y) => (Array(a, b), y) }.toDF("feat", "y")
    val init = Blueprint.MlpParams(
      Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(0.05, -0.05),
      Array(0.25, -0.35), 0.1)
    def deepCopy(p: Blueprint.MlpParams) = Blueprint.MlpParams(
      p.w1.map(_.clone()), p.b1.clone(), p.w2.clone(), p.b2)
    // one GD step with lr recovers the gradient: g = (init - stepped) / lr
    val lr = 1e-3
    val stepped = Blueprint.fitMlpGD(df, "feat", "y", dim = 2, hidden = 2,
      steps = 1, lr = lr, init = deepCopy(init))
    val gradW00 = (init.w1(0)(0) - stepped.w1(0)(0)) / lr
    val gradV1 = (init.w2(1) - stepped.w2(1)) / lr
    val gradB2 = (init.b2 - stepped.b2) / lr
    // finite differences on the loss surface
    val eps = 1e-5
    def lossWith(mut: Blueprint.MlpParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.mlpLogLoss(df, "feat", "y", p)
    }
    val fdW00 = (lossWith(_.w1(0)(0) += eps) - lossWith(_.w1(0)(0) -= eps)) / (2 * eps)
    val fdV1 = (lossWith(_.w2(1) += eps) - lossWith(_.w2(1) -= eps)) / (2 * eps)
    def lossAt(p: Blueprint.MlpParams) = Blueprint.mlpLogLoss(df, "feat", "y", p)
    val fdB2 = (lossAt(deepCopy(init).copy(b2 = init.b2 + eps)) -
      lossAt(deepCopy(init).copy(b2 = init.b2 - eps))) / (2 * eps)
    assert(math.abs(gradW00 - fdW00) < 1e-4, s"w1 grad $gradW00 vs fd $fdW00")
    assert(math.abs(gradV1 - fdV1) < 1e-4, s"w2 grad $gradV1 vs fd $fdV1")
    assert(math.abs(gradB2 - fdB2) < 1e-4, s"b2 grad $gradB2 vs fd $fdB2")
    // end-to-end: training lowers the loss vs the initial parameters
    val trained = Blueprint.fitMlpGD(df, "feat", "y", dim = 2, hidden = 2,
      steps = 50, lr = 0.5, init = deepCopy(init))
    assert(Blueprint.mlpLogLoss(df, "feat", "y", trained) <
      Blueprint.mlpLogLoss(df, "feat", "y", init))
    // shape validation fails fast
    intercept[IllegalArgumentException] {
      Blueprint.fitMlpGD(df, "feat", "y", dim = 2, hidden = 3, steps = 1,
        lr = 0.1, init = init)
    }
  }

  test("fitGnnGD: gradient flows THROUGH the scatter-sum; loss falls on the FK graph") {
    // parents 1-4; parent 4 is CHILDLESS (aggregates zero messages) and a
    // dangling child (fk=99) reaches nobody — both paths must be inert
    val children = Seq(
      (1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (1L, Array(2.0, 1.0)),
      (2L, Array(1.0, 1.0)),
      (3L, Array(0.5, 2.0)), (3L, Array(1.5, 0.5)),
      (99L, Array(9.0, 9.0))
    ).toDF("fk", "feat")
    val parents = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0), (4L, 0.0))
      .toDF("pid", "y")
    val init = Blueprint.MlpParams(
      Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(0.05, -0.05),
      Array(0.25, -0.35), 0.1)
    def deepCopy(p: Blueprint.MlpParams) = Blueprint.MlpParams(
      p.w1.map(_.clone()), p.b1.clone(), p.w2.clone(), p.b2)
    val lr = 1e-3
    val stepped = Blueprint.fitGnnGD(children, Seq("fk"), "feat",
      parents, Seq("pid"), "y", dim = 2, hidden = 2, steps = 1, lr = lr,
      init = deepCopy(init))
    val eps = 1e-5
    def lossWith(mut: Blueprint.MlpParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.gnnLogLoss(children, Seq("fk"), "feat", parents, Seq("pid"), "y", p)
    }
    // w1 sits UPSTREAM of the aggregation: this finite difference is the
    // proof the adjoint join-back really backprops through the groupBy-sum
    val gradW00 = (init.w1(0)(0) - stepped.w1(0)(0)) / lr
    val fdW00 = (lossWith(_.w1(0)(0) += eps) - lossWith(_.w1(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradW00 - fdW00) < 1e-4, s"w1 grad $gradW00 vs fd $fdW00")
    val gradB10 = (init.b1(0) - stepped.b1(0)) / lr
    val fdB10 = (lossWith(_.b1(0) += eps) - lossWith(_.b1(0) -= eps)) / (2 * eps)
    assert(math.abs(gradB10 - fdB10) < 1e-4, s"b1 grad $gradB10 vs fd $fdB10")
    // readout side too
    val gradV0 = (init.w2(0) - stepped.w2(0)) / lr
    val fdV0 = (lossWith(_.w2(0) += eps) - lossWith(_.w2(0) -= eps)) / (2 * eps)
    assert(math.abs(gradV0 - fdV0) < 1e-4, s"w2 grad $gradV0 vs fd $fdV0")
    // training lowers the loss end to end
    val trained = Blueprint.fitGnnGD(children, Seq("fk"), "feat",
      parents, Seq("pid"), "y", dim = 2, hidden = 2, steps = 60, lr = 0.5,
      init = deepCopy(init))
    assert(Blueprint.gnnLogLoss(children, Seq("fk"), "feat",
        parents, Seq("pid"), "y", trained) <
      Blueprint.gnnLogLoss(children, Seq("fk"), "feat",
        parents, Seq("pid"), "y", init))
    // the per-step checkpoints are released (graft.util.Checkpoints)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Blueprint.fitGnnGD(children, Seq("fk"), "feat", parents, Seq("pid"), "y",
      dim = 2, hidden = 2, steps = 3, lr = 0.1, init = deepCopy(init))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "fitGnnGD must release every per-step checkpoint")
  }

  test("fitHeteroGnnGD: joint training across edge types — gradients of BOTH types match finite differences") {
    // forward type: lineitem-like children (several per parent);
    // reverse type (J5): exactly one "child" per parent with 1-dim feature
    val liChildren = Seq(
      (1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (1L, Array(2.0, 1.0)),
      (2L, Array(1.0, 1.0)),
      (3L, Array(0.5, 2.0)), (3L, Array(1.5, 0.5)),
      (99L, Array(9.0, 9.0)) // dangling: reaches nobody
    ).toDF("fk", "feat")
    val revChildren = Seq(
      (1L, Array(0.7)), (2L, Array(-0.3)), (3L, Array(1.2))
      // parent 4 is childless in BOTH types
    ).toDF("fk", "feat")
    val parents = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0), (4L, 0.0))
      .toDF("pid", "y")
    val groups = Seq(
      Blueprint.EdgeGroup(liChildren, Seq("fk"), "feat", dim = 2),
      Blueprint.EdgeGroup(revChildren, Seq("fk"), "feat", dim = 1))
    val init = Blueprint.HeteroGnnParams(
      Seq(Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(Array(0.2, 0.3))),
      Seq(Array(0.05, -0.05), Array(0.0, 0.1)),
      Array(0.25, -0.35), 0.1)
    def deepCopy(p: Blueprint.HeteroGnnParams) = Blueprint.HeteroGnnParams(
      p.w1.map(_.map(_.clone())), p.b1.map(_.clone()), p.w2.clone(), p.b2)
    val lr = 1e-3
    val stepped = Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
      hidden = 2, steps = 1, lr = lr, init = deepCopy(init))
    val eps = 1e-5
    def lossWith(mut: Blueprint.HeteroGnnParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.heteroGnnLogLoss(groups, parents, Seq("pid"), "y", p)
    }
    // a message weight of EACH type — both adjoint join-backs must be live
    val gradT0 = (init.w1(0)(0)(0) - stepped.w1(0)(0)(0)) / lr
    val fdT0 = (lossWith(_.w1(0)(0)(0) += eps) - lossWith(_.w1(0)(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradT0 - fdT0) < 1e-4, s"type-0 w1 grad $gradT0 vs fd $fdT0")
    val gradT1 = (init.w1(1)(0)(1) - stepped.w1(1)(0)(1)) / lr
    val fdT1 = (lossWith(_.w1(1)(0)(1) += eps) - lossWith(_.w1(1)(0)(1) -= eps)) / (2 * eps)
    assert(math.abs(gradT1 - fdT1) < 1e-4, s"type-1 w1 grad $gradT1 vs fd $fdT1")
    val gradB11 = (init.b1(1)(0) - stepped.b1(1)(0)) / lr
    val fdB11 = (lossWith(_.b1(1)(0) += eps) - lossWith(_.b1(1)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradB11 - fdB11) < 1e-4, s"type-1 b1 grad $gradB11 vs fd $fdB11")
    // the SHARED readout sees the cross-type sum
    val gradV0 = (init.w2(0) - stepped.w2(0)) / lr
    val fdV0 = (lossWith(_.w2(0) += eps) - lossWith(_.w2(0) -= eps)) / (2 * eps)
    assert(math.abs(gradV0 - fdV0) < 1e-4, s"w2 grad $gradV0 vs fd $fdV0")
    // training lowers the loss end to end
    val trained = Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
      hidden = 2, steps = 60, lr = 0.5, init = deepCopy(init))
    assert(Blueprint.heteroGnnLogLoss(groups, parents, Seq("pid"), "y", trained) <
      Blueprint.heteroGnnLogLoss(groups, parents, Seq("pid"), "y", init))
    // per-step checkpoints released
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
      hidden = 2, steps = 2, lr = 0.1, init = deepCopy(init))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "fitHeteroGnnGD must release every per-step checkpoint")
  }

  test("fitHeteroGnnGD aggr=mean: the 1/n adjoint matches finite differences") {
    // unequal child counts (3 vs 1) make the mean scaling observable
    val liChildren = Seq(
      (1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (1L, Array(2.0, 1.0)),
      (2L, Array(1.0, 1.0)),
      (3L, Array(0.5, 2.0)), (3L, Array(1.5, 0.5))
    ).toDF("fk", "feat")
    val revChildren = Seq((1L, Array(0.7)), (2L, Array(-0.3)), (3L, Array(1.2)))
      .toDF("fk", "feat")
    val parents = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0), (4L, 0.0)).toDF("pid", "y")
    val groups = Seq(
      Blueprint.EdgeGroup(liChildren, Seq("fk"), "feat", dim = 2),
      Blueprint.EdgeGroup(revChildren, Seq("fk"), "feat", dim = 1))
    val init = Blueprint.HeteroGnnParams(
      Seq(Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(Array(0.2, 0.3))),
      Seq(Array(0.05, -0.05), Array(0.0, 0.1)),
      Array(0.25, -0.35), 0.1)
    def deepCopy(p: Blueprint.HeteroGnnParams) = Blueprint.HeteroGnnParams(
      p.w1.map(_.map(_.clone())), p.b1.map(_.clone()), p.w2.clone(), p.b2)
    val lr = 1e-3
    val stepped = Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
      hidden = 2, steps = 1, lr = lr, init = deepCopy(init), aggr = "mean")
    val eps = 1e-5
    def lossWith(mut: Blueprint.HeteroGnnParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.heteroGnnLogLoss(groups, parents, Seq("pid"), "y", p, aggr = "mean")
    }
    val gradT0 = (init.w1(0)(0)(0) - stepped.w1(0)(0)(0)) / lr
    val fdT0 = (lossWith(_.w1(0)(0)(0) += eps) - lossWith(_.w1(0)(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradT0 - fdT0) < 1e-4, s"mean type-0 w1 grad $gradT0 vs fd $fdT0")
    val gradT1 = (init.w1(1)(0)(0) - stepped.w1(1)(0)(0)) / lr
    val fdT1 = (lossWith(_.w1(1)(0)(0) += eps) - lossWith(_.w1(1)(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradT1 - fdT1) < 1e-4, s"mean type-1 w1 grad $gradT1 vs fd $fdT1")
    // mean ≠ sum on this fixture (parent 1 has 3 children): the two
    // aggregations must genuinely train different surfaces
    val steppedSum = Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
      hidden = 2, steps = 1, lr = lr, init = deepCopy(init), aggr = "sum")
    assert(math.abs(stepped.w1(0)(0)(0) - steppedSum.w1(0)(0)(0)) > 1e-9)
    intercept[IllegalArgumentException] {
      Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
        hidden = 2, steps = 1, lr = lr, init = deepCopy(init), aggr = "cat")
    }
  }

  test("fitHeteroGnnGD aggr=attn: per-group attention scorers train jointly") {
    val liChildren = Seq(
      (1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (1L, Array(2.0, 1.0)),
      (2L, Array(1.0, 1.0)),
      (3L, Array(0.5, 2.0)), (3L, Array(1.5, 0.5))
    ).toDF("fk", "feat")
    // the reverse-type parent 1 gets TWO children so ITS softmax is
    // non-degenerate too (a single-child group has α = 1 and zero u-grad)
    val revChildren = Seq(
      (1L, Array(0.7)), (1L, Array(-0.4)), (2L, Array(-0.3)), (3L, Array(1.2))
    ).toDF("fk", "feat")
    val parents = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0), (4L, 0.0)).toDF("pid", "y")
    val groups = Seq(
      Blueprint.EdgeGroup(liChildren, Seq("fk"), "feat", dim = 2),
      Blueprint.EdgeGroup(revChildren, Seq("fk"), "feat", dim = 1))
    val init = Blueprint.HeteroGnnParams(
      Seq(Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(Array(0.2, 0.3))),
      Seq(Array(0.05, -0.05), Array(0.0, 0.1)),
      Array(0.25, -0.35), 0.1,
      Seq(Array(0.15, -0.25), Array(0.3)))
    def deepCopy(p: Blueprint.HeteroGnnParams) = Blueprint.HeteroGnnParams(
      p.w1.map(_.map(_.clone())), p.b1.map(_.clone()), p.w2.clone(), p.b2,
      p.u.map(_.clone()))
    val lr = 1e-3
    val stepped = Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
      hidden = 2, steps = 1, lr = lr, init = deepCopy(init), aggr = "attn")
    val eps = 1e-5
    def lossWith(mut: Blueprint.HeteroGnnParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.heteroGnnLogLoss(groups, parents, Seq("pid"), "y", p, aggr = "attn")
    }
    // BOTH groups' attention scorers — the per-type softmax Jacobians
    val gradU0 = (init.u(0)(0) - stepped.u(0)(0)) / lr
    val fdU0 = (lossWith(_.u(0)(0) += eps) - lossWith(_.u(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradU0 - fdU0) < 1e-4, s"type-0 u grad $gradU0 vs fd $fdU0")
    assert(math.abs(fdU0) > 1e-7, "type-0 attention path must be live")
    val gradU1 = (init.u(1)(0) - stepped.u(1)(0)) / lr
    val fdU1 = (lossWith(_.u(1)(0) += eps) - lossWith(_.u(1)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradU1 - fdU1) < 1e-4, s"type-1 u grad $gradU1 vs fd $fdU1")
    assert(math.abs(fdU1) > 1e-7, "type-1 attention path must be live")
    // message weights still correct with α in each type's chain
    val gradW0 = (init.w1(0)(0)(0) - stepped.w1(0)(0)(0)) / lr
    val fdW0 = (lossWith(_.w1(0)(0)(0) += eps) - lossWith(_.w1(0)(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradW0 - fdW0) < 1e-4, s"type-0 w1 grad $gradW0 vs fd $fdW0")
    val gradV = (init.w2(0) - stepped.w2(0)) / lr
    val fdV = (lossWith(_.w2(0) += eps) - lossWith(_.w2(0) -= eps)) / (2 * eps)
    assert(math.abs(gradV - fdV) < 1e-4, s"w2 grad $gradV vs fd $fdV")
    // loss falls; all per-step checkpoints (dst + one ed per group) released
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val trained = Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
      hidden = 2, steps = 40, lr = 0.5, init = deepCopy(init), aggr = "attn")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "fitHeteroGnnGD(attn) must release every per-step checkpoint")
    assert(Blueprint.heteroGnnLogLoss(groups, parents, Seq("pid"), "y",
        trained, aggr = "attn") <
      Blueprint.heteroGnnLogLoss(groups, parents, Seq("pid"), "y",
        init, aggr = "attn"))
    // attn without scorers fails fast
    intercept[IllegalArgumentException] {
      Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
        hidden = 2, steps = 1, lr = lr,
        init = Blueprint.HeteroGnnParams(init.w1, init.b1, init.w2, init.b2),
        aggr = "attn")
    }
  }

  test("fitAttnGnnGD: gradient flows THROUGH the attention weights; loss falls") {
    val children = Seq(
      (1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (1L, Array(2.0, 1.0)),
      (2L, Array(1.0, 1.0)),
      (3L, Array(0.5, 2.0)), (3L, Array(1.5, 0.5)),
      (99L, Array(9.0, 9.0))
    ).toDF("fk", "feat")
    val parents = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0), (4L, 0.0))
      .toDF("pid", "y")
    val init = Blueprint.AttnGnnParams(
      Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(0.05, -0.05),
      Array(0.15, -0.25), Array(0.25, -0.35), 0.1)
    def deepCopy(p: Blueprint.AttnGnnParams) = Blueprint.AttnGnnParams(
      p.w1.map(_.clone()), p.b1.clone(), p.u.clone(), p.w2.clone(), p.b2)
    val lr = 1e-3
    val stepped = Blueprint.fitAttnGnnGD(children, Seq("fk"), "feat",
      parents, Seq("pid"), "y", dim = 2, hidden = 2, steps = 1, lr = lr,
      init = deepCopy(init))
    val eps = 1e-5
    def lossWith(mut: Blueprint.AttnGnnParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.attnGnnLogLoss(children, Seq("fk"), "feat", parents, Seq("pid"), "y", p)
    }
    // the ATTENTION weights: the softmax-Jacobian path dm·α·(m−s)·x
    val gradU0 = (init.u(0) - stepped.u(0)) / lr
    val fdU0 = (lossWith(_.u(0) += eps) - lossWith(_.u(0) -= eps)) / (2 * eps)
    assert(math.abs(gradU0 - fdU0) < 1e-4, s"u0 grad $gradU0 vs fd $fdU0")
    val gradU1 = (init.u(1) - stepped.u(1)) / lr
    val fdU1 = (lossWith(_.u(1) += eps) - lossWith(_.u(1) -= eps)) / (2 * eps)
    assert(math.abs(gradU1 - fdU1) < 1e-4, s"u1 grad $gradU1 vs fd $fdU1")
    // the attention gradient is NOT trivially zero on this data
    assert(math.abs(fdU0) > 1e-6 || math.abs(fdU1) > 1e-6,
      "fixture must exercise the attention path")
    // message weights still correct with α in the chain
    val gradW00 = (init.w1(0)(0) - stepped.w1(0)(0)) / lr
    val fdW00 = (lossWith(_.w1(0)(0) += eps) - lossWith(_.w1(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradW00 - fdW00) < 1e-4, s"w1 grad $gradW00 vs fd $fdW00")
    val gradV1 = (init.w2(1) - stepped.w2(1)) / lr
    val fdV1 = (lossWith(_.w2(1) += eps) - lossWith(_.w2(1) -= eps)) / (2 * eps)
    assert(math.abs(gradV1 - fdV1) < 1e-4, s"w2 grad $gradV1 vs fd $fdV1")
    // training lowers the loss end to end
    val trained = Blueprint.fitAttnGnnGD(children, Seq("fk"), "feat",
      parents, Seq("pid"), "y", dim = 2, hidden = 2, steps = 60, lr = 0.5,
      init = deepCopy(init))
    assert(Blueprint.attnGnnLogLoss(children, Seq("fk"), "feat",
        parents, Seq("pid"), "y", trained) <
      Blueprint.attnGnnLogLoss(children, Seq("fk"), "feat",
        parents, Seq("pid"), "y", init))
    // per-step checkpoints (edge frame AND parent frame) released
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Blueprint.fitAttnGnnGD(children, Seq("fk"), "feat", parents, Seq("pid"), "y",
      dim = 2, hidden = 2, steps = 2, lr = 0.1, init = deepCopy(init))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "fitAttnGnnGD must release every per-step checkpoint")
  }

  // ---- the one-action hetero GD step, against its per-edge definition ----

  // two edge groups into parents 1-4: parent 4 is childless in BOTH
  // groups, parent 2 childless in the second; each group has a dangling
  // child (fk 99 / 77) that reaches nobody; parent 1 has several children
  // of both types so sum, mean and both softmaxes are non-degenerate
  private val heteroRows = Seq(
    (Seq((1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (1L, Array(2.0, 1.0)),
      (2L, Array(1.0, 1.0)), (3L, Array(0.5, 2.0)), (3L, Array(1.5, 0.5)),
      (99L, Array(9.0, 9.0))), 2),
    (Seq((1L, Array(0.7)), (1L, Array(-0.4)), (3L, Array(1.2)), (77L, Array(5.0))), 1))
  private val heteroParents = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0), (4L, 0.0))

  // repartitioned, so the optimizer cannot pre-compute the per-edge
  // projection over a local relation: the plan under test is the real one
  private def heteroGroups(rows: Seq[(Seq[(Long, Array[Double])], Int)]) =
    rows.map { case (r, dim) =>
      Blueprint.EdgeGroup(r.toDF("fk", "feat").repartition(2), Seq("fk"), "feat", dim)
    }

  private def heteroInit(dims: Seq[Int], hidden: Int, seed: Int,
      heads: Int = 1): Blueprint.HeteroGnnParams = {
    val rnd = new scala.util.Random(seed)
    def g(s: Double) = rnd.nextGaussian() * s
    Blueprint.HeteroGnnParams(dims.map(d => Array.fill(d, hidden)(g(0.3))),
      dims.map(_ => Array.fill(hidden)(g(0.1))), Array.fill(heads * hidden)(g(0.5)), 0.1,
      dims.map(d => Array.fill(heads * d)(g(0.3))))
  }

  private def copyHetero(p: Blueprint.HeteroGnnParams) = Blueprint.HeteroGnnParams(
    p.w1.map(_.map(_.clone())), p.b1.map(_.clone()), p.w2.clone(), p.b2,
    Option(p.u).map(_.map(_.clone())).orNull)

  /** One GD step restated on the driver in its per-edge JOIN-BACK form:
    * forward scatter per (parent, type), the residual per parent, then
    * every gradient as a flat sum over child rows joined to their parent.
    * Under attn, head k owns u(t)'s k-th dim values and w2's k-th hidden
    * values; a type's aggregate is the per-head aggregates concatenated. */
  private def joinBackStep(rows: Seq[(Seq[(Long, Array[Double])], Int)],
      parents: Seq[(Long, Double)], p: Blueprint.HeteroGnnParams, aggr: String,
      lr: Double): Blueprint.HeteroGnnParams = {
    val hidden = p.b1.head.length
    val heads = p.w2.length / hidden
    val width = heads * hidden
    val w2 = (k: Int, j: Int) => p.w2(k * hidden + j)
    def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
    // per group, per edge: (fk, x, h, α per head); α = 1 unless attn
    val edges = rows.zipWithIndex.map { case ((r, dim), t) =>
      val alpha = (0 until heads).map { k =>
        val e = r.map { case (_, x) => (0 until dim).map(i => x(i) * p.u(t)(k * dim + i)).sum }
        r.indices.groupBy(q => r(q)._1).values.flatMap { qs =>
          val mx = qs.map(e).max
          val z = qs.map(q => math.exp(e(q) - mx)).sum
          qs.map(q => q -> (if (aggr == "attn") math.exp(e(q) - mx) / z else 1.0))
        }.toMap
      }
      r.indices.map { q =>
        val (fk, x) = r(q)
        (fk, x, Array.tabulate(hidden)(j =>
          sig((0 until dim).map(i => x(i) * p.w1(t)(i)(j)).sum + p.b1(t)(j))),
          Array.tabulate(heads)(k => alpha(k)(q)))
      }
    }
    val count = edges.map(_.groupBy(_._1).map { case (k, es) => k -> es.size })
    val fwd = parents.map { case (pk, y) =>
      val a = edges.indices.map { t =>
        val s = Array.tabulate(width)(kj =>
          edges(t).filter(_._1 == pk).map(e => e._4(kj / hidden) * e._3(kj % hidden)).sum)
        if (aggr == "mean" && count(t).contains(pk)) s.map(_ / count(t)(pk)) else s
      }
      val aT = Array.tabulate(width)(kj => a.map(_(kj)).sum)
      pk -> (a, aT, sig(aT.indices.map(kj => aT(kj) * p.w2(kj)).sum + p.b2) - y)
    }.toMap
    val n = parents.length.toDouble
    val next = rows.zipWithIndex.map { case ((_, dim), t) =>
      val back = edges(t).flatMap(e => fwd.get(e._1).map(f => (e, f)))
      def gsum(f: ((Long, Array[Double], Array[Double], Array[Double]), Double,
          Seq[Double]) => Double) =
        back.map { case (e, (a, _, dm)) =>
          val dmB = if (aggr == "mean") dm / count(t)(e._1) else dm
          val s = (0 until heads).map(k =>
            (0 until hidden).map(j => a(t)(k * hidden + j) * w2(k, j)).sum)
          f(e, dmB, s)
        }.sum
      // the message path mixes the heads' readout slices, α-weighted
      val mix = (e: (Long, Array[Double], Array[Double], Array[Double]), j: Int) =>
        (0 until heads).map(k => w2(k, j) * e._4(k)).sum
      val w1 = Array.tabulate(dim, hidden)((i, j) => p.w1(t)(i)(j) - lr * gsum((e, dm, _) =>
        dm * mix(e, j) * e._3(j) * (1 - e._3(j)) * e._2(i)) / n)
      val b1 = Array.tabulate(hidden)(j => p.b1(t)(j) - lr * gsum((e, dm, _) =>
        dm * mix(e, j) * e._3(j) * (1 - e._3(j))) / n)
      val u = Array.tabulate(heads * dim) { ki =>
        val (k, i) = (ki / dim, ki % dim)
        p.u(t)(ki) - lr * gsum { (e, dm, s) =>
          val m = (0 until hidden).map(j => e._3(j) * w2(k, j)).sum
          dm * e._4(k) * (m - s(k)) * e._2(i)
        } / n
      }
      (w1, b1, u)
    }
    Blueprint.HeteroGnnParams(next.map(_._1), next.map(_._2),
      Array.tabulate(width)(kj => p.w2(kj) - lr * fwd.values.map(f => f._3 * f._2(kj)).sum / n),
      p.b2 - lr * fwd.values.map(_._3).sum / n,
      if (aggr == "attn") next.map(_._3) else null)
  }

  private def flatHetero(p: Blueprint.HeteroGnnParams): Seq[Double] =
    p.w1.flatMap(_.flatMap(_.toSeq)) ++ p.b1.flatMap(_.toSeq) ++ p.w2.toSeq ++ Seq(p.b2) ++
      Option(p.u).toSeq.flatMap(_.flatMap(_.toSeq))

  /** The query executions (actions) `body` runs, and the RDDs it leaves
    * persisted. */
  private def actionsOf(body: => Unit)
      : (Seq[org.apache.spark.sql.execution.QueryExecution], Set[Int]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe)
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    org.apache.spark.sql.GraftListenerProbe.drain(spark)
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.GraftListenerProbe.drain(spark)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    (seen.asScala.toSeq, (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet)
  }

  private def expressionCount(qe: org.apache.spark.sql.execution.QueryExecution): Int =
    qe.optimizedPlan.collectWithSubqueries { case n =>
      n.expressions.map(_.collect { case e => e }.size).sum
    }.sum

  /** One fitHeteroGnnGD step on [[heteroRows]] from `init` equals
    * [[joinBackStep]] to 1e-9 relative, and moves the parameters. */
  private def assertStepIsJoinBack(init: Blueprint.HeteroGnnParams, aggr: String): Unit = {
    val stepped = Blueprint.fitHeteroGnnGD(heteroGroups(heteroRows),
      heteroParents.toDF("pid", "y"), Seq("pid"), "y", hidden = init.b1.head.length,
      steps = 1, lr = 0.5, init = copyHetero(init), aggr = aggr)
    val want = joinBackStep(heteroRows, heteroParents, init, aggr, lr = 0.5)
    val moved = flatHetero(want).zip(flatHetero(init)).count { case (a, b) => a != b }
    assert(moved > 10, s"the step must move the parameters ($moved moved)")
    assert(flatHetero(stepped).length == flatHetero(want).length)
    flatHetero(stepped).zip(flatHetero(want)).zipWithIndex.foreach { case ((a, b), k) =>
      assert(a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)),
        s"parameter $k: $a vs join-back $b")
    }
  }

  /** `body` fails with the feature guard's error for a `dim`-wide column. */
  private def failsFeatureGuard(dim: Int)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains(s"must hold $dim non-NULL values")), e.toString)
  }

  Seq("sum", "mean", "attn").foreach { aggr =>
    test(s"fitHeteroGnnGD aggr=$aggr: one step equals the per-edge join-back definition") {
      assertStepIsJoinBack(heteroInit(Seq(2, 1), hidden = 2, seed = 3), aggr)
    }

    test(s"fitHeteroGnnGD aggr=$aggr: one action per step, nothing persisted, step-stable code, plan size independent of dim x hidden") {
      def run(rows: Seq[(Seq[(Long, Array[Double])], Int)], hidden: Int, steps: Int,
          seed: Int = 5) = {
        val groups = heteroGroups(rows)
        val parents = heteroParents.toDF("pid", "y")
        actionsOf {
          Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y", hidden, steps,
            lr = 0.1, init = heteroInit(rows.map(_._2), hidden, seed), aggr = aggr)
        }
      }
      val (small, leftSmall) = run(heteroRows, hidden = 2, steps = 3)
      assert(small.length == 3, s"3 steps ran ${small.length} actions")
      assert(leftSmall.isEmpty, s"steps left persisted RDDs $leftSmall")
      // parameters enter as referenced literals, never as inlined
      // constants: other parameters reuse the generated classes
      import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val compiled = METRIC_COMPILATION_TIME.getCount
      run(heteroRows, hidden = 2, steps = 2, seed = 6)
      assert(METRIC_COMPILATION_TIME.getCount == compiled,
        "a step at new parameters must not compile new code")
      // the same graph at dim 64 / hidden 32: one literal per parameter
      // vector, so the optimized plan has the same number of expressions
      val rnd = new scala.util.Random(11)
      val wide = heteroRows.map { case (r, _) =>
        (r.map { case (fk, _) => (fk, Array.fill(64)(rnd.nextGaussian())) }, 64)
      }
      val (big, leftBig) = run(wide, hidden = 32, steps = 1)
      assert(big.length == 1 && leftBig.isEmpty)
      assert(expressionCount(big.head) == expressionCount(small.head),
        "plan size must not grow with dim x hidden")
    }

    test(s"fitHeteroGnnGD aggr=$aggr: a dim=64/hidden=32 step matches finite differences") {
      val rnd = new scala.util.Random(17)
      val rows = heteroRows.map { case (r, _) =>
        (r.map { case (fk, _) => (fk, Array.fill(64)(rnd.nextGaussian())) }, 64)
      }
      val groups = heteroGroups(rows)
      val parents = heteroParents.toDF("pid", "y")
      val init = heteroInit(Seq(64, 64), hidden = 32, seed = 19)
      init.w1.foreach(_.foreach(r => r.indices.foreach(j => r(j) *= 0.2)))
      val lr = 1e-3
      val stepped = Blueprint.fitHeteroGnnGD(groups, parents, Seq("pid"), "y",
        hidden = 32, steps = 1, lr = lr, init = copyHetero(init), aggr = aggr)
      val eps = 1e-5
      def lossWith(mut: Blueprint.HeteroGnnParams => Unit): Double = {
        val p = copyHetero(init); mut(p)
        Blueprint.heteroGnnLogLoss(groups, parents, Seq("pid"), "y", p, aggr = aggr)
      }
      type Check = (String, Double, Blueprint.HeteroGnnParams => Unit,
        Blueprint.HeteroGnnParams => Unit)
      val checks: Seq[Check] = Seq[Check](
        ("w1(0)(63)(31)", (init.w1(0)(63)(31) - stepped.w1(0)(63)(31)) / lr,
          _.w1(0)(63)(31) += eps, _.w1(0)(63)(31) -= eps),
        ("w1(1)(5)(7)", (init.w1(1)(5)(7) - stepped.w1(1)(5)(7)) / lr,
          _.w1(1)(5)(7) += eps, _.w1(1)(5)(7) -= eps),
        ("b1(1)(20)", (init.b1(1)(20) - stepped.b1(1)(20)) / lr,
          _.b1(1)(20) += eps, _.b1(1)(20) -= eps),
        ("w2(31)", (init.w2(31) - stepped.w2(31)) / lr, _.w2(31) += eps, _.w2(31) -= eps)) ++
        (if (aggr != "attn") Nil else Seq[Check](
          ("u(0)(40)", (init.u(0)(40) - stepped.u(0)(40)) / lr,
            _.u(0)(40) += eps, _.u(0)(40) -= eps),
          ("u(1)(0)", (init.u(1)(0) - stepped.u(1)(0)) / lr,
            _.u(1)(0) += eps, _.u(1)(0) -= eps)))
      checks.foreach { case (name, analytic, up, down) =>
        val fd = (lossWith(up) - lossWith(down)) / (2 * eps)
        assert(math.abs(fd) > 1e-6, s"$name: fixture gives trivial gradient $fd")
        assert(math.abs(analytic - fd) < 1e-7 + 1e-5 * math.abs(fd),
          s"$name grad $analytic vs fd $fd")
      }
    }
  }

  test("fitHeteroGnnGD: a feature array that is not dim long, or NULL, fails the step") {
    val parents = heteroParents.toDF("pid", "y")
    def fit(bad: Array[Double], aggr: String) = {
      val rows = heteroRows.updated(0, (heteroRows(0)._1 :+ ((2L, bad)), 2))
      Blueprint.fitHeteroGnnGD(heteroGroups(rows), parents, Seq("pid"), "y",
        hidden = 2, steps = 1, lr = 0.1, init = heteroInit(Seq(2, 1), 2, seed = 3),
        aggr = aggr)
    }
    failsFeatureGuard(2)(fit(Array(1.0), "sum"))                 // short: was a NULL, skipped
    failsFeatureGuard(2)(fit(Array(1.0, 2.0, 3.0), "mean"))      // long: the extra was ignored
    failsFeatureGuard(2)(fit(null, "attn"))                      // NULL array
    failsFeatureGuard(2)(Blueprint.gnnLogLoss(
      Seq((1L, Array(1.0, 2.0)), (3L, Array(1.0))).toDF("fk", "feat"), Seq("fk"), "feat",
      parents, Seq("pid"), "y",
      Blueprint.MlpParams(Array.fill(2, 2)(0.1), Array(0.0, 0.0), Array(0.1, 0.2), 0.0)))
    // a well-formed group still fits
    assert(fit(Array(1.0, 2.0), "sum").w2.forall(v => !v.isNaN))
  }

  test("fitHeteroGnnGD aggr=attn: a 2-group x 2-head step equals the per-edge join-back definition") {
    val init = heteroInit(Seq(2, 1), hidden = 2, seed = 3, heads = 2)
    assertStepIsJoinBack(init, "attn")
    // more than one head is attention-only
    Seq("sum", "mean").foreach { aggr =>
      intercept[IllegalArgumentException] {
        Blueprint.fitHeteroGnnGD(heteroGroups(heteroRows), heteroParents.toDF("pid", "y"),
          Seq("pid"), "y", hidden = 2, steps = 1, lr = 0.1, init = copyHetero(init),
          aggr = aggr)
      }
    }
    // each scorer holds heads x dim values
    intercept[IllegalArgumentException] {
      Blueprint.heteroGnnLogLoss(heteroGroups(heteroRows), heteroParents.toDF("pid", "y"),
        Seq("pid"), "y", init.copy(u = Seq(init.u(0), init.u(1).take(1))), aggr = "attn")
    }
  }

  test("fitMhaGnnGD: one action per step, nothing persisted") {
    val children = heteroRows.head._1.toDF("fk", "feat").repartition(2)
    val (actions, left) = actionsOf {
      Blueprint.fitMhaGnnGD(children, Seq("fk"), "feat", heteroParents.toDF("pid", "y"),
        Seq("pid"), "y", dim = 2, hidden = 2, heads = 2, steps = 2, lr = 0.1)
    }
    val ran = actions.length
    assert(ran == 2, s"2 steps ran $ran actions")
    assert(left.isEmpty, s"steps left persisted RDDs $left")
  }

  test("a feature array that is not dim long, or NULL, fails fitMlpGD, mlpLogLoss, fitGnn2GD, gnn2LogLoss and fitMhaGnnGD") {
    val flat = (bad: Array[Double]) =>
      Seq((Array(1.0, 2.0), 1.0), (bad, 0.0)).toDF("feat", "y")
    val mlp = Blueprint.MlpParams(Array.fill(2, 2)(0.1), Array(0.0, 0.0), Array(0.1, 0.2), 0.0)
    val leaves = (bad: Array[Double]) =>
      Seq((10L, Array(1.0, 0.0)), (11L, bad)).toDF("mfk", "feat")
    val mids = (bad: Array[Double]) =>
      Seq((10L, 1L, Array(0.3)), (11L, 2L, bad)).toDF("mid", "rfk", "feat")
    val roots = Seq((1L, 1.0), (2L, 0.0)).toDF("rid", "y")
    val gnn2 = Blueprint.Gnn2Params(Array.fill(2, 2)(0.1), Array(0.0, 0.0),
      Array.fill(3, 2)(0.1), Array(0.0, 0.0), Array(0.1, 0.2), 0.0)
    val fitGnn2 = (l: Array[Double], m: Array[Double]) => Blueprint.fitGnn2GD(
      leaves(l), Seq("mfk"), "feat", mids(m), Seq("mid"), Seq("rfk"), "feat", midDim = 1,
      roots, Seq("rid"), "y", leafDim = 2, h1 = 2, h2 = 2, steps = 1, lr = 0.1)
    val gnn2Loss = (l: Array[Double], m: Array[Double]) => Blueprint.gnn2LogLoss(
      leaves(l), Seq("mfk"), "feat", mids(m), Seq("mid"), Seq("rfk"), "feat", midDim = 1,
      roots, Seq("rid"), "y", gnn2)
    val (okLeaf, okMid) = (Array(1.0, 1.0), Array(0.5))
    // (entry point, the column's width, a run on a malformed row)
    val cases: Seq[(String, Int, () => Any)] = Seq(
      ("fitMlpGD short", 2, () => Blueprint.fitMlpGD(flat(Array(1.0)), "feat", "y",
        dim = 2, hidden = 2, steps = 1, lr = 0.1)),
      ("fitMlpGD long", 2, () => Blueprint.fitMlpGD(flat(Array(1.0, 2.0, 3.0)), "feat", "y",
        dim = 2, hidden = 2, steps = 1, lr = 0.1)),
      ("mlpLogLoss NULL", 2, () => Blueprint.mlpLogLoss(flat(null), "feat", "y", mlp)),
      ("fitGnn2GD leaf short", 2, () => fitGnn2(Array(1.0), okMid)),
      ("fitGnn2GD mid long", 1, () => fitGnn2(okLeaf, Array(0.5, 0.5))),
      ("gnn2LogLoss leaf NULL", 2, () => gnn2Loss(null, okMid)),
      ("gnn2LogLoss mid empty", 1, () => gnn2Loss(okLeaf, Array.empty[Double])),
      ("fitMhaGnnGD short", 2, () => Blueprint.fitMhaGnnGD(
        Seq((1L, Array(1.0, 0.0)), (1L, Array(1.0))).toDF("fk", "feat"), Seq("fk"), "feat",
        heteroParents.toDF("pid", "y"), Seq("pid"), "y",
        dim = 2, hidden = 2, heads = 2, steps = 1, lr = 0.1)))
    cases.foreach { case (name, dim, run) =>
      withClue(s"$name: ")(failsFeatureGuard(dim)(run()))
    }
    // well-formed rows still run
    assert(!gnn2Loss(okLeaf, okMid).isNaN)
    assert(fitGnn2(okLeaf, okMid).v.forall(v => !v.isNaN))
  }

  test("fitGnn2GD: gradient flows through TWO nested scatter-sums; loss falls") {
    // roots 1-3 (root 3 midless); mid 20 leafless; dangling leaf fk=99
    val leaves = Seq(
      (10L, Array(1.0, 0.0)), (10L, Array(0.0, 1.0)), (10L, Array(2.0, 1.0)),
      (11L, Array(1.0, 1.0)),
      (21L, Array(0.5, 2.0)),
      (99L, Array(9.0, 9.0))
    ).toDF("mfk", "feat")
    val mids = Seq(
      (10L, 1L, Array(0.3)), (11L, 1L, Array(-0.2)),
      (20L, 2L, Array(0.8)), (21L, 2L, Array(0.1))
    ).toDF("mid", "rfk", "feat")
    val roots = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0)).toDF("rid", "y")
    val init = Blueprint.Gnn2Params(
      Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(0.05, -0.05),
      Array(Array(0.2, -0.3), Array(-0.25, 0.15), Array(0.1, 0.35)), // d2 = h1+midDim = 3
      Array(0.02, -0.02),
      Array(0.25, -0.35), 0.1)
    def deepCopy(p: Blueprint.Gnn2Params) = Blueprint.Gnn2Params(
      p.w1.map(_.clone()), p.b1.clone(), p.w2.map(_.clone()), p.b2.clone(),
      p.v.clone(), p.vb)
    val lr = 1e-3
    val stepped = Blueprint.fitGnn2GD(leaves, Seq("mfk"), "feat",
      mids, Seq("mid"), Seq("rfk"), "feat", midDim = 1,
      roots, Seq("rid"), "y", leafDim = 2, h1 = 2, h2 = 2, steps = 1, lr = lr,
      init = deepCopy(init))
    val eps = 1e-5
    def lossWith(mut: Blueprint.Gnn2Params => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.gnn2LogLoss(leaves, Seq("mfk"), "feat",
        mids, Seq("mid"), Seq("rfk"), "feat", midDim = 1,
        roots, Seq("rid"), "y", p)
    }
    // the LEVEL-1 message weight sits under BOTH aggregations — this
    // finite difference is the two-nested-join-backs proof
    val gradW1 = (init.w1(0)(0) - stepped.w1(0)(0)) / lr
    val fdW1 = (lossWith(_.w1(0)(0) += eps) - lossWith(_.w1(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradW1 - fdW1) < 1e-4, s"w1 grad $gradW1 vs fd $fdW1")
    assert(math.abs(fdW1) > 1e-7, "fixture must exercise the depth-2 path")
    val gradB1 = (init.b1(1) - stepped.b1(1)) / lr
    val fdB1 = (lossWith(_.b1(1) += eps) - lossWith(_.b1(1) -= eps)) / (2 * eps)
    assert(math.abs(gradB1 - fdB1) < 1e-4, s"b1 grad $gradB1 vs fd $fdB1")
    // level-2 weights over BOTH input halves: the aggregate (A) row and
    // the mid's own feature (z) row
    val gradW2A = (init.w2(0)(0) - stepped.w2(0)(0)) / lr
    val fdW2A = (lossWith(_.w2(0)(0) += eps) - lossWith(_.w2(0)(0) -= eps)) / (2 * eps)
    assert(math.abs(gradW2A - fdW2A) < 1e-4, s"w2[A] grad $gradW2A vs fd $fdW2A")
    val gradW2Z = (init.w2(2)(1) - stepped.w2(2)(1)) / lr
    val fdW2Z = (lossWith(_.w2(2)(1) += eps) - lossWith(_.w2(2)(1) -= eps)) / (2 * eps)
    assert(math.abs(gradW2Z - fdW2Z) < 1e-4, s"w2[z] grad $gradW2Z vs fd $fdW2Z")
    val gradV = (init.v(0) - stepped.v(0)) / lr
    val fdV = (lossWith(_.v(0) += eps) - lossWith(_.v(0) -= eps)) / (2 * eps)
    assert(math.abs(gradV - fdV) < 1e-4, s"v grad $gradV vs fd $fdV")
    // training lowers the loss end to end
    val trained = Blueprint.fitGnn2GD(leaves, Seq("mfk"), "feat",
      mids, Seq("mid"), Seq("rfk"), "feat", midDim = 1,
      roots, Seq("rid"), "y", leafDim = 2, h1 = 2, h2 = 2, steps = 60, lr = 0.5,
      init = deepCopy(init))
    assert(Blueprint.gnn2LogLoss(leaves, Seq("mfk"), "feat",
        mids, Seq("mid"), Seq("rfk"), "feat", 1, roots, Seq("rid"), "y", trained) <
      Blueprint.gnn2LogLoss(leaves, Seq("mfk"), "feat",
        mids, Seq("mid"), Seq("rfk"), "feat", 1, roots, Seq("rid"), "y", init))
    // both per-step checkpoints (mid and root frames) released
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Blueprint.fitGnn2GD(leaves, Seq("mfk"), "feat",
      mids, Seq("mid"), Seq("rfk"), "feat", midDim = 1,
      roots, Seq("rid"), "y", leafDim = 2, h1 = 2, h2 = 2, steps = 2, lr = 0.1,
      init = deepCopy(init))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "fitGnn2GD must release every per-step checkpoint")
  }

  test("fitEmbeddingGD: gradient flows through the table lookup; loss falls") {
    // codes 0-2 trainable; code 7 is outside card=3 and must be inert
    // (dropped by the lookup join, the dangling-FK convention)
    val data = Seq((0, Array(1.0), 0.0), (0, Array(2.0), 1.0),
      (1, Array(0.5), 1.0), (1, Array(1.5), 1.0),
      (2, Array(3.0), 0.0), (2, Array(0.0), 0.0), (7, Array(9.0), 1.0))
    val df = data.toDF("code", "feat", "y")
    val init = Blueprint.embInit(card = 3, dim = 2, nFeat = 1)
    def deepCopy(p: Blueprint.EmbParams) = Blueprint.EmbParams(
      p.e.map(_.clone()), p.w.clone(), p.u.clone(), p.b)
    // one GD step with tiny lr recovers the gradient: g = (init - stepped)/lr
    val lr = 1e-3
    val stepped = Blueprint.fitEmbeddingGD(df, "code", "feat", "y",
      card = 3, dim = 2, nFeat = 1, steps = 1, lr = lr, init = deepCopy(init))
    val gradE10 = (init.e(1)(0) - stepped.e(1)(0)) / lr
    val gradW1 = (init.w(1) - stepped.w(1)) / lr
    val gradU0 = (init.u(0) - stepped.u(0)) / lr
    val gradB = (init.b - stepped.b) / lr
    val eps = 1e-5
    def lossWith(mut: Blueprint.EmbParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.embeddingLogLoss(df, "code", "feat", "y", p)
    }
    val fdE10 = (lossWith(_.e(1)(0) += eps) - lossWith(_.e(1)(0) -= eps)) / (2 * eps)
    val fdW1 = (lossWith(_.w(1) += eps) - lossWith(_.w(1) -= eps)) / (2 * eps)
    val fdU0 = (lossWith(_.u(0) += eps) - lossWith(_.u(0) -= eps)) / (2 * eps)
    def lossAt(p: Blueprint.EmbParams) =
      Blueprint.embeddingLogLoss(df, "code", "feat", "y", p)
    val fdB = (lossAt(deepCopy(init).copy(b = init.b + eps)) -
      lossAt(deepCopy(init).copy(b = init.b - eps))) / (2 * eps)
    assert(math.abs(gradE10 - fdE10) < 1e-4, s"E[1][0] grad $gradE10 vs fd $fdE10")
    assert(math.abs(gradW1 - fdW1) < 1e-4, s"w grad $gradW1 vs fd $fdW1")
    assert(math.abs(gradU0 - fdU0) < 1e-4, s"u grad $gradU0 vs fd $fdU0")
    assert(math.abs(gradB - fdB) < 1e-4, s"b grad $gradB vs fd $fdB")
    // training lowers the loss vs the initial parameters
    val trained = Blueprint.fitEmbeddingGD(df, "code", "feat", "y",
      card = 3, dim = 2, nFeat = 1, steps = 50, lr = 0.5, init = deepCopy(init))
    assert(Blueprint.embeddingLogLoss(df, "code", "feat", "y", trained) <
      Blueprint.embeddingLogLoss(df, "code", "feat", "y", init))
    // pure CatEmbedder path (nFeat = 0, no feature column) also descends
    val pure = Blueprint.fitEmbeddingGD(df, "code", null, "y",
      card = 3, dim = 2, nFeat = 0, steps = 20, lr = 0.5)
    assert(Blueprint.embeddingLogLoss(df, "code", null, "y", pure) <
      Blueprint.embeddingLogLoss(df, "code", null, "y",
        Blueprint.embInit(3, 2, 0)))
    // shape validation fails fast
    intercept[IllegalArgumentException] {
      Blueprint.fitEmbeddingGD(df, "code", "feat", "y", card = 3, dim = 3,
        nFeat = 1, steps = 1, lr = 0.1, init = init)
    }
  }

  test("columnSelfAttention: matches the hand-computed k×k softmax row") {
    val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0)))
      .toDF("t0", "t1", "t2")
    val out = Blueprint.columnSelfAttention(
      Seq(col("t0"), col("t1"), col("t2")), dim = 2)
    val row = df.select(out.flatten.zipWithIndex.map {
      case (c, ix) => c.as(s"o$ix")
    }: _*).collect()(0)
    // the same arithmetic computed by hand (plain softmax, scale 1/√2)
    val x = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0))
    val sc = 1.0 / math.sqrt(2.0)
    def att(a: Int, i: Int): Double = {
      val e = (0 until 3).map(b =>
        math.exp((0 until 2).map(j => x(a)(j) * x(b)(j)).sum * sc))
      (0 until 3).map(b => e(b) / e.sum * x(b)(i)).sum
    }
    for (a <- 0 until 3; i <- 0 until 2)
      assert(math.abs(row.getDouble(a * 2 + i) - att(a, i)) < 1e-12,
        s"token $a component $i")
    // attention weights sum to 1, so each attended vector is a convex
    // combination of the tokens: components stay inside [0, 1] here
    (0 until 6).foreach(ix => assert(row.getDouble(ix) >= 0.0 &&
      row.getDouble(ix) <= 1.0))
    intercept[IllegalArgumentException] {
      Blueprint.columnSelfAttention(Seq.empty, dim = 2)
    }
  }

  test("columnSelfAttention: stable softmax survives ±50-magnitude tokens") {
    // pre-stabilization this overflowed: scores reach 50·50·2/√2 ≈ 3536,
    // exp(3536) = Inf and the softmax went NaN. The max-subtract keeps
    // every exponent ≤ 0 and the output a convex combination of tokens.
    val df = Seq((Array(50.0, -50.0), Array(-50.0, 50.0), Array(25.0, 25.0)))
      .toDF("t0", "t1", "t2")
    val out = Blueprint.columnSelfAttention(
      Seq(col("t0"), col("t1"), col("t2")), dim = 2)
    val row = df.select(out.flatten.zipWithIndex.map {
      case (c, ix) => c.as(s"o$ix")
    }: _*).collect()(0)
    (0 until 6).foreach { ix =>
      val v = row.getDouble(ix)
      assert(!v.isNaN && !v.isInfinite, s"component $ix overflowed: $v")
      assert(v >= -50.0 && v <= 50.0, s"component $ix outside the token hull: $v")
    }
    // at this magnitude the softmax is saturated: token 0 attends ~only
    // itself (its self-score dwarfs the cross scores)
    assert(math.abs(row.getDouble(0) - 50.0) < 1e-9)
    assert(math.abs(row.getDouble(1) + 50.0) < 1e-9)
  }

  test("mhaForwardStaged at heads=1 identity projections reduces to columnSelfAttention token 0") {
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(0.5, -0.5), Array(0.25, 0.75))).toDF("t0", "t1")
    val eye = Array.tabulate(2, 2)((i, j) => if (i == j) 1.0 else 0.0)
    val p = Blueprint.MhaParams(Array(eye.map(_.clone())),
      Array(eye.map(_.clone())), Array(eye.map(_.clone())),
      eye.map(_.clone()), Array(0.0, 0.0), 0.0)
    val staged = Blueprint.mhaForwardStaged(df, Seq("t0", "t1"), p)
      .select(col("__out0"), col("__out1")).collect()
    val csa = Blueprint.columnSelfAttention(Seq(col("t0"), col("t1")), dim = 2)(0)
    val direct = df.select(csa(0).as("a"), csa(1).as("b")).collect()
    staged.zip(direct).foreach { case (s, d) =>
      assert(math.abs(s.getDouble(0) - d.getDouble(0)) < 1e-12)
      assert(math.abs(s.getDouble(1) - d.getDouble(1)) < 1e-12)
    }
  }

  test("fitMhaGnnGD: per-head score gradients match finite differences; heads=1 reproduces fitAttnGnnGD") {
    val children = Seq(
      (1L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)), (1L, Array(2.0, 1.0)),
      (2L, Array(1.0, 1.0)),
      (3L, Array(0.5, 2.0)), (3L, Array(1.5, 0.5)),
      (99L, Array(9.0, 9.0))
    ).toDF("fk", "feat")
    val parents = Seq((1L, 1.0), (2L, 0.0), (3L, 1.0), (4L, 0.0))
      .toDF("pid", "y")
    val init = Blueprint.MhaGnnParams(
      Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(0.05, -0.05),
      Array(Array(0.05, 0.1), Array(-0.1, 0.15)),
      Array(Array(0.25, -0.35), Array(0.2, 0.1)), 0.1)
    def deepCopy(p: Blueprint.MhaGnnParams) = Blueprint.MhaGnnParams(
      p.w1.map(_.clone()), p.b1.clone(), p.u.map(_.clone()),
      p.w2.map(_.clone()), p.b2)
    val lr = 1e-3
    val stepped = Blueprint.fitMhaGnnGD(children, Seq("fk"), "feat",
      parents, Seq("pid"), "y", dim = 2, hidden = 2, heads = 2, steps = 1,
      lr = lr, init = deepCopy(init))
    val eps = 1e-5
    def lossWith(mut: Blueprint.MhaGnnParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.mhaGnnLogLoss(children, Seq("fk"), "feat",
        parents, Seq("pid"), "y", p)
    }
    def check(label: String, grad: Double, plus: Blueprint.MhaGnnParams => Unit,
        minus: Blueprint.MhaGnnParams => Unit): Unit = {
      val fd = (lossWith(plus) - lossWith(minus)) / (2 * eps)
      assert(math.abs(grad - fd) < 1e-4, s"$label grad $grad vs fd $fd")
    }
    // EACH head's score vector and readout slice — per-head paths are
    // independent, so a head-index slip hides unless both are checked
    for (g <- 0 until 2; i <- 0 until 2) {
      check(s"u($g)($i)", (init.u(g)(i) - stepped.u(g)(i)) / lr,
        _.u(g)(i) += eps, _.u(g)(i) -= eps)
      check(s"w2($g)($i)", (init.w2(g)(i) - stepped.w2(g)(i)) / lr,
        _.w2(g)(i) += eps, _.w2(g)(i) -= eps)
    }
    // the shared message net accumulates over both heads
    check("w1(0)(0)", (init.w1(0)(0) - stepped.w1(0)(0)) / lr,
      _.w1(0)(0) += eps, _.w1(0)(0) -= eps)
    check("b1(1)", (init.b1(1) - stepped.b1(1)) / lr,
      _.b1(1) += eps, _.b1(1) -= eps)
    // heads=1 is exactly fitAttnGnnGD (same data, same init, same steps)
    val single = Blueprint.MhaGnnParams(
      Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(0.05, -0.05),
      Array(Array(0.05, 0.1)), Array(Array(0.25, -0.35)), 0.1)
    val attnInit = Blueprint.AttnGnnParams(
      Array(Array(0.3, -0.2), Array(-0.1, 0.4)), Array(0.05, -0.05),
      Array(0.05, 0.1), Array(0.25, -0.35), 0.1)
    val viaMha = Blueprint.fitMhaGnnGD(children, Seq("fk"), "feat",
      parents, Seq("pid"), "y", dim = 2, hidden = 2, heads = 1, steps = 2,
      lr = 0.1, init = single)
    val viaAttn = Blueprint.fitAttnGnnGD(children, Seq("fk"), "feat",
      parents, Seq("pid"), "y", dim = 2, hidden = 2, steps = 2,
      lr = 0.1, init = attnInit)
    for (i <- 0 until 2; j <- 0 until 2)
      assert(math.abs(viaMha.w1(i)(j) - viaAttn.w1(i)(j)) < 1e-12)
    (0 until 2).foreach { i =>
      assert(math.abs(viaMha.u(0)(i) - viaAttn.u(i)) < 1e-12)
      assert(math.abs(viaMha.w2(0)(i) - viaAttn.w2(i)) < 1e-12)
    }
    assert(math.abs(viaMha.b2 - viaAttn.b2) < 1e-12)
    // training lowers the loss end to end
    val trained = Blueprint.fitMhaGnnGD(children, Seq("fk"), "feat",
      parents, Seq("pid"), "y", dim = 2, hidden = 2, heads = 2, steps = 60,
      lr = 0.5, init = deepCopy(init))
    assert(Blueprint.mhaGnnLogLoss(children, Seq("fk"), "feat",
        parents, Seq("pid"), "y", trained) <
      Blueprint.mhaGnnLogLoss(children, Seq("fk"), "feat",
        parents, Seq("pid"), "y", init))
  }

  test("fitTransformerMhaGD: end-to-end gradient through table, embedders, Q/K/V/O and head matches finite differences") {
    val data = Seq(
      (0, 0.2, 0), (0, 0.8, 1), (1, 0.5, 0), (1, 0.1, 1),
      (2, 0.9, 0), (2, 0.3, 1), (0, 0.6, 0), (7, 0.5, 1)) // code 7 dangles
    val df = data.toDF("code", "x1", "y")
    val init = Blueprint.transformerMhaInit(card = 3, dim = 2, nNum = 1,
      nClass = 2, heads = 2)
    def deepCopy(p: Blueprint.TransformerMhaParams) =
      Blueprint.TransformerMhaParams(p.e.map(_.clone()), p.a.map(_.clone()),
        p.c.map(_.clone()), p.wq.map(_.map(_.clone())),
        p.wk.map(_.map(_.clone())), p.wv.map(_.map(_.clone())),
        p.wo.map(_.clone()), p.wOut.map(_.clone()), p.bOut.clone())
    val lr = 1e-3
    val stepped = Blueprint.fitTransformerMhaGD(df, "code", Seq("x1"), "y",
      card = 3, dim = 2, nClass = 2, heads = 2, steps = 1, lr = lr,
      init = deepCopy(init))
    val eps = 1e-5
    def lossWith(mut: Blueprint.TransformerMhaParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.transformerMhaLogLoss(df, "code", Seq("x1"), "y", p)
    }
    def check(label: String, grad: Double,
        plus: Blueprint.TransformerMhaParams => Unit,
        minus: Blueprint.TransformerMhaParams => Unit): Unit = {
      val fd = (lossWith(plus) - lossWith(minus)) / (2 * eps)
      assert(math.abs(grad - fd) < 1e-4, s"$label grad $grad vs fd $fd")
    }
    // the embedding table rides query+key+value paths through the learned
    // projections — the hardest composite gradient in the engine
    for (cd <- 0 until 3; j <- 0 until 2)
      check(s"e($cd)($j)", (init.e(cd)(j) - stepped.e(cd)(j)) / lr,
        _.e(cd)(j) += eps, _.e(cd)(j) -= eps)
    // numeric embedder (key+value paths), both heads' projections, out
    // projection, head
    check("a(0)(1)", (init.a(0)(1) - stepped.a(0)(1)) / lr,
      _.a(0)(1) += eps, _.a(0)(1) -= eps)
    check("c(0)(0)", (init.c(0)(0) - stepped.c(0)(0)) / lr,
      _.c(0)(0) += eps, _.c(0)(0) -= eps)
    for (g <- 0 until 2; c2 <- 0 until 2) {
      check(s"wq($g)(0)($c2)", (init.wq(g)(0)(c2) - stepped.wq(g)(0)(c2)) / lr,
        _.wq(g)(0)(c2) += eps, _.wq(g)(0)(c2) -= eps)
      check(s"wk($g)(0)($c2)", (init.wk(g)(0)(c2) - stepped.wk(g)(0)(c2)) / lr,
        _.wk(g)(0)(c2) += eps, _.wk(g)(0)(c2) -= eps)
      check(s"wv($g)(0)($c2)", (init.wv(g)(0)(c2) - stepped.wv(g)(0)(c2)) / lr,
        _.wv(g)(0)(c2) += eps, _.wv(g)(0)(c2) -= eps)
    }
    for (i <- 0 until 2; j <- 0 until 2)
      check(s"wo($i)($j)", (init.wo(i)(j) - stepped.wo(i)(j)) / lr,
        _.wo(i)(j) += eps, _.wo(i)(j) -= eps)
    check("wOut(1)(0)", (init.wOut(1)(0) - stepped.wOut(1)(0)) / lr,
      _.wOut(1)(0) += eps, _.wOut(1)(0) -= eps)
    check("bOut(0)", (init.bOut(0) - stepped.bOut(0)) / lr,
      _.bOut(0) += eps, _.bOut(0) -= eps)
    // training lowers the loss; the dangling code contributed nothing
    val trained = Blueprint.fitTransformerMhaGD(df, "code", Seq("x1"), "y",
      card = 3, dim = 2, nClass = 2, heads = 2, steps = 40, lr = 0.5,
      init = deepCopy(init))
    assert(Blueprint.transformerMhaLogLoss(df, "code", Seq("x1"), "y", trained) <
      Blueprint.transformerMhaLogLoss(df, "code", Seq("x1"), "y", init))
    val without = Blueprint.fitTransformerMhaGD(
      df.filter(col("code") < 3), "code", Seq("x1"), "y",
      card = 3, dim = 2, nClass = 2, heads = 2, steps = 1, lr = lr,
      init = deepCopy(init))
    for (cd <- 0 until 3; j <- 0 until 2)
      assert(math.abs(stepped.e(cd)(j) - without.e(cd)(j)) < 1e-15,
        "the dangling code must drop out of the lookup join entirely")
  }

  test("dbTransformerForward: layer 2 depends on layer 1 cross-table state; childless and dangling rows are inert") {
    val wOut = Array(Array(1.0, -1.0), Array(-0.5, 0.5))
    val bOut = Array(0.05, -0.05)
    def run(child: org.apache.spark.sql.DataFrame,
        parent: org.apache.spark.sql.DataFrame, layers: Int) =
      Blueprint.dbTransformerForward(child, "fk", Seq("t0", "t1"),
          parent, "pid", Seq("t0", "t1"), dim = 2, layers = layers,
          wOut = wOut, bOut = bOut)
        .orderBy("__key").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // two parents with IDENTICAL tokens; only their children differ —
    // any difference in output can only arrive through the cross pass
    val parents = Seq(
      (1L, Array(0.3, -0.2), Array(0.1, 0.4)),
      (2L, Array(0.3, -0.2), Array(0.1, 0.4)),
      (3L, Array(0.3, -0.2), Array(0.1, 0.4))) // childless
      .toDF("pid", "t0", "t1")
    val children = Seq(
      (1L, Array(1.0, 0.0), Array(0.2, 0.2)),
      (1L, Array(0.0, 1.0), Array(0.1, -0.1)),
      (2L, Array(-0.8, 0.4), Array(0.5, 0.0)),
      (99L, Array(9.0, 9.0), Array(9.0, 9.0))) // dangling FK
      .toDF("fk", "t0", "t1")
    val two = run(children, parents, layers = 2)
    assert(two.keySet == Set(1L, 2L, 3L), "every parent emits one row")
    assert(math.abs(two(1L) - two(2L)) > 1e-6,
      "identical parent tokens, different children => different output (cross-table state flows)")
    // layer 2 re-attends the layer-1 cross-table state: one layer differs
    val one = run(children, parents, layers = 1)
    assert(math.abs(one(1L) - two(1L)) > 1e-6, "stacking changes the target state")
    // the childless parent must agree between a run WITH and WITHOUT other
    // children present only through its own (empty) neighborhood: its
    // 2-layer output equals that of a clone graph with no children at all
    val noChildren = Seq((3L, Array(0.0, 0.0), Array(0.0, 0.0)))
      .toDF("fk", "t0", "t1").filter(col("fk") < 0)
    val isolated = run(noChildren, parents.filter(col("pid") === 3L), layers = 2)
    assert(math.abs(two(3L) - isolated(3L)) < 1e-12,
      "childless parent aggregates a zero message regardless of the rest of the graph")
    // probabilities form a distribution
    assert(two.values.forall(p => p > 0 && p < 1))
  }

  test("fitMhaGD: every projection's gradient matches finite differences, per head; loss falls") {
    val data = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0), 0.0),
      (Array(0.5, 0.5), Array(1.0, 0.0), 1.0),
      (Array(0.2, 0.8), Array(0.3, 0.1), 1.0),
      (Array(0.9, 0.1), Array(0.4, 0.6), 0.0),
      (Array(0.1, 0.7), Array(0.8, 0.2), 1.0))
    val df = data.toDF("t0", "t1", "y")
    val toks = Seq("t0", "t1")
    val init = Blueprint.mhaInit(dim = 2, heads = 2)
    def deepCopy(p: Blueprint.MhaParams) = Blueprint.MhaParams(
      p.wq.map(_.map(_.clone())), p.wk.map(_.map(_.clone())),
      p.wv.map(_.map(_.clone())), p.wo.map(_.clone()), p.w.clone(), p.b)
    val lr = 1e-3
    val stepped = Blueprint.fitMhaGD(df, toks, "y", dim = 2, heads = 2,
      steps = 1, lr = lr, init = deepCopy(init))
    val eps = 1e-5
    def lossWith(mut: Blueprint.MhaParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.mhaLogLoss(df, toks, "y", p)
    }
    def check(label: String, grad: Double, plus: Blueprint.MhaParams => Unit,
        minus: Blueprint.MhaParams => Unit): Unit = {
      val fd = (lossWith(plus) - lossWith(minus)) / (2 * eps)
      assert(math.abs(grad - fd) < 1e-4, s"$label grad $grad vs fd $fd")
    }
    // every projection matrix, BOTH heads (the per-head paths are
    // independent — a sign slip in one head's slice hides in the other)
    for (g <- 0 until 2; c <- 0 until 2) {
      check(s"wq($g)(0)($c)", (init.wq(g)(0)(c) - stepped.wq(g)(0)(c)) / lr,
        _.wq(g)(0)(c) += eps, _.wq(g)(0)(c) -= eps)
      check(s"wk($g)(0)($c)", (init.wk(g)(0)(c) - stepped.wk(g)(0)(c)) / lr,
        _.wk(g)(0)(c) += eps, _.wk(g)(0)(c) -= eps)
      check(s"wv($g)(0)($c)", (init.wv(g)(0)(c) - stepped.wv(g)(0)(c)) / lr,
        _.wv(g)(0)(c) += eps, _.wv(g)(0)(c) -= eps)
    }
    for (i <- 0 until 2; j <- 0 until 2)
      check(s"wo($i)($j)", (init.wo(i)(j) - stepped.wo(i)(j)) / lr,
        _.wo(i)(j) += eps, _.wo(i)(j) -= eps)
    check("w(0)", (init.w(0) - stepped.w(0)) / lr, _.w(0) += eps, _.w(0) -= eps)
    check("w(1)", (init.w(1) - stepped.w(1)) / lr, _.w(1) += eps, _.w(1) -= eps)
    val gradB = (init.b - stepped.b) / lr
    val fdBias = (Blueprint.mhaLogLoss(df, toks, "y",
        deepCopy(init).copy(b = init.b + eps)) -
      Blueprint.mhaLogLoss(df, toks, "y",
        deepCopy(init).copy(b = init.b - eps))) / (2 * eps)
    assert(math.abs(gradB - fdBias) < 1e-4, s"b grad $gradB vs fd $fdBias")
    // training lowers the loss end to end
    val trained = Blueprint.fitMhaGD(df, toks, "y", dim = 2, heads = 2,
      steps = 60, lr = 0.5, init = deepCopy(init))
    assert(Blueprint.mhaLogLoss(df, toks, "y", trained) <
      Blueprint.mhaLogLoss(df, toks, "y", init))
    // dim must split into heads
    intercept[IllegalArgumentException] {
      Blueprint.fitMhaGD(df, toks, "y", dim = 3, heads = 2, steps = 1, lr = 0.1)
    }
  }

  test("fitCrossAttnGD: gradient flows through the row-local softmax; loss falls") {
    val data = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0), 0.0),
      (Array(0.5, 0.5), Array(1.0, 0.0), 1.0),
      (Array(0.2, 0.8), Array(0.3, 0.1), 1.0),
      (Array(0.9, 0.1), Array(0.4, 0.6), 0.0))
    val df = data.toDF("t1", "t2", "y")
    val toks = Seq("t1", "t2")
    val init = Blueprint.crossAttnInit(2)
    def deepCopy(p: Blueprint.CrossAttnParams) =
      Blueprint.CrossAttnParams(p.q.clone(), p.w.clone(), p.b)
    val lr = 1e-3
    val stepped = Blueprint.fitCrossAttnGD(df, toks, "y", dim = 2,
      steps = 1, lr = lr, init = deepCopy(init))
    val gradQ0 = (init.q(0) - stepped.q(0)) / lr
    val gradW1 = (init.w(1) - stepped.w(1)) / lr
    val gradB = (init.b - stepped.b) / lr
    val eps = 1e-5
    def lossWith(mut: Blueprint.CrossAttnParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.crossAttnLogLoss(df, toks, "y", p)
    }
    val fdQ0 = (lossWith(_.q(0) += eps) - lossWith(_.q(0) -= eps)) / (2 * eps)
    val fdW1 = (lossWith(_.w(1) += eps) - lossWith(_.w(1) -= eps)) / (2 * eps)
    def lossAt(p: Blueprint.CrossAttnParams) =
      Blueprint.crossAttnLogLoss(df, toks, "y", p)
    val fdB = (lossAt(deepCopy(init).copy(b = init.b + eps)) -
      lossAt(deepCopy(init).copy(b = init.b - eps))) / (2 * eps)
    // the q gradient must be genuinely nonzero — a flat softmax or a
    // dropped Jacobian term would zero it silently
    assert(math.abs(fdQ0) > 1e-4, s"test fixture gives trivial q gradient $fdQ0")
    assert(math.abs(gradQ0 - fdQ0) < 1e-4, s"q grad $gradQ0 vs fd $fdQ0")
    assert(math.abs(gradW1 - fdW1) < 1e-4, s"w grad $gradW1 vs fd $fdW1")
    assert(math.abs(gradB - fdB) < 1e-4, s"b grad $gradB vs fd $fdB")
    val trained = Blueprint.fitCrossAttnGD(df, toks, "y", dim = 2,
      steps = 60, lr = 0.5, init = deepCopy(init))
    assert(Blueprint.crossAttnLogLoss(df, toks, "y", trained) <
      Blueprint.crossAttnLogLoss(df, toks, "y", init))
    intercept[IllegalArgumentException] {
      Blueprint.fitCrossAttnGD(df, toks, "y", dim = 3, steps = 1, lr = 0.1,
        init = init)
    }
  }

  test("fitTransformerGD: end-to-end gradient (table, embedders, head) matches finite differences; loss falls") {
    // codes 0-2; two numeric columns; 2 classes; code 9 dangles (inert)
    val data = Seq((0, 0.2, 0.7, 0), (0, 0.9, 0.1, 1), (1, 0.4, 0.4, 1),
      (1, 0.8, 0.6, 0), (2, 0.1, 0.9, 1), (2, 0.5, 0.3, 0), (9, 9.0, 9.0, 1))
    val df = data.toDF("code", "x1", "x2", "y")
    val nums = Seq("x1", "x2")
    val init = Blueprint.transformerInit(card = 3, dim = 2, nNum = 2, nClass = 2)
    def deepCopy(p: Blueprint.TransformerParams) = Blueprint.TransformerParams(
      p.e.map(_.clone()), p.a.map(_.clone()), p.c.map(_.clone()),
      p.wOut.map(_.clone()), p.bOut.clone())
    val lr = 1e-3
    val stepped = Blueprint.fitTransformerGD(df, "code", nums, "y",
      card = 3, dim = 2, nClass = 2, steps = 1, lr = lr, init = deepCopy(init))
    val eps = 1e-5
    def lossWith(mut: Blueprint.TransformerParams => Unit): Double = {
      val p = deepCopy(init); mut(p)
      Blueprint.transformerLogLoss(df, "code", nums, "y", p)
    }
    // the embedding gradient exercises ALL THREE attention paths at once
    // (token 0 is every score's query, its own key, and a value) — the
    // single strongest check on the Jacobian derivation
    val checks: Seq[(String, Double, Blueprint.TransformerParams => Unit,
        Blueprint.TransformerParams => Unit)] = Seq(
      ("e(1)(0)", (init.e(1)(0) - stepped.e(1)(0)) / lr,
        p => p.e(1)(0) += eps, p => p.e(1)(0) -= eps),
      ("e(0)(1)", (init.e(0)(1) - stepped.e(0)(1)) / lr,
        p => p.e(0)(1) += eps, p => p.e(0)(1) -= eps),
      ("a(0)(1)", (init.a(0)(1) - stepped.a(0)(1)) / lr,
        p => p.a(0)(1) += eps, p => p.a(0)(1) -= eps),
      ("c(1)(0)", (init.c(1)(0) - stepped.c(1)(0)) / lr,
        p => p.c(1)(0) += eps, p => p.c(1)(0) -= eps),
      ("wOut(1)(0)", (init.wOut(1)(0) - stepped.wOut(1)(0)) / lr,
        p => p.wOut(1)(0) += eps, p => p.wOut(1)(0) -= eps),
      ("bOut(0)", (init.bOut(0) - stepped.bOut(0)) / lr,
        p => p.bOut(0) += eps, p => p.bOut(0) -= eps))
    checks.foreach { case (name, analytic, up, down) =>
      val fd = (lossWith(up) - lossWith(down)) / (2 * eps)
      assert(math.abs(fd) > 1e-5, s"$name: fixture gives trivial gradient $fd")
      assert(math.abs(analytic - fd) < 1e-4, s"$name grad $analytic vs fd $fd")
    }
    // training lowers the loss
    val trained = Blueprint.fitTransformerGD(df, "code", nums, "y",
      card = 3, dim = 2, nClass = 2, steps = 50, lr = 0.5, init = deepCopy(init))
    assert(Blueprint.transformerLogLoss(df, "code", nums, "y", trained) <
      Blueprint.transformerLogLoss(df, "code", nums, "y", init))
    intercept[IllegalArgumentException] {
      Blueprint.fitTransformerGD(df, "code", nums, "y", card = 2, dim = 2,
        nClass = 2, steps = 1, lr = 0.1, init = init)
    }
  }

  test("metrics: accuracy and regression suite") {
    val df = Seq((1, 1, 2.0, 2.5), (0, 1, 4.0, 3.5), (1, 1, 6.0, 6.0))
      .toDF("pred", "y", "yhat", "ytrue")
    assert(Metrics.accuracy(df, "pred", "y").collect()(0).getDouble(0) == 2.0 / 3.0)
    val r = Metrics.regression(df, "yhat", "ytrue").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0 / 3.0) < 1e-12)                    // mae
    assert(math.abs(r.getDouble(1) - (0.25 + 0.25 + 0.0) / 3.0) < 1e-12)   // mse
  }
}
