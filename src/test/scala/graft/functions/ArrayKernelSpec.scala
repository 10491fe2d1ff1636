package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.ArrayKernel._

class ArrayKernelSpec extends SparkSpec {
  import spark.implicits._

  // two rows of a 2-head × 3-token × 2-wide tensor `t`, a 2 × 2 `q` and a
  // 2 × 3 `s`, all flat; the weights a 2 × 2 × 3 cube
  private val w = Array.tabulate(2, 2, 3)((g, r, c) => 0.1 * (g + 1) - 0.07 * r * c + 0.3 * c)
  private val rowsIn = Seq(
    (Array.tabulate(12)(i => 0.25 * i - 1.0), Array(0.5, -1.5, 2.0, 0.25),
      Array(0.1, 2.0, -0.3, 1.0, 1.0, -4.0)),
    (Array.tabulate(12)(i => math.sin(i + 1.0)), Array(-0.2, 0.7, 1.1, -0.9),
      Array(3.0, 3.0, 0.0, -1.0, 0.5, 0.25)))
  // repartitioned, so the optimizer cannot evaluate the kernels over a
  // local relation itself: the plan under test is the real one
  private def frame: DataFrame = rowsIn.toDF("t", "q", "s").repartition(1)

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
  private def softmaxOf(v: Seq[Double], stable: Boolean) = {
    val m = if (stable) v.max else 0.0
    val e = v.map(x => StrictMath.exp(x - m))
    val z = e.foldLeft(0.0)(_ + _)
    e.map(_ / z)
  }

  /** Each kernel column next to its driver-side definition, per row. */
  private def cases(df: DataFrame): Seq[(String, Seq[Seq[Double]], Seq[Seq[Double]])] = {
    val (t, q, s) = (Tensor(col("t"), Seq(2, 3, 2)), Tensor(col("q"), Seq(2, 2)),
      Tensor(col("s"), Seq(2, 3)))
    val x = Tensor(col("x"), Seq(3))
    val got = df.withColumn("x", slice(col("t"), 1, 3)).select(col("t"),
      matVec(cube(w, 2, 3), x).c, matVec(t, q).c, vecMat(s, t).c, scale(q, s).c,
      plus(q, scale(q, scalar(lit(-2.0)))).c, minus(s, s).c, softmax(s).c,
      stableSoftmax(s).c, softmaxBack(softmax(s), s).c, transpose(t).c).collect()
      .map(r => r.getSeq[Double](0) -> r).toMap
    rowsIn.flatMap { case (tv, qv, sv) =>
      val r = got(tv.toSeq)
      val tt = tv.toSeq.grouped(2).toSeq.grouped(3).toSeq // 2 × 3 × 2
      val (qq, ss) = (qv.toSeq.grouped(2).toSeq, sv.toSeq.grouped(3).toSeq)
      val want = Seq(
        "matvec broadcast" -> w.toSeq.flatMap(_.map(row => dot(row.toSeq, tv.take(3).toSeq))),
        "matvec batched" -> (0 until 2).flatMap(g => tt(g).map(dot(_, qq(g)))),
        "vecmat batched" -> (0 until 2).flatMap(g =>
          (0 until 2).map(j => dot(ss(g), tt(g).map(_(j))))),
        "scale left-aligned" -> (0 until 2).flatMap(g => ss(g).flatMap(c => qq(g).map(c * _))),
        "plus" -> qv.toSeq.map(v => v + -2.0 * v),
        "minus" -> sv.toSeq.map(v => v - v),
        "softmax" -> ss.flatMap(softmaxOf(_, stable = false)),
        "stable softmax" -> ss.flatMap(softmaxOf(_, stable = true)),
        "softmax back" -> ss.flatMap { v =>
          val al = softmaxOf(v, stable = false); val d = dot(al, v); al.zip(v).map { case (a, b) => a * (b - d) }
        },
        "transpose" -> (0 until 3).flatMap(b => (0 until 2).flatMap(g => tt(g)(b))))
      want.zipWithIndex.map { case ((name, v), i) => (name, Seq(r.getSeq[Double](i + 1)), Seq(v)) }
    }
  }

  test("every kernel equals its definition bit for bit, generated and interpreted") {
    def check(): Unit = cases(frame).foreach { case (name, got, want) =>
      assert(got == want, s"$name")
    }
    check()
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      check()
    }
  }

  test("a NULL input or element gives NULL; a row of another length fails") {
    val df = Seq[(Option[Seq[Option[Double]]], Double)](
      (Some(Seq(Some(1.0), Some(2.0))), 2.0), (None, 2.0), (Some(Seq(Some(1.0), None)), 2.0),
      (Some(Seq(Some(1.0), Some(2.0), Some(3.0))), 2.0)).toDF("v", "c")
    val v = Tensor(col("v"), Seq(2))
    val out = df.limit(3).repartition(1).select(scale(v, scalar(col("c"))).c).collect()
    assert(out(0).getSeq[Double](0) == Seq(2.0, 4.0) && out(1).isNullAt(0) && out(2).isNullAt(0))
    val e = intercept[Exception](df.repartition(1).select(scale(v, scalar(col("c"))).c).collect())
    assert(e.getMessage.contains("holds 3 values"))
  }

  test("shapes are checked when the plan is built, and a kernel stays in whole-stage codegen") {
    val m = Tensor(col("t"), Seq(3, 4))
    intercept[IllegalArgumentException](matVec(m, Tensor(col("q"), Seq(3))))
    // batch axes align from the left: 2 × 3 scalars cannot scale a 3 × 4 batch
    intercept[IllegalArgumentException](scale(m, Tensor(col("s"), Seq(2, 3))))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = frame.select(matVec(Tensor(col("t"), Seq(6, 2)), Tensor(col("q"), Seq(2))).c)
      // the "*(n)" prefix marks a whole-stage codegen stage in the plan string
      assert(df.queryExecution.executedPlan.toString.matches("(?s).*\\*\\(\\d\\) Project \\[graft_matvec.*"))
      assert(df.count() == 2)
    }
  }
}
