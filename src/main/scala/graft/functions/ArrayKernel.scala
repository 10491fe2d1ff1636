package graft.functions

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{array_repeat, concat, flatten, slice, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Small dense linear algebra on `array<double>` columns as a native
  * Catalyst expression. Each input is a tensor stored flat and row-major,
  * its shape fixed when the plan is built ([[ArrayKernel.Tensor]]); a
  * scalar is a `double` column. Unlike the same math written with
  * `transform`/`zip_with` (higher-order functions, which are
  * `CodegenFallback` and run each lambda interpreted over boxed values),
  * a kernel stays inside whole-stage codegen and runs one loop per row
  * over primitive arrays, allocating only its flat result.
  *
  * Each [[ArrayKernel.Op]] has a core rank per input; the leading axes of
  * an input beyond its core are batch axes. Batch axes align from the
  * LEFT: the output has the longest input's batch axes, and an input whose
  * batch axes are a shorter prefix of them is reused across the rest. So
  * `matVec(m: H×d×D, v: D)` gives H×d (one matrix per head, one vector),
  * and `scale(q: H×d, c: H×K)` gives H×K×d (`c(g)(b)·q(g)`). Shapes are
  * checked when the plan is built; a row whose array has another length
  * fails the query.
  *
  * Every sum folds left to right from 0.0 like [[DotProduct]], `exp` is
  * `StrictMath.exp` like Spark's `exp`, so results equal the same
  * arithmetic written as column expressions bit for bit. A NULL input or
  * a NULL element makes the result NULL. Foldable inputs (parameter
  * literals) are read once per expression instance, not once per row. */
private[graft] case class ArrayKernel(op: ArrayKernel.Op, shapes: Seq[Seq[Int]],
    children: Seq[Expression]) extends Expression {
  import ArrayKernel._

  @transient private lazy val layout: Layout = Layout(op, shapes)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.length == shapes.length && children.zip(shapes).forall {
      case (c, s) => c.dataType match {
        case DoubleType               => s.isEmpty
        case ArrayType(DoubleType, _) => s.nonEmpty
        case _                        => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName takes a double for each empty shape " +
      s"and an array<double> for each other, got shapes ${shapes.mkString(", ")} and types " +
      children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"graft_${op.name}"

  /** The foldable inputs, read once; NULL where an input varies per row. */
  @transient private lazy val constants: Array[Array[Double]] =
    children.map(c => if (c.foldable) read(c.eval().asInstanceOf[AnyRef], true) else null).toArray

  /** Per input, whether its type allows a NULL element. */
  @transient private lazy val mayHoldNull: Array[Boolean] = children.map(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => false
  }).toArray

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input).asInstanceOf[AnyRef]).toArray
    if (args.contains(null)) null else compute(args)
  }

  /** The kernel over one row's non-NULL inputs (a boxed double for a
    * scalar, `ArrayData` otherwise); NULL when an element is NULL. */
  def compute(args: Array[AnyRef]): ArrayData = {
    val l = layout
    val x = new Array[Array[Double]](args.length)
    var i = 0
    while (i < args.length) {
      x(i) = if (constants(i) != null) constants(i) else read(args(i), mayHoldNull(i))
      if (x(i) == null) return null
      if (x(i).length != l.length(i)) throw new IllegalArgumentException(
        s"$prettyName: input $i holds ${x(i).length} values, its shape ${shapes(i)} needs " +
          l.length(i))
      i += 1
    }
    val out = new Array[Double](l.batch * l.outSize)
    val at = new Array[Int](x.length)
    var k = 0
    while (k < l.batch) {
      i = 0
      while (i < x.length) { at(i) = k / l.div(i) * l.size(i); i += 1 }
      op.run(x, at, l.core, out, k * l.outSize)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this)
    val args = children.map(_.genCode(ctx))
    val boxed = args.zip(children).map { case (a, c) =>
      if (c.dataType == DoubleType) s"java.lang.Double.valueOf(${a.value})" else s"${a.value}"
    }
    val anyNull = args.map(a => s"${a.isNull}").mkString(" || ")
    ev.copy(code = args.map(_.code).foldLeft(EmptyBlock: Block)(_ + _) + code"""
      boolean ${ev.isNull} = $anyNull;
      ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.compute(new Object[] {${boxed.mkString(", ")}});
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArrayKernel = copy(children = newChildren)
}

private[graft] object ArrayKernel {

  /** A flat `array<double>` column holding a row-major tensor of `shape`;
    * a `double` column when `shape` is empty. */
  final case class Tensor(c: Column, shape: Seq[Int]) {
    private def rowSize: Int = shape.tail.product

    /** Row `i` along the first axis (element `i` of a vector). */
    def apply(i: Int): Tensor =
      if (shape.length == 1) Tensor(c(i), Nil) else rows(i, 1).as(shape.tail)

    /** `n` rows from row `from` along the first axis. */
    def rows(from: Int, n: Int): Tensor =
      Tensor(slice(c, from * rowSize + 1, n * rowSize), n +: shape.tail)

    /** The same values under another shape of the same size. */
    def as(s: Seq[Int]): Tensor = {
      require(s.product == shape.product, s"cannot view $shape as $s")
      Tensor(c, s)
    }

    /** `n` copies stacked along a new first axis. */
    def repeat(n: Int): Tensor = Tensor(flatten(array_repeat(c, n)), n +: shape)
  }

  /** Tensors stacked along their first axis. */
  def stack(ts: Tensor*): Tensor = {
    require(ts.map(_.shape.tail).distinct.length == 1, s"cannot stack ${ts.map(_.shape)}")
    Tensor(concat(ts.map(_.c): _*), ts.map(_.shape.head).sum +: ts.head.shape.tail)
  }

  def scalar(c: Column): Tensor = Tensor(c, Nil)
  def vector(v: Array[Double]): Tensor = Tensor(typedLit(v), Seq(v.length))

  /** A literal matrix of `m.length` rows of `cols` values. */
  def matrix(m: Array[Array[Double]], cols: Int): Tensor = {
    require(m.forall(_.length == cols), s"matrix rows must hold $cols values")
    Tensor(typedLit(m.flatten), Seq(m.length, cols))
  }

  /** A literal of `c.length` matrices, each `rows` × `cols`. */
  def cube(c: Array[Array[Array[Double]]], rows: Int, cols: Int): Tensor = {
    require(c.forall(m => m.length == rows && m.forall(_.length == cols)),
      s"cube blocks must be $rows × $cols")
    Tensor(typedLit(c.flatten.flatten), Seq(c.length, rows, cols))
  }

  /** `m·v`: each row of `m` dotted with `v`. */
  def matVec(m: Tensor, v: Tensor): Tensor = kernel(MatVec, m, v)
  /** `vᵀ·m`: `Σ_r v_r·m_r`, each column summed over the rows in order. */
  def vecMat(v: Tensor, m: Tensor): Tensor = kernel(VecMat, v, m)
  /** `c·v` for a scalar `c`. */
  def scale(v: Tensor, c: Tensor): Tensor = kernel(Scale, v, c)
  def plus(a: Tensor, b: Tensor): Tensor = kernel(Plus, a, b)
  def minus(a: Tensor, b: Tensor): Tensor = kernel(Minus, a, b)
  /** `exp(s_b) / Σ_c exp(s_c)`. */
  def softmax(s: Tensor): Tensor = kernel(Softmax(stable = false), s)
  /** `exp(s_b − M) / Σ_c exp(s_c − M)`, `M` the max of `s` (Spark's
    * `array_max` order): the same softmax, safe from `exp` overflow. */
  def stableSoftmax(s: Tensor): Tensor = kernel(Softmax(stable = true), s)
  /** The backward of a softmax `α` from its adjoint `dα`:
    * `ds_b = α_b·(dα_b − Σ_c α_c·dα_c)`. */
  def softmaxBack(al: Tensor, dal: Tensor): Tensor = kernel(SoftmaxBack, al, dal)
  /** The two leading axes swapped: `t(i)(j)` moves to `(j)(i)`. */
  def transpose(t: Tensor): Tensor = kernel(Transpose, t)

  private def kernel(op: Op, args: Tensor*): Tensor = {
    val shapes = args.map(_.shape)
    Tensor(GraftExprBridge.column(ArrayKernel(op, shapes,
      args.map(a => GraftExprBridge.expression(a.c)))), Layout(op, shapes).outShape)
  }

  /** Where each input's core block sits for each of the `batch` core
    * evaluations: input i's block k starts at `k / div(i) · size(i)`. */
  private final case class Layout(batch: Int, div: Array[Int], size: Array[Int],
      length: Array[Int], core: Array[Array[Int]], outSize: Int, outShape: Seq[Int])

  private object Layout {
    def apply(op: Op, shapes: Seq[Seq[Int]]): Layout = {
      require(shapes.length == op.arity, s"${op.name} takes ${op.arity} inputs")
      val ranks = op.coreRanks(shapes)
      require(shapes.zip(ranks).forall { case (s, r) => r <= s.length },
        s"${op.name}: shapes ${shapes.mkString(", ")} lack core ranks ${ranks.mkString(", ")}")
      val core = shapes.zip(ranks).map { case (s, r) => s.takeRight(r) }
      val batches = shapes.zip(ranks).map { case (s, r) => s.dropRight(r) }
      val b = batches.maxBy(_.length)
      require(batches.forall(b.startsWith(_)),
        s"${op.name}: batch axes ${batches.mkString(", ")} do not align from the left")
      val out = op.outShape(core)
      Layout(b.product, batches.map(x => b.drop(x.length).product).toArray,
        core.map(_.product).toArray, shapes.map(_.product).toArray,
        core.map(_.toArray).toArray, out.product, b ++ out)
    }
  }

  /** A kernel over core blocks: `coreRanks` gives each input's core rank
    * from the full shapes, `outShape` the core result's shape from the
    * core shapes (failing on a mismatch), and `run` writes the core result
    * for the inputs' blocks at offsets `at` into `out` at `o`. */
  sealed abstract class Op(val name: String, val arity: Int) extends Serializable {
    def coreRanks(shapes: Seq[Seq[Int]]): Seq[Int]
    def outShape(core: Seq[Seq[Int]]): Seq[Int]
    def run(x: Array[Array[Double]], at: Array[Int], core: Array[Array[Int]],
        out: Array[Double], o: Int): Unit
  }

  private abstract class Fixed(name: String, ranks: Int*) extends Op(name, ranks.length) {
    def coreRanks(shapes: Seq[Seq[Int]]): Seq[Int] = ranks
  }

  private def agree(name: String, a: Int, b: Int): Unit =
    require(a == b, s"$name: lengths $a and $b differ")

  private case object MatVec extends Fixed("matvec", 2, 1) {
    def outShape(core: Seq[Seq[Int]]): Seq[Int] = {
      agree(name, core(0)(1), core(1)(0)); Seq(core(0)(0))
    }
    def run(x: Array[Array[Double]], at: Array[Int], core: Array[Array[Int]],
        out: Array[Double], o: Int): Unit = {
      val (m, v, rows, cols) = (x(0), x(1), core(0)(0), core(0)(1))
      var r = 0
      while (r < rows) {
        val row = at(0) + r * cols
        var s = 0.0
        var j = 0
        while (j < cols) { s += m(row + j) * v(at(1) + j); j += 1 }
        out(o + r) = s
        r += 1
      }
    }
  }

  private case object VecMat extends Fixed("vecmat", 1, 2) {
    def outShape(core: Seq[Seq[Int]]): Seq[Int] = {
      agree(name, core(0)(0), core(1)(0)); Seq(core(1)(1))
    }
    def run(x: Array[Array[Double]], at: Array[Int], core: Array[Array[Int]],
        out: Array[Double], o: Int): Unit = {
      val (v, m, rows, cols) = (x(0), x(1), core(1)(0), core(1)(1))
      var r = 0
      while (r < rows) {
        val (vr, row) = (v(at(0) + r), at(1) + r * cols)
        var j = 0
        while (j < cols) { out(o + j) += vr * m(row + j); j += 1 }
        r += 1
      }
    }
  }

  private case object Scale extends Fixed("scale", 1, 0) {
    def outShape(core: Seq[Seq[Int]]): Seq[Int] = core(0)
    def run(x: Array[Array[Double]], at: Array[Int], core: Array[Array[Int]],
        out: Array[Double], o: Int): Unit = {
      val c = x(1)(at(1))
      var i = 0
      while (i < core(0)(0)) { out(o + i) = c * x(0)(at(0) + i); i += 1 }
    }
  }

  private abstract class Elementwise(name: String) extends Fixed(name, 1, 1) {
    def f(a: Double, b: Double): Double
    def outShape(core: Seq[Seq[Int]]): Seq[Int] = { agree(name, core(0)(0), core(1)(0)); core(0) }
    def run(x: Array[Array[Double]], at: Array[Int], core: Array[Array[Int]],
        out: Array[Double], o: Int): Unit = {
      var i = 0
      while (i < core(0)(0)) { out(o + i) = f(x(0)(at(0) + i), x(1)(at(1) + i)); i += 1 }
    }
  }
  private case object Plus extends Elementwise("plus") { def f(a: Double, b: Double) = a + b }
  private case object Minus extends Elementwise("minus") { def f(a: Double, b: Double) = a - b }

  private final case class Softmax(stable: Boolean)
      extends Fixed(if (stable) "stable_softmax" else "softmax", 1) {
    def outShape(core: Seq[Seq[Int]]): Seq[Int] = core(0)
    def run(x: Array[Array[Double]], at: Array[Int], core: Array[Array[Int]],
        out: Array[Double], o: Int): Unit = {
      val (s, a, n) = (x(0), at(0), core(0)(0))
      var mx = 0.0
      var i = 0
      if (stable && n > 0) {
        mx = s(a)
        i = 1
        while (i < n) { if (SQLOrderingUtil.compareDoubles(s(a + i), mx) > 0) mx = s(a + i); i += 1 }
      }
      var z = 0.0
      i = 0
      while (i < n) {
        out(o + i) = StrictMath.exp(if (stable) s(a + i) - mx else s(a + i))
        z += out(o + i)
        i += 1
      }
      i = 0
      while (i < n) { out(o + i) = out(o + i) / z; i += 1 }
    }
  }

  private case object SoftmaxBack extends Fixed("softmax_back", 1, 1) {
    def outShape(core: Seq[Seq[Int]]): Seq[Int] = { agree(name, core(0)(0), core(1)(0)); core(0) }
    def run(x: Array[Array[Double]], at: Array[Int], core: Array[Array[Int]],
        out: Array[Double], o: Int): Unit = {
      val (al, dal, n) = (x(0), x(1), core(0)(0))
      var s = 0.0
      var i = 0
      while (i < n) { s += al(at(0) + i) * dal(at(1) + i); i += 1 }
      i = 0
      while (i < n) { out(o + i) = al(at(0) + i) * (dal(at(1) + i) - s); i += 1 }
    }
  }

  private case object Transpose extends Op("transpose", 1) {
    def coreRanks(shapes: Seq[Seq[Int]]): Seq[Int] = {
      require(shapes.head.length >= 2, s"$name needs two axes, got ${shapes.head}")
      Seq(shapes.head.length)
    }
    def outShape(core: Seq[Seq[Int]]): Seq[Int] = {
      val s = core.head; s(1) +: s(0) +: s.drop(2)
    }
    def run(x: Array[Array[Double]], at: Array[Int], core: Array[Array[Int]],
        out: Array[Double], o: Int): Unit = {
      val (a, b, rest) = (core(0)(0), core(0)(1), core(0).drop(2).product)
      var i = 0
      while (i < a) {
        var j = 0
        while (j < b) {
          System.arraycopy(x(0), at(0) + (i * b + j) * rest, out, o + (j * a + i) * rest, rest)
          j += 1
        }
        i += 1
      }
    }
  }

  /** A row's input as a primitive array; NULL when an element is NULL
    * (looked for only when `mayHoldNull`). */
  private def read(v: AnyRef, mayHoldNull: Boolean): Array[Double] = v match {
    case null                => null
    case d: java.lang.Double => Array(d.doubleValue)
    case a: ArrayData =>
      val n = a.numElements()
      var i = 0
      while (mayHoldNull && i < n) { if (a.isNullAt(i)) return null; i += 1 }
      a.toDoubleArray()
  }
}
