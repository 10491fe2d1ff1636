package graft.agg

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Grouped vector (Array[Double]) aggregations — the engine's re-expression
  * of message-passing reduction `aggr ∈ {sum, mean, min, max, cat}` over FK
  * groups (reference: nn/models/hetero_gnn.py:26-36, nn/conv/mean_add.py:8-20)
  * and attention aggregation (nn/aggr/attention.py:10-41).
  *
  * Scale design: the elementwise aggregators are `Aggregator`s with
  * fixed-width array buffers — they get map-side partial aggregation
  * (combine before shuffle), so a group with 10^6 neighbors ships one
  * 64-float buffer per map partition, not 10^6 rows. The posexplode/groupBy
  * alternative (used for oracle parity) shuffles dim× the rows.
  */
object VectorAgg {

  // Catalyst-native encoder (array<double> buffers serialize columnar, not
  // as opaque java-serialized blobs). Built once from the agnostic encoder
  // that `ExpressionEncoder[Array[Double]]()` derives, without Scala runtime
  // reflection: Spark asks an Aggregator for its encoders inside tasks, and
  // concurrent tasks deriving it by reflection intermittently failed with
  // "ScalaReflectionException: class scala.Nothing in JavaMirror".
  private val enc: Encoder[Array[Double]] = {
    import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, ExpressionEncoder}
    ExpressionEncoder(AgnosticEncoders.ArrayEncoder(
      AgnosticEncoders.PrimitiveDoubleEncoder, containsNull = false))
  }

  private abstract class ElementwiseAgg(op: (Double, Double) => Double)
      extends Aggregator[Array[Double], Array[Double], Array[Double]] {
    def zero: Array[Double] = Array.empty[Double]
    private def merge2(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        require(a.length == b.length, s"vector length mismatch: ${a.length} vs ${b.length}")
        val out = new Array[Double](a.length)
        var i = 0
        while (i < a.length) { out(i) = op(a(i), b(i)); i += 1 }
        out
      }
    def reduce(buf: Array[Double], in: Array[Double]): Array[Double] =
      if (in == null) buf else merge2(buf, in)
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = merge2(a, b)
    def finish(buf: Array[Double]): Array[Double] = buf
    def bufferEncoder: Encoder[Array[Double]] = enc
    def outputEncoder: Encoder[Array[Double]] = enc
  }

  private object SumAgg extends ElementwiseAgg(_ + _)
  private object MinAgg extends ElementwiseAgg(math.min)
  private object MaxAgg extends ElementwiseAgg(math.max)

  /** Elementwise mean (A8 scatter-mean, nn/aggr/attention.py:27). Buffer is
    * the running sum with the element count appended at the end, so the
    * partial-aggregation buffer stays one flat array. */
  private object MeanAgg extends Aggregator[Array[Double], Array[Double], Array[Double]] {
    def zero: Array[Double] = Array.empty[Double]
    def reduce(buf: Array[Double], in: Array[Double]): Array[Double] = {
      if (in == null) return buf
      if (buf.isEmpty) return in :+ 1.0
      require(buf.length == in.length + 1, s"vector length mismatch: ${buf.length - 1} vs ${in.length}")
      var i = 0
      while (i < in.length) { buf(i) += in(i); i += 1 }
      buf(in.length) += 1.0
      buf
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        require(a.length == b.length, s"buffer length mismatch: ${a.length} vs ${b.length}")
        val out = new Array[Double](a.length)
        var i = 0
        while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
        out
      }
    def finish(buf: Array[Double]): Array[Double] =
      if (buf.isEmpty) buf
      else {
        val n = buf(buf.length - 1)
        val out = new Array[Double](buf.length - 1)
        var i = 0
        while (i < out.length) { out(i) = buf(i) / n; i += 1 }
        out
      }
    def bufferEncoder: Encoder[Array[Double]] = enc
    def outputEncoder: Encoder[Array[Double]] = enc
  }

  /** Elementwise vector sum/mean/min/max as UDAF Columns
    * (input: array<double>). */
  def vecSum(c: Column): Column = udaf(SumAgg).apply(c)
  def vecMin(c: Column): Column = udaf(MinAgg).apply(c)
  def vecMax(c: Column): Column = udaf(MaxAgg).apply(c)
  def vecMean(c: Column): Column = udaf(MeanAgg).apply(c)

  /** `cat` aggregation — bounded collect (hetero_gnn.py:9 `cat` option).
    * Caller bounds group size (e.g. neighbor cap W5) before using this. */
  def vecCat(c: Column): Column = flatten(collect_list(c))

  /** A7: one generic message-passing step: join messages from src nodes
    * through the edge list, reduce per destination.
    *
    * @param nodes   node DataFrame with (idCol, featCol: array<double>)
    * @param edges   (src_id, dst_id) DataFrame
    * @param aggr    one of sum|mean|min|max|cat
    * @return (dst_id, feat) aggregated neighbor features
    */
  def propagate(nodes: DataFrame, edges: DataFrame, idCol: String, featCol: String,
      aggr: String): DataFrame = {
    val msgs = edges.join(nodes.select(col(idCol).as("src_id"), col(featCol).as("__msg")), "src_id")
    val a = aggr match {
      case "sum"  => vecSum(col("__msg"))
      case "mean" => vecMean(col("__msg"))
      case "min"  => vecMin(col("__msg"))
      case "max"  => vecMax(col("__msg"))
      case "cat"  => vecCat(col("__msg"))
      case other  => sys.error(s"Unknown aggr '$other'")
    }
    msgs.groupBy(col("dst_id")).agg(a.as(featCol))
  }

  /** A9: softmax-weighted (attention) aggregation of a scalar value per
    * group — numerically-stable two-pass form: subtract the group max, then
    * normalize by the group sum of exponentials
    * (reference: nn/aggr/attention.py:10-41 does softmax(q·k/√d) then a
    * weighted sum; the score column here is the caller's q·k/√d).
    *
    * Window-function form (two shuffles on the same key, no custom UDAF):
    * both windows share one partitioning so Catalyst plans a single
    * exchange + sort.
    */
  def softmaxAggregate(df: DataFrame, groupCol: String, scoreCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
    val stable = exp(col(scoreCol) - max(col(scoreCol)).over(w))
    val weight = stable / sum(stable).over(w)
    df.withColumn("__w", weight)
      .groupBy(col(groupCol))
      .agg(sum(col("__w") * col(valueCol)).as(s"${valueCol}_attn"))
  }

  /** A9 vector form: softmax-weighted aggregation of an ARRAY-valued
    * message column per group — the vector-message semantics of the
    * reference's `AttentionAggregation` (nn/aggr/attention.py:10-41) /
    * `CrossAttentionConv` (nn/conv/cross_attention.py:11-33), which weight
    * whole message vectors by per-group softmax scores.
    *
    * Same numerically-stable two-pass shape as [[softmaxAggregate]] (both
    * windows share one partitioning → a single exchange + sort), then the
    * weighted vectors reduce through the partial-aggregating [[vecSum]]
    * UDAF — a group with 10^6 messages ships one buffer per map partition.
    */
  def softmaxAggregateVec(df: DataFrame, groupCol: String, scoreCol: String,
      vecCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
    val stable = exp(col(scoreCol) - max(col(scoreCol)).over(w))
    val weight = stable / sum(stable).over(w)
    df.withColumn("__w", weight)
      .withColumn("__wv", transform(col(vecCol), x => x.cast("double") * col("__w")))
      .groupBy(col(groupCol))
      .agg(vecSum(col("__wv")).as(s"${vecCol}_attn"))
  }

  /** Cross-attention message passing (nn/conv/cross_attention.py:11-33):
    * queries are the DESTINATION features, keys/values the source features;
    * score = (q · k) / √d per edge, messages reduced per destination by
    * [[softmaxAggregateVec]]. Returns (dst_id, featCol) like [[propagate]],
    * so it slots into the same Blueprint round. */
  def propagateAttention(srcNodes: DataFrame, dstNodes: DataFrame, edges: DataFrame,
      idCol: String, featCol: String): DataFrame = {
    val msgs = edges
      .join(srcNodes.select(col(idCol).as("src_id"), col(featCol).as("__msg")), "src_id")
      .join(dstNodes.select(col(idCol).as("dst_id"), col(featCol).as("__q")), "dst_id")
      .withColumn("__score",
        graft.similarity.Similarity.dot(col("__q"), col("__msg")) / sqrt(size(col("__msg"))))
    softmaxAggregateVec(msgs.select(col("dst_id"), col("__score"), col("__msg")),
        "dst_id", "__score", "__msg")
      .withColumnRenamed("__msg_attn", featCol)
  }

  /** A6/A11: per-column imputation statistics — mean for numerics and the
    * deterministic mode (most frequent, ties broken by value) for
    * categoricals (nn/embedder/db_embedder.py:99-106). */
  def meanOf(df: DataFrame, c: String): Double =
    df.agg(avg(col(c))).collect()(0).getDouble(0)

  def modeOf(df: DataFrame, c: String): Any =
    df.filter(col(c).isNotNull).groupBy(col(c)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(c)).limit(1).collect()(0).get(0)
}
