package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.SchemaAnalyzer
import graft.catalog.{ConstraintRegistry, ParquetCatalog, SetFilter}
import graft.convert.{CategoricalCodes, TableConverter}
import graft.dedup.Dedup
import graft.graph.{EdgeType, RelGraph}
import graft.pipeline.Blueprint
import graft.sample.Sampling
import graft.schema.{CategoricalColumnDef, Schema, TableSchema}
import graft.text.TextAnalysis

/** What a workload's ops see: the session, the tracer that wraps every
  * layer call, the data directory and the run's seed. */
final case class Ctx(spark: SparkSession, tr: Tracer, dir: String, seed: Long)

/** One benchmark workload. `setup` builds the state the timed ops need, runs
  * once per set-up rep and returns whether its output passed its check;
  * `op` is one timed operation and returns the same; `check` runs after
  * the timed loop and returns the number of ops whose deferred check
  * failed. */
trait Workload {
  def setup(ctx: Ctx): Boolean
  def op(k: Int): Boolean
  def check(): Int = 0
}

object Workload {
  def apply(name: String): Workload = name match {
    case "gnn_train"    => new GnnTrain
    case "corpus_dedup" => new CorpusDedup
    case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** The paper's preparation pipeline, call by call, each call in its
  * layer's span: catalog -> schema autodetection -> FK graph with reverse
  * edges -> per-table feature conversion with categorical codes. Frames
  * stay lazy; callers materialize them inside the layer's span. */
object Prep {
  import RelGraph.RowId

  final case class Built(schema: Schema, graph: RelGraph,
      features: ListMap[String, (DataFrame, Seq[String])])

  /** The FK-closed core of the fixture database the graph workloads use:
    * every FK target is in the set, so the graph builds without a
    * schema fix-up. */
  val Tables = Set("region", "nation", "customer", "orders")

  def catalog(ctx: Ctx, tables: Set[String] = Tables): ParquetCatalog =
    ctx.tr.span("catalog", "listTables") {
      val cat = new ParquetCatalog(ctx.spark, ctx.dir, ConstraintRegistry.testdata,
        tableFilter = SetFilter(include = Some(tables)))
      cat.listTables()
      cat
    }

  def build(ctx: Ctx): Built = {
    val tr = ctx.tr
    val cat = catalog(ctx)
    val names = cat.listTables()
    val tables = tr.span("catalog", "allTables") { cat.allTables() }
    val schema = tr.span("analyze", "guessSchema", names) { new SchemaAnalyzer(cat).guessSchema() }
    val graph = tr.span("graph", "build", names) {
      RelGraph.build(schema, tables).withReverseEdges
    }
    val features = ListMap(names.map { t =>
      t -> tr.span("convert", "convertTable", Seq(t)) {
        convert(tables(t), graph.nodes(t), schema(t))
      }
    }: _*)
    Built(schema, graph, features)
  }

  /** Row id + numeric feature columns: `convertTable` over the graph's
    * node frame for the converted kinds, then `CategoricalCodes` for each
    * categorical column, its dictionary built from the table (the default
    * dispatch leaves categoricals to the data-dependent codes). */
  def convert(table: DataFrame, node: DataFrame, ts: TableSchema): (DataFrame, Seq[String]) = {
    val cats = ts.columns.collect { case (c, _: CategoricalColumnDef) => c }.toSeq
    val (conv, defs) = new TableConverter().convertTable(node, ts, keep = RowId +: cats)
    val order = (if (ts.primaryKey.nonEmpty) ts.primaryKey
      else table.columns.toSeq).map(col)
    val encoded = cats.foldLeft(conv) { (df, c) =>
      CategoricalCodes.encode(df, c, CategoricalCodes.dictionary(table, col(c), order), s"${c}_code")
        .drop(c)
    }
    val feats = defs.keys.toSeq.sorted ++ cats.map(c => s"${c}_code")
    (encoded.select(col(RowId) +: feats.map(f => col(f).cast("double").as(f)): _*), feats)
  }
}

/** gnn_train: the reference's loader-plus-optimizer loop over a graph
  * prepared in set-up (a full database-to-graph pass, materialized). One op is
  * one minibatch step (a budget-sampled subgraph around a seeded batch of
  * train customers, then one hetero GD step over two edge types into
  * them, their orders and, reversed, their nation, from the previous
  * step's parameters) followed by the full-graph 2-layer
  * forward pass over all edge types with a linear decode over `orders`. */
final class GnnTrain extends Workload {
  import Blueprint.{EdgeGroup, HeteroGnnParams}
  private val Dim = 4
  private val Hidden = 4
  private val Batch = 128
  private val Budget = 512
  private val Label = "c_mktsegment_code"
  private val Children = Seq(EdgeType("orders", "o_custkey", "customer"),
    EdgeType("nation", "rev_c_nationkey", "customer"))

  private var ctx: Ctx = _
  private var nodes: Map[String, DataFrame] = _
  private var edges: Map[EdgeType, DataFrame] = _
  private var labels: DataFrame = _
  private var train: DataFrame = _
  private var decoder: Array[Double] = _
  private var params: HeteroGnnParams = _
  private var replay: Option[(Int, HeteroGnnParams, HeteroGnnParams)] = None
  private val pinnedSchema = Schema.fromJson(Expected.resource("schema.json"))

  /** The database-to-graph pass, materialized, checked against the pinned
    * node rows, edge rows and inferred schema. */
  def setup(c: Ctx): Boolean = {
    ctx = c
    val tr = c.tr
    val b = Prep.build(c)
    val rnd = new scala.util.Random(c.seed)
    // every table projected to one width, as the reference's per-table
    // embedders do (Blueprint.forward needs equal widths); the label's
    // own code column stays out of the customer features
    nodes = b.features.map { case (t, (df, feats)) =>
      val used = feats.filterNot(_ == Label)
      val w = Array.fill(used.size, Dim)(rnd.nextGaussian() / math.sqrt(used.size.toDouble))
      t -> tr.span("convert", "materialize", Seq(t)) {
        project(df, used, w).localCheckpoint(true)
      }
    }
    edges = b.graph.edges.map { case (et, df) =>
      et -> tr.span("graph", "materialize", Seq(et.src, et.dst)) { df.localCheckpoint(true) }
    }
    labels = tr.span("convert", "label", Seq("customer")) {
      b.features("customer")._1.select(col(RelGraph.RowId).as("id"),
        (col(Label) === 0.0).cast("double").as("y")).localCheckpoint(true)
    }
    train = tr.span("sample", "withSplitMasksPortable", Seq("customer")) {
      Sampling.withSplitMasksPortable(labels, "id", 0.2, c.seed.toString)
        .filter(col("train_mask")).select(lit("customer").as("type"), col("id").as("key"))
        .localCheckpoint(true)
    }
    decoder = Array.fill(Dim)(rnd.nextGaussian())
    params = HeteroGnnParams(
      Children.map(_ => Array.fill(Dim, Hidden)(rnd.nextGaussian() * 0.5)),
      Children.map(_ => Array.fill(Hidden)(0.0)),
      Array.fill(Hidden)(rnd.nextGaussian() * 0.5), 0.0)
    val nodeRows = nodes.values.map(_.count()).sum
    val edgeRows = edges.values.map(_.count()).sum
    val ok = nodeRows == Expected.NodeRows && edgeRows == Expected.EdgeRows && b.schema == pinnedSchema
    if (!ok) System.err.println(s"[perfbench] graph nodes=$nodeRows edges=$edgeRows " +
      s"schema=${Schema.toJson(b.schema)}")
    ok
  }

  /** feat = W^T slog(x): the signed log keeps prices and dates on one scale. */
  private def project(df: DataFrame, feats: Seq[String], w: Array[Array[Double]]): DataFrame = {
    val x = feats.map(f => signum(col(f)) * log1p(abs(col(f))))
    df.select(col(RelGraph.RowId).as("id"),
      array((0 until Dim).map(d =>
        x.zipWithIndex.map { case (xi, i) => xi * lit(w(i)(d)) }.reduce(_ + _)): _*).as("feat"))
  }

  private def step(k: Int, init: HeteroGnnParams): HeteroGnnParams = {
    val tr = ctx.tr
    val tag = s"${ctx.seed}:$k"
    val batch = tr.span("sample", "budgetSample", Seq("customer")) {
      Sampling.budgetSample(train, "type", "key", Batch, tag)
        .select(col("key").as("cid")).localCheckpoint(true)
    }
    // child edges of the batch: (type, child id, customer id)
    def childEdges = Children.map { et =>
      edges(et).join(batch, col("dst_id") === col("cid"))
        .select(lit(et.src).as("type"), col("src_id").as("key"), col("cid"))
    }.reduce(_.unionAll(_))
    val picked = tr.span("sample", "budgetSample", Children.map(_.src)) {
      Sampling.budgetSample(childEdges, "type", "key", Budget, tag).localCheckpoint(true)
    }
    val out = tr.span("pipeline", "fitHeteroGnnGD", "customer" +: Children.map(_.src)) {
      val kept = childEdges.join(picked, Seq("type", "key"))
      val groups = Children.map { et =>
        val children = kept.filter(col("type") === et.src)
          .join(nodes(et.src).withColumnRenamed("id", "key"), "key").select(col("cid"), col("feat"))
        EdgeGroup(children, Seq("cid"), "feat", Dim)
      }
      val parents = batch.join(labels, col("cid") === col("id")).select(col("cid"), col("y"))
      Blueprint.fitHeteroGnnGD(groups, parents, Seq("cid"), "y", Hidden, steps = 1, lr = 0.5,
        init = init, aggr = "mean")
    }
    graft.util.Checkpoints.release(batch)
    graft.util.Checkpoints.release(picked)
    out
  }

  private def flat(p: HeteroGnnParams): Seq[Double] =
    p.w1.flatMap(_.toSeq.flatMap(_.toSeq)) ++ p.b1.flatMap(_.toSeq) ++ p.w2.toSeq :+ p.b2

  def op(k: Int): Boolean = {
    val before = params
    params = step(k, before)
    if (replay.isEmpty && k >= 0) replay = Some((k, before, params))
    val (n, s) = ctx.tr.span("pipeline", "forward", nodes.keys.toSeq) {
      val out = Blueprint.forward(nodes, edges, Blueprint.Config(layers = 2, aggr = "mean"))
      val r = Blueprint.decodeLinear(out("orders"), decoder, 0.0)
        .agg(count(lit(1)), sum(col("score"))).collect()(0)
      (r.getLong(0), r.getDouble(1))
    }
    flat(params).forall(v => !v.isNaN && !v.isInfinite) &&
      n == Expected.TableRows("orders") && !s.isNaN && !s.isInfinite
  }

  /** Determinism: the first timed step, replayed from its recorded
    * starting parameters with the same seed, gives the same parameters. */
  override def check(): Int = replay.fold(0) { case (k, before, after) =>
    val again = ctx.tr.span("pipeline", "replayStep") { step(k, before) }
    val same = flat(again).zip(flat(after)).forall { case (a, b) =>
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    }
    if (same) 0 else 1
  }
}

/** corpus_dedup: one op is one curation pass over `documents`: MinHash
  * near-dup pairs -> duplicate clusters (connected components over
  * localCheckpoint rounds, to a fixpoint) -> one kept document per cluster
  * -> repetition filter -> top-k TF-IDF terms. */
final class CorpusDedup extends Workload {
  private var ctx: Ctx = _
  private var docs: DataFrame = _

  def setup(c: Ctx): Boolean = {
    ctx = c
    val cat = Prep.catalog(c, Set("documents"))
    docs = c.tr.span("catalog", "table") {
      cat.table("documents").withColumn("quality", col("n_chars"))
    }
    true
  }

  def op(k: Int): Boolean = {
    val tr = ctx.tr
    val (pairs, nPairs) = tr.span("dedup", "minhashNearDups", Seq("documents")) {
      val p = Dedup.minhashNearDups(docs, "doc_id", "text", k = 16, bands = 4, threshold = 0.5)
      (p, p.count())
    }
    val (kept, nKept) = tr.span("dedup", "dupClusters+canonicalPick", Seq("documents")) {
      val clusters = Dedup.dupClusters(docs, "doc_id", pairs)
      val pick = Dedup.canonicalPick(clusters, docs, "doc_id", "quality").localCheckpoint(true)
      (pick, pick.count())
    }
    val (clean, nClean) = tr.span("text", "repetitionStats", Seq("documents")) {
      val keptDocs = docs.join(kept.select(col("keep_id").as("doc_id")), "doc_id")
      val stats = TextAnalysis.repetitionStats(keptDocs, "doc_id", "text")
      val ok = keptDocs.join(stats.filter(col("dup_word_frac") < 0.5).select("doc_id"), "doc_id")
        .localCheckpoint(true)
      (ok, ok.count())
    }
    val nTerms = tr.span("text", "tfidfTopK", Seq("documents")) {
      TextAnalysis.tfidfTopK(clean, "doc_id", "text", 5).count()
    }
    val got = Seq(nPairs, nKept, nClean, nTerms)
    val ok = got == Expected.Corpus
    if (!ok) System.err.println(s"[perfbench] corpus counts (pairs, kept, clean, terms) = $got")
    ok
  }
}
