package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.VectorAgg
import graft.analyze.{Behavior, DistinctCounter, Olap, Quantiles}
import graft.functions.ZOrder
import graft.catalog.{ConstraintRegistry, ParquetCatalog}
import graft.convert.{CategoricalCodes, Converters, TableConverter}
import graft.dedup.Dedup
import graft.features.Features
import graft.functions.Normalizers
import graft.graph.RelGraph
import graft.joins.TemporalJoins
import graft.multimodal.Multimodal
import graft.sample.{BfsSampler, Sampling}
import graft.schema._
import graft.similarity.{Ivf, Quantize, Similarity}
import graft.streaming.EventStream
import graft.text.TextAnalysis


/** Registry domain: window-like ops, set ops, scalar functions, blueprint/training queries, BFS sampling (SURVEY 2.5-2.7, 2.9, 3.3). See [[SparkEntry]] for the contract. */
private[graft] object QueriesML {
  import QBase._

  // §2.5 window-like operators
  // ====================================================================

  private[graft] val qFactorize = Q("w3_factorize",
    (s, d) => CategoricalCodes.dictionary(t(s, d, "orders"),
        col("o_orderpriority"), Seq(col("o_orderkey")))
      .orderBy("code"),
    Some("""WITH f AS (SELECT o_orderpriority AS value, min(o_orderkey) AS fk
        FROM orders GROUP BY o_orderpriority)
      SELECT value, row_number() OVER (ORDER BY fk) - 1 AS code FROM f ORDER BY code"""))

  private[graft] val qEncode = Q("f17_cat_encode",
    (s, d) => {
      val o = t(s, d, "orders")
      val dict = CategoricalCodes.dictionary(o, col("o_orderpriority"), Seq(col("o_orderkey")))
      CategoricalCodes.encode(o, "o_orderpriority", dict, "code")
        .select(col("o_orderkey"), col("code")).orderBy("o_orderkey")
    },
    Some("""WITH f AS (SELECT o_orderpriority AS value, min(o_orderkey) AS fk
        FROM orders GROUP BY o_orderpriority),
      dict AS (SELECT value, row_number() OVER (ORDER BY fk) - 1 AS code FROM f)
      SELECT o_orderkey, code FROM orders JOIN dict ON o_orderpriority = value
      ORDER BY o_orderkey"""))

  private[graft] val qTopK = Q("w5_topk_neighbors",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
          row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        FROM lineitem) WHERE rn <= 3 ORDER BY l_orderkey, l_linenumber"""))

  /** W6: train/validation split masks. The md5-coin portable variant is
    * registered (a pure function of the key — engine-reproducible, so the
    * full per-row mask is oracle-checked); the `rand(seed)` variant
    * ([[graft.sample.Sampling.withSplitMasks]]) remains as the
    * RNG-stream fast path, spec-pinned in SamplingSpec. hex4(0.2) =
    * 0x3333 — the same quantization constant on both sides. */
  private[graft] val qSplit = Q("w6_random_split",
    (s, d) => Sampling.withSplitMasksPortable(
        t(s, d, "customer").select(col("c_custkey")), "c_custkey", 0.2)
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey,
        substring(md5(c_custkey::VARCHAR || ':42'), 1, 4) < '3333' AS val_mask,
        NOT (substring(md5(c_custkey::VARCHAR || ':42'), 1, 4) < '3333') AS train_mask
      FROM customer ORDER BY c_custkey"""))

  // ====================================================================
  // §2.6 set operations
  // ====================================================================

  private[graft] val qUnionDistinct = Q("so1_union_distinct",
    (s, d) => t(s, d, "customer").select(col("c_nationkey").as("x"))
      .unionAll(t(s, d, "supplier").select(col("s_nationkey").as("x")))
      .distinct().orderBy("x"),
    Some("""SELECT DISTINCT x FROM (SELECT c_nationkey AS x FROM customer
      UNION ALL SELECT s_nationkey AS x FROM supplier) ORDER BY x"""))

  // ====================================================================
  // §2.7 scalar functions
  // ====================================================================

  private[graft] val qNormalizers = Q("f4_normalizers",
    (s, d) => t(s, d, "part").select(
      col("p_partkey"),
      Normalizers("ci")(col("p_name")).as("n_ci"),
      Normalizers("rstrip")(col("p_name")).as("n_rstrip"),
      Normalizers("strip")(col("p_name")).as("n_strip"),
      Normalizers("unidecode")(col("p_name")).as("n_unidecode"),
      Normalizers("unidecode_strip_ci")(col("p_name")).as("n_all"))
      .orderBy("p_partkey"),
    // test strings are ASCII: unidecode == identity on both sides
    Some("""SELECT p_partkey, lower(p_name) AS n_ci, rtrim(p_name) AS n_rstrip,
      trim(p_name) AS n_strip, p_name AS n_unidecode,
      lower(trim(p_name)) AS n_all FROM part ORDER BY p_partkey"""))

  private[graft] val qDateFns = Q("f8_f11_datetime",
    (s, d) => {
      val c = col("o_orderdate")
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(c).cast("bigint").as("y"),
        dayofyear(c).cast("bigint").as("doy"),
        (hour(c) * 3600L + minute(c) * 60L + second(c)).cast("bigint").as("ssm"),
        unix_timestamp(c).cast("bigint").as("epoch_s"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, year(o_orderdate) AS y, dayofyear(o_orderdate) AS doy,
      (3600*hour(o_orderdate) + 60*minute(o_orderdate)
        + floor(second(o_orderdate)))::BIGINT AS ssm,
      epoch(o_orderdate)::BIGINT AS epoch_s FROM orders ORDER BY o_orderkey"""))

  /** F12: multi-label binarization in long form — (row, label) pairs; the
    * wide 0/1 matrix is `pivot` on top of this (cardinality-bounded). */
  private[graft] val qMultiLabel = Q("f12_multilabel_long",
    (s, d) => t(s, d, "part")
      .select(col("p_partkey"), explode(split(col("p_type"), " ")).as("tag"))
      .distinct().orderBy("p_partkey", "tag"),
    Some("""SELECT DISTINCT p_partkey, unnest(string_split(p_type, ' ')) AS tag
      FROM part ORDER BY p_partkey, tag"""))

  /** F15 + F9 via the TableConverter (no all-same pruning here so the
    * column set is static for the oracle; pruning is spec-tested). */
  private[graft] val qTableConvert = Q("f15_table_convert",
    (s, d) => {
      val ts = TableSchema(scala.collection.immutable.ListMap(
        "o_orderkey" -> NumericColumnDef(key = true),
        "o_totalprice" -> NumericColumnDef(),
        "o_orderdate" -> DateTimeColumnDef()))
      val (out, _) = new TableConverter(skipAllSame = false)
        .convertTable(t(s, d, "orders"), ts)
      out.select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"),
        col("o_orderdate_year"), col("o_orderdate_dayofyear"),
        col("o_orderdate_seconds_since_midnight"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey::DOUBLE AS o_orderkey,
      round(coalesce(o_totalprice, 0.0),4) AS o_totalprice,
      year(o_orderdate)::DOUBLE AS o_orderdate_year,
      dayofyear(o_orderdate)::DOUBLE AS o_orderdate_dayofyear,
      coalesce(3600*hour(o_orderdate) + 60*minute(o_orderdate)
        + floor(second(o_orderdate)), 0.0)::DOUBLE AS o_orderdate_seconds_since_midnight
      FROM orders ORDER BY o_orderkey"""))

  private[graft] val qLegacyDates = Q("f16_legacy_date_segments",
    (s, d) => {
      val str = date_format(col("o_orderdate"), "yyyy-MM-dd")
      val parts = Converters.LegacyDateConverter
        .convert("o_orderdate", DateColumnDef(), str)
      t(s, d, "orders").select(
        col("o_orderkey") +: parts.map { case (sfx, e, _) => e.as(s"d$sfx") }: _*)
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
      year(o_orderdate)::DOUBLE AS d_year,
      month(o_orderdate)::DOUBLE AS d_month,
      dayofmonth(o_orderdate)::DOUBLE AS d_day,
      ((o_orderdate::DATE - DATE '0001-01-01') + 1)::DOUBLE AS d_ordinal,
      epoch(o_orderdate::DATE::TIMESTAMP)::DOUBLE AS d_timestamp
      FROM orders ORDER BY o_orderkey"""))

  /** Blueprint forward pass (§2.9): one mean-aggregation round over the
    * lineitem→orders edge type with the default (self+msg)/2 combine, then
    * a linear decode. Feature = order total and line quantity — the mean of
    * integer-valued quantities is summation-order-exact, so the whole pass
    * is SQL-restatable. */
  private[graft] val qBlueprint = Q("bp1_blueprint_forward",
    (s, d) => {
      import graft.pipeline.Blueprint
      import graft.graph.EdgeType
      val ord = RelGraph.withRowId(t(s, d, "orders").select("o_orderkey", "o_totalprice"),
        Seq("o_orderkey"))
      val li = RelGraph.withRowId(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        Seq("l_orderkey", "l_linenumber"))
      val edges = RelGraph.fkEdges(li, ord,
        ForeignKeyDef(Seq("l_orderkey"), "orders", Seq("o_orderkey")))
      val nodes = Map(
        "orders" -> ord.select(col(RelGraph.RowId).as("id"),
          array(col("o_totalprice")).as("feat")),
        "lineitem" -> li.select(col(RelGraph.RowId).as("id"),
          array(col("l_quantity")).as("feat")))
      val out = Blueprint.forward(nodes,
        Map(EdgeType("lineitem", "l_orderkey", "orders") -> edges),
        Blueprint.Config(layers = 1, aggr = "mean"))
      Blueprint.decodeLinear(out("orders"), Array(1.0), bias = 0.0)
        .select(col("id"), round(col("score"), 4).as("score"))
        .orderBy("id")
    },
    Some("""WITH ord AS (SELECT o_orderkey, o_totalprice,
        row_number() OVER (ORDER BY o_orderkey)-1 AS id FROM orders),
      msg AS (SELECT o_orderkey, avg(l_quantity) AS m FROM lineitem
        JOIN ord ON l_orderkey = o_orderkey GROUP BY o_orderkey)
      SELECT id, round(CASE WHEN m IS NULL THEN o_totalprice
        ELSE (o_totalprice + m) / 2.0 END, 4) AS score
      FROM ord LEFT JOIN msg USING (o_orderkey) ORDER BY id"""))

  /** Closed-form ridge fit of the Blueprint linear decoder (the reference's
    * train-a-readout capability, main.py:307-323) — normal equations as one
    * distributed aggregation pass + a 3×3 driver solve; the oracle restates
    * the same system via Cramer's rule over the same DuckDB-side sums.
    *
    * Oracle-parity design: features (quantity, linenumber) and the label
    * floor(extendedprice) are all INTEGER-valued, so every normal-equation
    * sum is an exact integer in double (< 2^53) regardless of partial-agg
    * merge order — both engines solve from bit-identical inputs, and the
    * two solve algorithms (partial-pivot Gaussian here, Cramer in SQL)
    * agree to ~1e-13 relative, far inside 4-decimal rounding. floor(), not
    * round(): Spark's round canonicalizes doubles through BigDecimal
    * string form while DuckDB rounds the raw double — floor agrees on the
    * raw double in both. */
  private[graft] val qFitDecoder = Q("bp2_fit_decoder",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"),
        floor(col("l_extendedprice")).as("y"))
      val (w, b) = Blueprint.fitLinearDecoder(li, "feat", "y", dim = 2, lambda = 1.0)
      import s.implicits._
      Seq((w(0), w(1), b)).toDF("__w0", "__w1", "__b")
        .select(round(col("__w0"), 4).as("w_quantity"),
          round(col("__w1"), 4).as("w_linenumber"),
          round(col("__b"), 4).as("bias"))
    },
    Some("""WITH s AS (SELECT
        sum(l_quantity*l_quantity)::DOUBLE + 1.0 AS a,
        sum(l_quantity*l_linenumber)::DOUBLE AS b,
        sum(l_quantity)::DOUBLE AS c,
        sum(l_linenumber*l_linenumber)::DOUBLE + 1.0 AS e,
        sum(l_linenumber)::DOUBLE AS f,
        count(*)::DOUBLE AS i,
        sum(l_quantity*floor(l_extendedprice))::DOUBLE AS r1,
        sum(l_linenumber*floor(l_extendedprice))::DOUBLE AS r2,
        sum(floor(l_extendedprice))::DOUBLE AS r3
      FROM lineitem),
      m AS (SELECT a, b, c, b AS d, e, f, c AS g, f AS h, i, r1, r2, r3,
        a*(e*i - f*f) - b*(b*i - f*c) + c*(b*f - e*c) AS det FROM s)
      SELECT
        round((r1*(e*i - f*h) - b*(r2*i - f*r3) + c*(r2*h - e*r3)) / det, 4) AS w_quantity,
        round((a*(r2*i - f*r3) - r1*(d*i - f*g) + c*(d*r3 - r2*g)) / det, 4) AS w_linenumber,
        round((a*(e*r3 - r2*h) - b*(d*r3 - r2*g) + r1*(d*h - e*g)) / det, 4) AS bias
      FROM m"""))

  /** One-vs-rest ridge-classifier fit (bp2's multi-target form): all three
    * l_returnflag classes share ONE X'X pass; the oracle repeats the
    * Cramer's-rule solve per class over indicator-label sums (integers →
    * exact in double, same parity argument as bp2). */
  private[graft] def fitClassifierOracle: String = {
    val classes = Seq("A", "N", "R")
    val classSums = classes.map { k =>
      s"""sum(CASE WHEN l_returnflag='$k' THEN l_quantity ELSE 0 END)::DOUBLE AS r1_$k,
        sum(CASE WHEN l_returnflag='$k' THEN l_linenumber ELSE 0 END)::DOUBLE AS r2_$k,
        sum(CASE WHEN l_returnflag='$k' THEN 1 ELSE 0 END)::DOUBLE AS r3_$k"""
    }.mkString(",\n      ")
    val blocks = classes.map { k =>
      s"""SELECT '$k' AS class,
        round((r1_$k*(e*i - f*h) - b*(r2_$k*i - f*r3_$k) + c*(r2_$k*h - e*r3_$k)) / det, 4) AS w_quantity,
        round((a*(r2_$k*i - f*r3_$k) - r1_$k*(d*i - f*g) + c*(d*r3_$k - r2_$k*g)) / det, 4) AS w_linenumber,
        round((a*(e*r3_$k - r2_$k*h) - b*(d*r3_$k - r2_$k*g) + r1_$k*(d*h - e*g)) / det, 4) AS bias
        FROM m"""
    }.mkString(" UNION ALL ")
    s"""WITH s AS (SELECT
        sum(l_quantity*l_quantity)::DOUBLE + 1.0 AS a,
        sum(l_quantity*l_linenumber)::DOUBLE AS b,
        sum(l_quantity)::DOUBLE AS c,
        sum(l_linenumber*l_linenumber)::DOUBLE + 1.0 AS e,
        sum(l_linenumber)::DOUBLE AS f,
        count(*)::DOUBLE AS i,
        $classSums
      FROM lineitem),
      m AS (SELECT *, b AS d, c AS g, f AS h,
        a*(e*i - f*f) - b*(b*i - f*c) + c*(b*f - e*c) AS det FROM s)
      SELECT * FROM ($blocks) ORDER BY class"""
  }

  private[graft] val qFitClassifier = Q("bp3_fit_classifier",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"),
        col("l_returnflag").as("y"))
      val classes = Seq("A", "N", "R")
      val fits = Blueprint.fitClassDecoders(li, "feat", "y", dim = 2, classes, lambda = 1.0)
      import s.implicits._
      classes.zip(fits).map { case (k, (w, b)) => (k, w(0), w(1), b) }
        .toDF("class", "__w0", "__w1", "__b")
        .select(col("class"), round(col("__w0"), 4).as("w_quantity"),
          round(col("__w1"), 4).as("w_linenumber"), round(col("__b"), 4).as("bias"))
        .orderBy("class")
    },
    Some(fitClassifierOracle))

  /** K-fold cross-validated ridge: 3 leave-one-fold-out models + their
    * held-out MSEs from TWO distributed passes total (per-fold Gram
    * sums, then one broadcast-scored pass) — never k re-scans. Folds
    * are grouped by l_orderkey (the portable md5 coin), so lineitems of
    * one order never straddle train/test; models freeze at 4 dp before
    * scoring (the pipe2 device) so both engines score identical
    * parameters. */
  private[graft] val qKfoldRidge = Q("cv1_kfold_ridge",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"),
        floor(col("l_extendedprice")).as("y"))
      val folded = Sampling.kFold(li, "l_orderkey", k = 3)
      Blueprint.kFoldRidge(folded, "feat", "y", dim = 2, "fold", lambda = 1.0)
        .select(col("fold"), col("n_test"), col("w_0").as("w_quantity"),
          col("w_1").as("w_linenumber"), col("bias"), col("mse"))
        .orderBy("fold")
    },
    Some("""WITH d AS (SELECT
        ('0x' || substring(md5(l_orderkey::VARCHAR || ':cv'), 1, 4))::INT % 3 AS fold,
        l_quantity::DOUBLE AS x1, l_linenumber::DOUBLE AS x2,
        floor(l_extendedprice) AS y FROM lineitem),
      pf AS (SELECT fold, sum(x1*x1) AS s00, sum(x1*x2) AS s01,
          sum(x2*x2) AS s11, sum(x1) AS t0, sum(x2) AS t1,
          sum(x1*y) AS p1, sum(x2*y) AS p2, sum(y) AS p3,
          count(*)::DOUBLE AS nf
        FROM d GROUP BY 1),
      tt AS (SELECT sum(s00) AS s00, sum(s01) AS s01, sum(s11) AS s11,
          sum(t0) AS t0, sum(t1) AS t1, sum(p1) AS p1, sum(p2) AS p2,
          sum(p3) AS p3, sum(nf) AS nf FROM pf),
      lo AS (SELECT pf.fold,
          tt.s00 - pf.s00 + 1.0 AS a, tt.s01 - pf.s01 AS b,
          tt.t0 - pf.t0 AS c, tt.s11 - pf.s11 + 1.0 AS e,
          tt.t1 - pf.t1 AS f, tt.nf - pf.nf AS i,
          tt.p1 - pf.p1 AS r1, tt.p2 - pf.p2 AS r2, tt.p3 - pf.p3 AS r3
        FROM pf, tt),
      m AS (SELECT fold, a, b, c, b AS dd, e, f, c AS gg, f AS h, i,
          r1, r2, r3,
          a*(e*i - f*f) - b*(b*i - f*c) + c*(b*f - e*c) AS det FROM lo),
      w AS (SELECT fold,
          round((r1*(e*i - f*h) - b*(r2*i - f*r3) + c*(r2*h - e*r3)) / det, 4) AS w1,
          round((a*(r2*i - f*r3) - r1*(dd*i - f*gg) + c*(dd*r3 - r2*gg)) / det, 4) AS w2,
          round((a*(e*r3 - r2*h) - b*(dd*r3 - r2*gg) + r1*(dd*h - e*gg)) / det, 4) AS bias
        FROM m),
      sc AS (SELECT d.fold, w.w1, w.w2, w.bias,
          pow(d.y - (d.x1*w.w1 + d.x2*w.w2 + w.bias), 2) AS r2e
        FROM d JOIN w USING (fold))
      SELECT fold, count(*)::BIGINT AS n_test, min(w1) AS w_quantity,
        min(w2) AS w_linenumber, min(bias) AS bias,
        round(avg(r2e), 2) AS mse
      FROM sc GROUP BY 1 ORDER BY 1"""))

  /** Split-conformal prediction interval (Vovk; Lei et al. 2018):
    * ridge fit on the TRAIN split (md5 coin on l_orderkey — order-level,
    * leakage-free), q̂ = the ⌈(n+1)(1−α)⌉-th smallest absolute residual
    * on the CALIBRATION split (one DistributedRank order statistic,
    * never a sort to the driver), coverage of ŷ ± q̂ measured on the
    * held-out TEST split. Weights frozen at 4 dp; residuals are then
    * identical IEEE arithmetic in both engines, so the rank selection
    * and the coverage threshold decide bit-identically. */
  private[graft] val qConformal = Q("cp1_conformal_interval",
    (s, d) => {
      import graft.pipeline.{Blueprint, Conformal}
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"),
        floor(col("l_extendedprice")).as("y"),
        substring(md5(concat(col("l_orderkey").cast("string"), lit(":cp"))),
          1, 2).as("coin"))
      val train = li.filter(col("coin") < "80")
      val cal = li.filter(col("coin") >= "80" && col("coin") < "c0")
      val test = li.filter(col("coin") >= "c0")
      val (w, b) = Blueprint.fitLinearDecoder(train, "feat", "y",
        dim = 2, lambda = 1.0)
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val pred = element_at(col("feat"), 1) * lit(r4(w(0))) +
        element_at(col("feat"), 2) * lit(r4(w(1))) + lit(r4(b))
      val q = Conformal.quantile(
        cal.select((col("y").cast("double") - pred).as("resid")),
        "resid", alpha = 0.1)
      val nCal = cal.count()
      test.agg(count(lit(1)).cast("bigint").as("n_test"),
          sum((abs(col("y").cast("double") - pred) <= q).cast("long"))
            .as("__n_in"))
        .select(lit(nCal).as("n_cal"), col("n_test"),
          round(lit(q), 4).as("q_hat"),
          round(col("__n_in").cast("double") / col("n_test"), 4).as("coverage"))
    },
    Some("""WITH d AS (SELECT l_quantity::DOUBLE AS x1,
          l_linenumber::DOUBLE AS x2, floor(l_extendedprice) AS y,
          substr(md5(l_orderkey::VARCHAR || ':cp'), 1, 2) AS coin
        FROM lineitem),
      tr AS (SELECT * FROM d WHERE coin < '80'),
      s AS (SELECT sum(x1*x1)::DOUBLE + 1.0 AS a, sum(x1*x2)::DOUBLE AS b,
          sum(x1)::DOUBLE AS c, sum(x2*x2)::DOUBLE + 1.0 AS e,
          sum(x2)::DOUBLE AS f, count(*)::DOUBLE AS i,
          sum(x1*y)::DOUBLE AS r1, sum(x2*y)::DOUBLE AS r2,
          sum(y)::DOUBLE AS r3
        FROM tr),
      m AS (SELECT a, b, c, b AS dd, e, f, c AS gg, f AS h, i, r1, r2, r3,
          a*(e*i - f*f) - b*(b*i - f*c) + c*(b*f - e*c) AS det FROM s),
      w AS (SELECT
          round((r1*(e*i - f*h) - b*(r2*i - f*r3) + c*(r2*h - e*r3)) / det, 4) AS w1,
          round((a*(r2*i - f*r3) - r1*(dd*i - f*gg) + c*(dd*r3 - r2*gg)) / det, 4) AS w2,
          round((a*(e*r3 - r2*h) - b*(dd*r3 - r2*gg) + r1*(dd*h - e*gg)) / det, 4) AS bias
        FROM m),
      ca AS (SELECT abs(d.y - (d.x1*w.w1 + d.x2*w.w2 + w.bias)) AS ar
        FROM d, w WHERE coin >= '80' AND coin < 'c0'),
      nc AS (SELECT count(*)::BIGINT AS n FROM ca),
      rk AS (SELECT ar, row_number() OVER (ORDER BY ar) AS rn FROM ca),
      q AS (SELECT ar AS q FROM rk, nc WHERE rn = ceil((nc.n + 1) * 0.9)),
      te AS (SELECT count(*)::BIGINT AS n_test,
          sum(CASE WHEN abs(d.y - (d.x1*w.w1 + d.x2*w.w2 + w.bias)) <= q.q
            THEN 1 ELSE 0 END)::BIGINT AS n_in
        FROM d, w, q WHERE coin >= 'c0')
      SELECT nc.n AS n_cal, te.n_test, round(q.q, 4) AS q_hat,
        round(te.n_in::DOUBLE / te.n_test, 4) AS coverage
      FROM te, nc, q"""))

  /** bp4's oracle: the N-step GD recurrence unrolled into one CTE chain
    * per step — gradient CTE (the same per-row sigmoid expression and sum
    * order as [[graft.pipeline.Blueprint.fitLogisticGD]]'s agg pass) then
    * weight-update CTE (op order pinned to `w − lr·(g/n)`). Generated by
    * the same loop index so Spark and DuckDB run structurally identical
    * arithmetic; cross-engine drift is summation-order + exp ulps, orders
    * below the round-6 contract (bp2's Cramer-oracle device). */
  private[graft] def fitGdOracle(steps: Int, lr: Double): String = {
    val sig = (w: String) => s"1.0/(1.0+exp(-(x1*$w.w1 + x2*$w.w2 + $w.b)))"
    val chain = (1 to steps).map { i =>
      val p = sig("w")
      s"""g$i AS (SELECT sum(($p - y)*x1) AS g1, sum(($p - y)*x2) AS g2,
          sum($p - y) AS gb FROM d, w${i - 1} w),
        w$i AS (SELECT w.w1 - $lr*(g.g1/n.n) AS w1, w.w2 - $lr*(g.g2/n.n) AS w2,
          w.b - $lr*(g.gb/n.n) AS b FROM w${i - 1} w, g$i g, n)"""
    }.mkString(",\n      ")
    s"""WITH d AS (SELECT l_quantity::DOUBLE AS x1, l_linenumber::DOUBLE AS x2,
        CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y FROM lineitem),
      n AS (SELECT count(*)::DOUBLE AS n FROM d),
      w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS b),
      $chain
      SELECT round(w1, 6) AS w_quantity, round(w2, 6) AS w_linenumber,
        round(b, 6) AS bias FROM w$steps"""
  }

  /** Gradient-trained logistic readout (the reference's train-loop stage):
    * 3 full-batch GD steps, each ONE distributed agg pass. */
  private[graft] val qFitGd = Q("bp4_fit_gd",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
      val (w, b) = Blueprint.fitLogisticGD(li, "feat", "y", dim = 2,
        steps = 3, lr = 0.01)
      import s.implicits._
      Seq((w(0), w(1), b)).toDF("__w0", "__w1", "__b")
        .select(round(col("__w0"), 6).as("w_quantity"),
          round(col("__w1"), 6).as("w_linenumber"),
          round(col("__b"), 6).as("bias"))
    },
    Some(fitGdOracle(steps = 3, lr = 0.01)))

  /** bp5's oracle: backprop through the one-hidden-layer network unrolled
    * step by step — per step, a forward CTE (hidden activations), an
    * output CTE (residual `dm`), a gradient CTE (the nine sums of
    * [[graft.pipeline.Blueprint.fitMlpGD]]'s single agg pass, same product
    * order), and an update CTE (`θ − lr·(g/n)`). Parameter naming:
    * `wIJ` = w1(feature I)(hidden J), `cJ` = b1(J), `vJ` = w2(J),
    * `vb` = b2. */
  private[graft] def fitMlpOracle(steps: Int, lr: Double): String = {
    val chain = (1 to steps).map { k =>
      s"""p$k AS (SELECT d.x1, d.x2, d.y, w.*,
          1/(1+exp(-((x1*w.w00 + x2*w.w10) + w.c0))) AS h0,
          1/(1+exp(-((x1*w.w01 + x2*w.w11) + w.c1))) AS h1
        FROM d, w${k - 1} w),
      q$k AS (SELECT *, 1/(1+exp(-((h0*v0 + h1*v1) + vb))) - y AS dm FROM p$k),
      g$k AS (SELECT
        sum(dm * v0 * (h0*(1-h0)) * x1) AS gw00,
        sum(dm * v1 * (h1*(1-h1)) * x1) AS gw01,
        sum(dm * v0 * (h0*(1-h0)) * x2) AS gw10,
        sum(dm * v1 * (h1*(1-h1)) * x2) AS gw11,
        sum(dm * v0 * (h0*(1-h0))) AS gc0,
        sum(dm * v1 * (h1*(1-h1))) AS gc1,
        sum(dm * h0) AS gv0, sum(dm * h1) AS gv1, sum(dm) AS gb FROM q$k),
      w$k AS (SELECT
        w.w00 - $lr*(g.gw00/n.n) AS w00, w.w01 - $lr*(g.gw01/n.n) AS w01,
        w.w10 - $lr*(g.gw10/n.n) AS w10, w.w11 - $lr*(g.gw11/n.n) AS w11,
        w.c0 - $lr*(g.gc0/n.n) AS c0, w.c1 - $lr*(g.gc1/n.n) AS c1,
        w.v0 - $lr*(g.gv0/n.n) AS v0, w.v1 - $lr*(g.gv1/n.n) AS v1,
        w.vb - $lr*(g.gb/n.n) AS vb FROM w${k - 1} w, g$k g, n)"""
    }.mkString(",\n      ")
    s"""WITH d AS (SELECT l_quantity::DOUBLE AS x1, l_linenumber::DOUBLE AS x2,
        CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y FROM lineitem),
      n AS (SELECT count(*)::DOUBLE AS n FROM d),
      w0 AS (SELECT 0.1 AS w00, -0.1 AS w01, 0.2 AS w10, -0.2 AS w11,
        0.0 AS c0, 0.0 AS c1, 0.1 AS v0, 0.2 AS v1, 0.0 AS vb),
      $chain
      SELECT round(w00, 6) AS w00, round(w01, 6) AS w01,
        round(w10, 6) AS w10, round(w11, 6) AS w11,
        round(c0, 6) AS c0, round(c1, 6) AS c1,
        round(v0, 6) AS v0, round(v1, 6) AS v1,
        round(vb, 6) AS vb FROM w$steps"""
  }

  /** Gradient-trained HIDDEN layer: 2 backprop steps through a 2-unit
    * sigmoid MLP, each step one distributed agg pass. */
  private[graft] val qFitMlp = Q("bp5_fit_mlp_gd",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitMlpGD(li, "feat", "y", dim = 2, hidden = 2,
        steps = 2, lr = 0.05)
      import s.implicits._
      Seq((p.w1(0)(0), p.w1(0)(1), p.w1(1)(0), p.w1(1)(1),
          p.b1(0), p.b1(1), p.w2(0), p.w2(1), p.b2))
        .toDF("__a", "__b", "__c", "__d", "__e", "__f", "__g", "__h", "__i")
        .select(round(col("__a"), 6).as("w00"), round(col("__b"), 6).as("w01"),
          round(col("__c"), 6).as("w10"), round(col("__d"), 6).as("w11"),
          round(col("__e"), 6).as("c0"), round(col("__f"), 6).as("c1"),
          round(col("__g"), 6).as("v0"), round(col("__h"), 6).as("v1"),
          round(col("__i"), 6).as("vb"))
    },
    Some(fitMlpOracle(steps = 2, lr = 0.05)))

  /** bp6's oracle: the GNN layer unrolled step by step — per step a
    * message CTE (per-child hidden activation from the previous step's
    * weights), the SCATTER-SUM CTE (per-parent message sum, zero when
    * childless), the residual CTE, the readout-gradient aggregate over
    * parents, and the JOIN-BACK aggregate over child rows (the adjoint of
    * the scatter-sum), then the update CTE. Parameter naming: a1/a2 =
    * w1(feature)(0), c = b1(0), v = w2(0), vb = b2. */
  private[graft] def fitGnnOracle(steps: Int, lr: Double): String = {
    val chain = (1 to steps).map { k =>
      s"""h$k AS (SELECT l_orderkey, x1, x2,
          1/(1+exp(-((x1*w.a1 + x2*w.a2) + w.c))) AS h FROM ch, w${k - 1} w),
      ag$k AS (SELECT p.o_orderkey, p.y, coalesce(s.a, 0.0) AS a0
        FROM par p LEFT JOIN
          (SELECT l_orderkey, sum(h) AS a FROM h$k GROUP BY 1) s
          ON p.o_orderkey = s.l_orderkey),
      d$k AS (SELECT a.o_orderkey, a.y, a.a0,
          1/(1+exp(-((a0*w.v) + w.vb))) - y AS dm FROM ag$k a, w${k - 1} w),
      gd$k AS (SELECT sum(dm*a0) AS gv, sum(dm) AS gb FROM d$k),
      bk$k AS (SELECT
          sum(d.dm * w.v * (h.h*(1-h.h)) * h.x1) AS ga1,
          sum(d.dm * w.v * (h.h*(1-h.h)) * h.x2) AS ga2,
          sum(d.dm * w.v * (h.h*(1-h.h))) AS gc
        FROM h$k h JOIN d$k d ON h.l_orderkey = d.o_orderkey, w${k - 1} w),
      w$k AS (SELECT
          w.a1 - $lr*(b.ga1/n.n) AS a1, w.a2 - $lr*(b.ga2/n.n) AS a2,
          w.c - $lr*(b.gc/n.n) AS c, w.v - $lr*(g.gv/n.n) AS v,
          w.vb - $lr*(g.gb/n.n) AS vb
        FROM w${k - 1} w, gd$k g, bk$k b, n)"""
    }.mkString(",\n      ")
    s"""WITH ch AS (SELECT l_orderkey, l_quantity::DOUBLE AS x1,
          l_linenumber::DOUBLE AS x2 FROM lineitem),
      par AS (SELECT o_orderkey,
        CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y FROM orders),
      n AS (SELECT count(*)::DOUBLE AS n FROM par),
      w0 AS (SELECT 0.1 AS a1, 0.2 AS a2, 0.0 AS c, 0.1 AS v, 0.0 AS vb),
      $chain
      SELECT round(a1, 6) AS w_quantity, round(a2, 6) AS w_linenumber,
        round(c, 6) AS bias_msg, round(v, 6) AS w_readout,
        round(vb, 6) AS bias_out FROM w$steps"""
  }

  /** One trainable GNN layer: 2 backprop steps where the gradient flows
    * THROUGH the A7 scatter-sum (per-child message layer upstream of the
    * per-order aggregation), each step = one Spark action (the backward
    * sums ride the scatter-sum, one global sum returns the gradients). */
  private[graft] val qFitGnn = Q("bp6_fit_gnn_gd",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"))
      val ord = t(s, d, "orders").select(col("o_orderkey"),
        when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitGnnGD(li, Seq("l_orderkey"), "feat",
        ord, Seq("o_orderkey"), "y", dim = 2, hidden = 1, steps = 2, lr = 0.05)
      import s.implicits._
      Seq((p.w1(0)(0), p.w1(1)(0), p.b1(0), p.w2(0), p.b2))
        .toDF("__a", "__b", "__c", "__d", "__e")
        .select(round(col("__a"), 6).as("w_quantity"),
          round(col("__b"), 6).as("w_linenumber"),
          round(col("__c"), 6).as("bias_msg"),
          round(col("__d"), 6).as("w_readout"),
          round(col("__e"), 6).as("bias_out"))
    },
    Some(fitGnnOracle(steps = 2, lr = 0.05)))

  /** bp7's oracle: the HETERO layer unrolled — per step TWO message CTEs
    * (one per edge type: lineitem→orders forward, orders→customer
    * REVERSE), each scatter-summed and LEFT-joined onto the parents, the
    * readout over the cross-type SUM, one readout-gradient aggregate, and
    * one join-back aggregate PER TYPE (the per-type adjoint). Naming:
    * a1/a2/c1 = type-0 (lineitem) message params, d1/c2 = type-1
    * (customer-via-reverse-edge) params, v/vb = the shared readout. */
  private[graft] def fitHeteroGnnOracle(steps: Int, lr: Double): String = {
    val chain = (1 to steps).map { k =>
      s"""h1$k AS (SELECT k, x1, x2,
          1/(1+exp(-((x1*w.a1 + x2*w.a2) + w.c1))) AS h FROM ch1, w${k - 1} w),
      h2$k AS (SELECT k, z1,
          1/(1+exp(-((z1*w.d1) + w.c2))) AS h FROM ch2, w${k - 1} w),
      ag$k AS (SELECT p.k, p.y,
          coalesce(s1.a, 0.0) AS a1s, coalesce(s2.a, 0.0) AS a2s
        FROM par p
        LEFT JOIN (SELECT k, sum(h) AS a FROM h1$k GROUP BY 1) s1 ON p.k = s1.k
        LEFT JOIN (SELECT k, sum(h) AS a FROM h2$k GROUP BY 1) s2 ON p.k = s2.k),
      d$k AS (SELECT a.k, a.y,  a.a1s, a.a2s,
          1/(1+exp(-(((a1s + a2s)*w.v) + w.vb))) - y AS dm FROM ag$k a, w${k - 1} w),
      gd$k AS (SELECT sum(dm*(a1s + a2s)) AS gv, sum(dm) AS gb FROM d$k),
      bk1$k AS (SELECT
          sum(d.dm * w.v * (h.h*(1-h.h)) * h.x1) AS ga1,
          sum(d.dm * w.v * (h.h*(1-h.h)) * h.x2) AS ga2,
          sum(d.dm * w.v * (h.h*(1-h.h))) AS gc1
        FROM h1$k h JOIN d$k d ON h.k = d.k, w${k - 1} w),
      bk2$k AS (SELECT
          sum(d.dm * w.v * (h.h*(1-h.h)) * h.z1) AS gd1,
          sum(d.dm * w.v * (h.h*(1-h.h))) AS gc2
        FROM h2$k h JOIN d$k d ON h.k = d.k, w${k - 1} w),
      w$k AS (SELECT
          w.a1 - $lr*(b1.ga1/n.n) AS a1, w.a2 - $lr*(b1.ga2/n.n) AS a2,
          w.c1 - $lr*(b1.gc1/n.n) AS c1,
          w.d1 - $lr*(b2.gd1/n.n) AS d1, w.c2 - $lr*(b2.gc2/n.n) AS c2,
          w.v - $lr*(g.gv/n.n) AS v, w.vb - $lr*(g.gb/n.n) AS vb
        FROM w${k - 1} w, gd$k g, bk1$k b1, bk2$k b2, n)"""
    }.mkString(",\n      ")
    s"""WITH ch1 AS (SELECT l_orderkey AS k, l_quantity::DOUBLE AS x1,
          l_linenumber::DOUBLE AS x2 FROM lineitem),
      ch2 AS (SELECT o_orderkey AS k, c_acctbal::DOUBLE / 10000.0 AS z1
        FROM orders JOIN customer ON o_custkey = c_custkey),
      par AS (SELECT o_orderkey AS k,
        CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y FROM orders),
      n AS (SELECT count(*)::DOUBLE AS n FROM par),
      w0 AS (SELECT 0.1 AS a1, 0.2 AS a2, 0.0 AS c1,
        0.1 AS d1, 0.0 AS c2, 0.1 AS v, 0.0 AS vb),
      $chain
      SELECT round(a1, 6) AS w_quantity, round(a2, 6) AS w_linenumber,
        round(c1, 6) AS bias_msg_li, round(d1, 6) AS w_acctbal,
        round(c2, 6) AS bias_msg_cust, round(v, 6) AS w_readout,
        round(vb, 6) AS bias_out FROM w$steps"""
  }

  /** §2.9 + verdict-11 task #2: JOINT multi-edge-type GNN training — two
    * edge groups (the lineitem→orders FK and the orders→customer REVERSE
    * edge, J5) each with its own message layer, aggregates SUMMED into one
    * shared readout (the reference's HeteroConv semantics,
    * nn/models/hetero_gnn.py:25-36), 2 backprop steps. */
  private[graft] val qFitHeteroGnn = Q("bp7_fit_hetero_gd",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"))
      val custRev = t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          array(col("c_acctbal").cast("double") / 10000.0).as("feat"))
      val ord = t(s, d, "orders").select(col("o_orderkey"),
        when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitHeteroGnnGD(
        Seq(Blueprint.EdgeGroup(li, Seq("l_orderkey"), "feat", dim = 2),
          Blueprint.EdgeGroup(custRev, Seq("o_orderkey"), "feat", dim = 1)),
        ord, Seq("o_orderkey"), "y", hidden = 1, steps = 2, lr = 0.05)
      import s.implicits._
      Seq((p.w1(0)(0)(0), p.w1(0)(1)(0), p.b1(0)(0),
          p.w1(1)(0)(0), p.b1(1)(0), p.w2(0), p.b2))
        .toDF("__a", "__b", "__c", "__d", "__e", "__f", "__g")
        .select(round(col("__a"), 6).as("w_quantity"),
          round(col("__b"), 6).as("w_linenumber"),
          round(col("__c"), 6).as("bias_msg_li"),
          round(col("__d"), 6).as("w_acctbal"),
          round(col("__e"), 6).as("bias_msg_cust"),
          round(col("__f"), 6).as("w_readout"),
          round(col("__g"), 6).as("bias_out"))
    },
    Some(fitHeteroGnnOracle(steps = 2, lr = 0.05)))

  /** bp8's oracle: the ATTENTION layer unrolled — per step a message CTE
    * (h and the trainable score e = x·u), the stable per-parent softmax in
    * two window CTEs (subtract the group max, normalize by the group
    * exp-sum — A9's device), the α-weighted scatter-sum, the residual,
    * the readout-gradient aggregate, and ONE join-back aggregate whose
    * sums carry the softmax Jacobian as the per-edge scalar
    * dm·α·(h·v − a·v): u's gradient needs nothing beyond the same
    * join-back. Naming: a1/a2/c = message params, u1/u2 = attention
    * scorer, v/vb = readout. */
  private[graft] def fitAttnGnnOracle(steps: Int, lr: Double): String = {
    val chain = (1 to steps).map { k =>
      s"""h$k AS (SELECT k, x1, x2,
          1/(1+exp(-((x1*w.a1 + x2*w.a2) + w.c))) AS h,
          x1*w.u1 + x2*w.u2 AS e FROM ch, w${k - 1} w),
      ex$k AS (SELECT k, x1, x2, h,
          exp(e - max(e) OVER (PARTITION BY k)) AS st FROM h$k),
      al$k AS (SELECT k, x1, x2, h,
          st / sum(st) OVER (PARTITION BY k) AS al FROM ex$k),
      ag$k AS (SELECT p.k, p.y, coalesce(s.a, 0.0) AS a0
        FROM par p LEFT JOIN
          (SELECT k, sum(al*h) AS a FROM al$k GROUP BY 1) s ON p.k = s.k),
      d$k AS (SELECT a.k, a.y, a.a0,
          1/(1+exp(-((a0*w.v) + w.vb))) - y AS dm FROM ag$k a, w${k - 1} w),
      gd$k AS (SELECT sum(dm*a0) AS gv, sum(dm) AS gb FROM d$k),
      bk$k AS (SELECT
          sum(d.dm * w.v * a.al * (a.h*(1-a.h)) * a.x1) AS ga1,
          sum(d.dm * w.v * a.al * (a.h*(1-a.h)) * a.x2) AS ga2,
          sum(d.dm * w.v * a.al * (a.h*(1-a.h))) AS gc,
          sum(d.dm * a.al * (a.h*w.v - d.a0*w.v) * a.x1) AS gu1,
          sum(d.dm * a.al * (a.h*w.v - d.a0*w.v) * a.x2) AS gu2
        FROM al$k a JOIN d$k d ON a.k = d.k, w${k - 1} w),
      w$k AS (SELECT
          w.a1 - $lr*(b.ga1/n.n) AS a1, w.a2 - $lr*(b.ga2/n.n) AS a2,
          w.c - $lr*(b.gc/n.n) AS c,
          w.u1 - $lr*(b.gu1/n.n) AS u1, w.u2 - $lr*(b.gu2/n.n) AS u2,
          w.v - $lr*(g.gv/n.n) AS v, w.vb - $lr*(g.gb/n.n) AS vb
        FROM w${k - 1} w, gd$k g, bk$k b, n)"""
    }.mkString(",\n      ")
    s"""WITH ch AS (SELECT l_orderkey AS k, l_quantity::DOUBLE AS x1,
          l_linenumber::DOUBLE AS x2 FROM lineitem),
      par AS (SELECT o_orderkey AS k,
        CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y FROM orders),
      n AS (SELECT count(*)::DOUBLE AS n FROM par),
      w0 AS (SELECT 0.1 AS a1, 0.2 AS a2, 0.0 AS c,
        0.05 AS u1, 0.1 AS u2, 0.1 AS v, 0.0 AS vb),
      $chain
      SELECT round(a1, 6) AS w_quantity, round(a2, 6) AS w_linenumber,
        round(c, 6) AS bias_msg, round(u1, 6) AS u_quantity,
        round(u2, 6) AS u_linenumber, round(v, 6) AS w_readout,
        round(vb, 6) AS bias_out FROM w$steps"""
  }

  /** §2.9 + verdict-11 task #3: backprop THROUGH the A9 softmax attention
    * aggregation (the reference trains AttentionAggregation,
    * nn/aggr/attention.py:10-41) — trainable score e = x·u, per-parent
    * softmax weights, α-weighted scatter-sum, 2 backprop steps; the
    * attention gradient's per-parent sums ride the same forward
    * aggregate as the message-layer sums. */
  private[graft] val qFitAttnGnn = Q("bp8_fit_attn_gd",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"))
      val ord = t(s, d, "orders").select(col("o_orderkey"),
        when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitAttnGnnGD(li, Seq("l_orderkey"), "feat",
        ord, Seq("o_orderkey"), "y", dim = 2, hidden = 1, steps = 2, lr = 0.05)
      import s.implicits._
      Seq((p.w1(0)(0), p.w1(1)(0), p.b1(0), p.u(0), p.u(1), p.w2(0), p.b2))
        .toDF("__a", "__b", "__c", "__d", "__e", "__f", "__g")
        .select(round(col("__a"), 6).as("w_quantity"),
          round(col("__b"), 6).as("w_linenumber"),
          round(col("__c"), 6).as("bias_msg"),
          round(col("__d"), 6).as("u_quantity"),
          round(col("__e"), 6).as("u_linenumber"),
          round(col("__f"), 6).as("w_readout"),
          round(col("__g"), 6).as("bias_out"))
    },
    Some(fitAttnGnnOracle(steps = 2, lr = 0.05)))

  /** The shared deterministic init of bp16 (Spark side and oracle
    * interpolation): 2 heads over hidden=1 messages, head-asymmetric
    * score vectors so the two softmaxes diverge from step 0. */
  private[graft] def bp16Init = graft.pipeline.Blueprint.MhaGnnParams(
    Array(Array(0.1), Array(0.2)), Array(0.0),
    Array(Array(0.05, 0.1), Array(-0.1, 0.15)),
    Array(Array(0.1), Array(-0.1)), 0.0)

  /** bp16's oracle: [[fitAttnGnnOracle]] at TWO heads — per step one
    * message CTE carrying both trainable scores, the stable per-parent
    * softmax window pair PER HEAD, the two α-weighted scatter-sums, the
    * concat readout residual, and ONE join-back aggregate whose sums
    * carry each head's softmax Jacobian `dm·α^g·(h·v_g − a_g·v_g)` plus
    * the head-accumulated message mix `(v0·α⁰ + v1·α¹)` for the shared
    * w1/b1. */
  private[graft] def fitMhaGnnOracle(steps: Int, lr: Double): String = {
    val p = bp16Init
    val chain = (1 to steps).map { k =>
      s"""h$k AS (SELECT k, x1, x2,
          1/(1+exp(-((x1*w.a1 + x2*w.a2) + w.c))) AS h,
          x1*w.u01 + x2*w.u02 AS e0, x1*w.u11 + x2*w.u12 AS e1
        FROM ch, w${k - 1} w),
      ex$k AS (SELECT k, x1, x2, h,
          exp(e0 - max(e0) OVER (PARTITION BY k)) AS st0,
          exp(e1 - max(e1) OVER (PARTITION BY k)) AS st1 FROM h$k),
      al$k AS (SELECT k, x1, x2, h,
          st0 / sum(st0) OVER (PARTITION BY k) AS al0,
          st1 / sum(st1) OVER (PARTITION BY k) AS al1 FROM ex$k),
      ag$k AS (SELECT p.k, p.y, coalesce(s.sa0, 0.0) AS aa0,
          coalesce(s.sa1, 0.0) AS aa1
        FROM par p LEFT JOIN
          (SELECT k, sum(al0*h) AS sa0, sum(al1*h) AS sa1 FROM al$k GROUP BY 1) s
          ON p.k = s.k),
      d$k AS (SELECT a.k, a.y, a.aa0, a.aa1,
          1/(1+exp(-((aa0*w.v0 + aa1*w.v1) + w.vb))) - y AS dm
        FROM ag$k a, w${k - 1} w),
      gd$k AS (SELECT sum(dm*aa0) AS gv0, sum(dm*aa1) AS gv1, sum(dm) AS gb
        FROM d$k),
      bk$k AS (SELECT
          sum(d.dm * (w.v0*a.al0 + w.v1*a.al1) * (a.h*(1-a.h)) * a.x1) AS ga1,
          sum(d.dm * (w.v0*a.al0 + w.v1*a.al1) * (a.h*(1-a.h)) * a.x2) AS ga2,
          sum(d.dm * (w.v0*a.al0 + w.v1*a.al1) * (a.h*(1-a.h))) AS gc,
          sum(d.dm * a.al0 * (a.h*w.v0 - d.aa0*w.v0) * a.x1) AS gu01,
          sum(d.dm * a.al0 * (a.h*w.v0 - d.aa0*w.v0) * a.x2) AS gu02,
          sum(d.dm * a.al1 * (a.h*w.v1 - d.aa1*w.v1) * a.x1) AS gu11,
          sum(d.dm * a.al1 * (a.h*w.v1 - d.aa1*w.v1) * a.x2) AS gu12
        FROM al$k a JOIN d$k d ON a.k = d.k, w${k - 1} w),
      w$k AS (SELECT
          w.a1 - $lr*(b.ga1/n.n) AS a1, w.a2 - $lr*(b.ga2/n.n) AS a2,
          w.c - $lr*(b.gc/n.n) AS c,
          w.u01 - $lr*(b.gu01/n.n) AS u01, w.u02 - $lr*(b.gu02/n.n) AS u02,
          w.u11 - $lr*(b.gu11/n.n) AS u11, w.u12 - $lr*(b.gu12/n.n) AS u12,
          w.v0 - $lr*(g.gv0/n.n) AS v0, w.v1 - $lr*(g.gv1/n.n) AS v1,
          w.vb - $lr*(g.gb/n.n) AS vb
        FROM w${k - 1} w, gd$k g, bk$k b, n)"""
    }.mkString(",\n      ")
    s"""WITH ch AS (SELECT l_orderkey AS k, l_quantity::DOUBLE AS x1,
          l_linenumber::DOUBLE AS x2 FROM lineitem),
      par AS (SELECT o_orderkey AS k,
        CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y FROM orders),
      n AS (SELECT count(*)::DOUBLE AS n FROM par),
      w0 AS (SELECT (${p.w1(0)(0)})::DOUBLE AS a1, (${p.w1(1)(0)})::DOUBLE AS a2,
        (${p.b1(0)})::DOUBLE AS c,
        (${p.u(0)(0)})::DOUBLE AS u01, (${p.u(0)(1)})::DOUBLE AS u02,
        (${p.u(1)(0)})::DOUBLE AS u11, (${p.u(1)(1)})::DOUBLE AS u12,
        (${p.w2(0)(0)})::DOUBLE AS v0, (${p.w2(1)(0)})::DOUBLE AS v1,
        (${p.b2})::DOUBLE AS vb),
      $chain
      SELECT round(a1, 6) AS w_quantity, round(a2, 6) AS w_linenumber,
        round(c, 6) AS bias_msg,
        round(u01, 6) AS u0_quantity, round(u02, 6) AS u0_linenumber,
        round(u11, 6) AS u1_quantity, round(u12, 6) AS u1_linenumber,
        round(v0, 6) AS v_head0, round(v1, 6) AS v_head1,
        round(vb, 6) AS bias_out FROM w$steps"""
  }

  /** Multi-head attention aggregation trained end-to-end (bp16) — the
    * reference's GNN tune space pairs the attention aggregation with
    * num_heads > 1 (blueprint_mlflow.py:267): TWO independent trainable
    * score vectors over the shared lineitem messages, per-head per-parent
    * softmaxes, concat readout, 2 backprop steps. Runs bp8's trainer
    * (`fitHeteroGnnGD`'s attention path, heads read off the parameter
    * shapes): one Spark action per step, the two window pairs sharing
    * the scatter-sum's parent-key exchange. */
  private[graft] val qFitMhaGnn = Q("bp16_fit_mha_gnn",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"))
      val ord = t(s, d, "orders").select(col("o_orderkey"),
        when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitMhaGnnGD(li, Seq("l_orderkey"), "feat",
        ord, Seq("o_orderkey"), "y", dim = 2, hidden = 1, heads = 2,
        steps = 2, lr = 0.05, init = bp16Init)
      s.range(1).select(
        round(lit(p.w1(0)(0)), 6).as("w_quantity"),
        round(lit(p.w1(1)(0)), 6).as("w_linenumber"),
        round(lit(p.b1(0)), 6).as("bias_msg"),
        round(lit(p.u(0)(0)), 6).as("u0_quantity"),
        round(lit(p.u(0)(1)), 6).as("u0_linenumber"),
        round(lit(p.u(1)(0)), 6).as("u1_quantity"),
        round(lit(p.u(1)(1)), 6).as("u1_linenumber"),
        round(lit(p.w2(0)(0)), 6).as("v_head0"),
        round(lit(p.w2(1)(0)), 6).as("v_head1"),
        round(lit(p.b2), 6).as("bias_out"))
    },
    Some(fitMhaGnnOracle(steps = 2, lr = 0.05)))

  /** bp9's oracle: the DEPTH-2 network unrolled — per step a level-1
    * message CTE (lineitem), its scatter-sum into orders, the level-2
    * message CTE over [aggregate ; o_totalprice], its scatter-sum into
    * customers, the residual, the readout aggregate, JOIN-BACK 1
    * (customer residual onto order rows: level-2 grads + the per-order
    * chain scalar γ = dm·v·σ'·wa), and JOIN-BACK 2 (γ onto lineitem
    * rows: level-1 grads), then the update. Naming: a1/a2/c1 = level-1,
    * wa/wz/c2 = level-2 ([A;z] halves), v/vb = readout. */
  private[graft] def fitGnn2Oracle(steps: Int, lr: Double): String = {
    val chain = (1 to steps).map { k =>
      s"""m1$k AS (SELECT mk, x1, x2,
          1/(1+exp(-((x1*w.a1 + x2*w.a2) + w.c1))) AS m FROM lv, w${k - 1} w),
      ag$k AS (SELECT md.mid, md.rk, md.z1, coalesce(s.a, 0.0) AS A
        FROM md LEFT JOIN
          (SELECT mk, sum(m) AS a FROM m1$k GROUP BY 1) s ON md.mid = s.mk),
      m2$k AS (SELECT a.mid, a.rk, a.z1, a.A,
          1/(1+exp(-((A*w.wa + z1*w.wz) + w.c2))) AS m FROM ag$k a, w${k - 1} w),
      rg$k AS (SELECT r.rid, r.y, coalesce(s.b, 0.0) AS B
        FROM rt r LEFT JOIN
          (SELECT rk, sum(m) AS b FROM m2$k GROUP BY 1) s ON r.rid = s.rk),
      d$k AS (SELECT g.rid, g.y, g.B,
          1/(1+exp(-((B*w.v) + w.vb))) - y AS dm FROM rg$k g, w${k - 1} w),
      gr$k AS (SELECT sum(dm*B) AS gv, sum(dm) AS gvb FROM d$k),
      bk$k AS (SELECT m.mid, m.z1, m.A, m.m, d.dm
        FROM m2$k m JOIN d$k d ON m.rk = d.rid),
      g2$k AS (SELECT
          sum(b.dm * w.v * (b.m*(1-b.m)) * b.A) AS gwa,
          sum(b.dm * w.v * (b.m*(1-b.m)) * b.z1) AS gwz,
          sum(b.dm * w.v * (b.m*(1-b.m))) AS gc2
        FROM bk$k b, w${k - 1} w),
      gm$k AS (SELECT b.mid,
          b.dm * w.v * (b.m*(1-b.m)) * w.wa AS g FROM bk$k b, w${k - 1} w),
      g1$k AS (SELECT
          sum(g.g * (h.m*(1-h.m)) * h.x1) AS ga1,
          sum(g.g * (h.m*(1-h.m)) * h.x2) AS ga2,
          sum(g.g * (h.m*(1-h.m))) AS gc1
        FROM m1$k h JOIN gm$k g ON h.mk = g.mid),
      w$k AS (SELECT
          w.a1 - $lr*(g1.ga1/n.n) AS a1, w.a2 - $lr*(g1.ga2/n.n) AS a2,
          w.c1 - $lr*(g1.gc1/n.n) AS c1,
          w.wa - $lr*(g2.gwa/n.n) AS wa, w.wz - $lr*(g2.gwz/n.n) AS wz,
          w.c2 - $lr*(g2.gc2/n.n) AS c2,
          w.v - $lr*(gr.gv/n.n) AS v, w.vb - $lr*(gr.gvb/n.n) AS vb
        FROM w${k - 1} w, gr$k gr, g2$k g2, g1$k g1, n)"""
    }.mkString(",\n      ")
    s"""WITH lv AS (SELECT l_orderkey AS mk, l_quantity::DOUBLE AS x1,
          l_linenumber::DOUBLE AS x2 FROM lineitem),
      md AS (SELECT o_orderkey AS mid, o_custkey AS rk,
        o_totalprice::DOUBLE / 100000.0 AS z1 FROM orders),
      rt AS (SELECT c_custkey AS rid,
        CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END AS y
        FROM customer),
      n AS (SELECT count(*)::DOUBLE AS n FROM rt),
      w0 AS (SELECT 0.1 AS a1, 0.2 AS a2, 0.0 AS c1,
        0.1 AS wa, 0.2 AS wz, 0.0 AS c2, 0.1 AS v, 0.0 AS vb),
      $chain
      SELECT round(a1, 6) AS w_quantity, round(a2, 6) AS w_linenumber,
        round(c1, 6) AS bias_l1, round(wa, 6) AS w_agg,
        round(wz, 6) AS w_totalprice, round(c2, 6) AS bias_l2,
        round(v, 6) AS w_readout, round(vb, 6) AS bias_out FROM w$steps"""
  }

  /** §2.9: DEPTH-2 GNN training — backprop through two NESTED
    * scatter-sums (customer ← orders ← lineitem, the reference's stacked
    * HeteroGNN layers, nn/models/hetero_gnn.py:60-105), 2 steps. The
    * engine rides every gradient on the forward aggregates, one Spark
    * action per step; the oracle's SQL still unrolls the chain rule as
    * two join-backs, the definition the engine must equal. */
  private[graft] val qFitGnn2 = Q("bp9_fit_gnn2_gd",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"))
      val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        array(col("o_totalprice").cast("double") / 100000.0).as("feat"))
      val cust = t(s, d, "customer").select(col("c_custkey"),
        when(col("c_mktsegment") === "BUILDING", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitGnn2GD(li, Seq("l_orderkey"), "feat",
        ord, Seq("o_orderkey"), Seq("o_custkey"), "feat", midDim = 1,
        cust, Seq("c_custkey"), "y", leafDim = 2, h1 = 1, h2 = 1,
        steps = 2, lr = 0.05)
      import s.implicits._
      Seq((p.w1(0)(0), p.w1(1)(0), p.b1(0), p.w2(0)(0), p.w2(1)(0), p.b2(0),
          p.v(0), p.vb))
        .toDF("__a", "__b", "__c", "__d", "__e", "__f", "__g", "__h")
        .select(round(col("__a"), 6).as("w_quantity"),
          round(col("__b"), 6).as("w_linenumber"),
          round(col("__c"), 6).as("bias_l1"),
          round(col("__d"), 6).as("w_agg"),
          round(col("__e"), 6).as("w_totalprice"),
          round(col("__f"), 6).as("bias_l2"),
          round(col("__g"), 6).as("w_readout"),
          round(col("__h"), 6).as("bias_out"))
    },
    Some(fitGnn2Oracle(steps = 2, lr = 0.05)))

  /** bp10's oracle: the hetero layer with ATTENTION aggregation unrolled —
    * per step, each edge type gets bp8's CTE trio (message h + trainable
    * score e = x·u(t), the stable two-window softmax, the α-weighted
    * scatter-sum), the parents LEFT-join both aggregates into one shared
    * readout over the cross-type SUM, and each type's join-back carries
    * its own softmax Jacobian dm·α·(h·v − s_t) where s_t projects that
    * type's OWN aggregate (cross-type terms vanish — another type's
    * aggregate does not read this type's scores). Naming: a1/a2/c1/u1/u2
    * = customer-type params, d1/c2/su = supplier-type params, v/vb = the
    * shared readout. */
  private[graft] def fitHeteroAttnGnnOracle(steps: Int, lr: Double): String = {
    val chain = (1 to steps).map { k =>
      s"""h1$k AS (SELECT k, x1, x2,
          1/(1+exp(-((x1*w.a1 + x2*w.a2) + w.c1))) AS h,
          x1*w.u1 + x2*w.u2 AS e FROM ch1, w${k - 1} w),
      ex1$k AS (SELECT k, x1, x2, h,
          exp(e - max(e) OVER (PARTITION BY k)) AS st FROM h1$k),
      al1$k AS (SELECT k, x1, x2, h,
          st / sum(st) OVER (PARTITION BY k) AS al FROM ex1$k),
      h2$k AS (SELECT k, z1,
          1/(1+exp(-((z1*w.d1) + w.c2))) AS h, z1*w.su AS e FROM ch2, w${k - 1} w),
      ex2$k AS (SELECT k, z1, h,
          exp(e - max(e) OVER (PARTITION BY k)) AS st FROM h2$k),
      al2$k AS (SELECT k, z1, h,
          st / sum(st) OVER (PARTITION BY k) AS al FROM ex2$k),
      ag$k AS (SELECT p.k, p.y,
          coalesce(s1.a, 0.0) AS a1s, coalesce(s2.a, 0.0) AS a2s
        FROM par p
        LEFT JOIN (SELECT k, sum(al*h) AS a FROM al1$k GROUP BY 1) s1 ON p.k = s1.k
        LEFT JOIN (SELECT k, sum(al*h) AS a FROM al2$k GROUP BY 1) s2 ON p.k = s2.k),
      d$k AS (SELECT a.k, a.y, a.a1s, a.a2s,
          1/(1+exp(-(((a1s + a2s)*w.v) + w.vb))) - y AS dm FROM ag$k a, w${k - 1} w),
      gd$k AS (SELECT sum(dm*(a1s + a2s)) AS gv, sum(dm) AS gb FROM d$k),
      bk1$k AS (SELECT
          sum(d.dm * w.v * a.al * (a.h*(1-a.h)) * a.x1) AS ga1,
          sum(d.dm * w.v * a.al * (a.h*(1-a.h)) * a.x2) AS ga2,
          sum(d.dm * w.v * a.al * (a.h*(1-a.h))) AS gc1,
          sum(d.dm * a.al * (a.h*w.v - d.a1s*w.v) * a.x1) AS gu1,
          sum(d.dm * a.al * (a.h*w.v - d.a1s*w.v) * a.x2) AS gu2
        FROM al1$k a JOIN d$k d ON a.k = d.k, w${k - 1} w),
      bk2$k AS (SELECT
          sum(d.dm * w.v * a.al * (a.h*(1-a.h)) * a.z1) AS gd1,
          sum(d.dm * w.v * a.al * (a.h*(1-a.h))) AS gc2,
          sum(d.dm * a.al * (a.h*w.v - d.a2s*w.v) * a.z1) AS gsu
        FROM al2$k a JOIN d$k d ON a.k = d.k, w${k - 1} w),
      w$k AS (SELECT
          w.a1 - $lr*(b1.ga1/n.n) AS a1, w.a2 - $lr*(b1.ga2/n.n) AS a2,
          w.c1 - $lr*(b1.gc1/n.n) AS c1,
          w.u1 - $lr*(b1.gu1/n.n) AS u1, w.u2 - $lr*(b1.gu2/n.n) AS u2,
          w.d1 - $lr*(b2.gd1/n.n) AS d1, w.c2 - $lr*(b2.gc2/n.n) AS c2,
          w.su - $lr*(b2.gsu/n.n) AS su,
          w.v - $lr*(g.gv/n.n) AS v, w.vb - $lr*(g.gb/n.n) AS vb
        FROM w${k - 1} w, gd$k g, bk1$k b1, bk2$k b2, n)"""
    }.mkString(",\n      ")
    s"""WITH ch1 AS (SELECT c_nationkey AS k, c_acctbal::DOUBLE / 10000.0 AS x1,
          (c_custkey % 100)::DOUBLE / 100.0 AS x2 FROM customer),
      ch2 AS (SELECT s_nationkey AS k, s_acctbal::DOUBLE / 10000.0 AS z1
        FROM supplier),
      par AS (SELECT n_nationkey AS k,
        CASE WHEN n_regionkey <= 1 THEN 1.0 ELSE 0.0 END AS y FROM nation),
      n AS (SELECT count(*)::DOUBLE AS n FROM par),
      w0 AS (SELECT 0.1 AS a1, 0.2 AS a2, 0.0 AS c1, 0.05 AS u1, 0.1 AS u2,
        0.1 AS d1, 0.0 AS c2, 0.05 AS su, 0.1 AS v, 0.0 AS vb),
      $chain
      SELECT round(a1, 6) AS w_acctbal_cust, round(a2, 6) AS w_custmod,
        round(c1, 6) AS bias_msg_cust, round(u1, 6) AS u_acctbal_cust,
        round(u2, 6) AS u_custmod, round(d1, 6) AS w_acctbal_supp,
        round(c2, 6) AS bias_msg_supp, round(su, 6) AS u_acctbal_supp,
        round(v, 6) AS w_readout, round(vb, 6) AS bias_out FROM w$steps"""
  }

  /** §2.9: the reference's ACTUAL tuned combination — hetero conv
    * (nn/models/hetero_gnn.py:25-36) with attention aggregation
    * (nn/aggr/attention.py:10-41); the experiment tune space is
    * choice(["attn", "sum"]) (experiments/blueprint_mlflow.py:267). Two
    * genuinely different FK relations into one parent (nation ← customer,
    * nation ← supplier) so BOTH per-type softmaxes are non-degenerate;
    * per-type trainable scorers u(t), 2 joint backprop steps. */
  private[graft] val qFitHeteroAttnGnn = Q("bp10_fit_hetero_attn_gd",
    (s, d) => {
      import graft.pipeline.Blueprint
      val cust = t(s, d, "customer").select(col("c_nationkey"),
        array(col("c_acctbal").cast("double") / 10000.0,
          (col("c_custkey") % 100).cast("double") / 100.0).as("feat"))
      val supp = t(s, d, "supplier").select(col("s_nationkey"),
        array(col("s_acctbal").cast("double") / 10000.0).as("feat"))
      val nat = t(s, d, "nation").select(col("n_nationkey"),
        when(col("n_regionkey") <= 1, 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitHeteroGnnGD(
        Seq(Blueprint.EdgeGroup(cust, Seq("c_nationkey"), "feat", dim = 2),
          Blueprint.EdgeGroup(supp, Seq("s_nationkey"), "feat", dim = 1)),
        nat, Seq("n_nationkey"), "y", hidden = 1, steps = 2, lr = 0.05,
        aggr = "attn")
      import s.implicits._
      Seq((p.w1(0)(0)(0), p.w1(0)(1)(0), p.b1(0)(0), p.u(0)(0), p.u(0)(1),
          p.w1(1)(0)(0), p.b1(1)(0), p.u(1)(0), p.w2(0), p.b2))
        .toDF("__a", "__b", "__c", "__d", "__e", "__f", "__g", "__h", "__i", "__j")
        .select(round(col("__a"), 6).as("w_acctbal_cust"),
          round(col("__b"), 6).as("w_custmod"),
          round(col("__c"), 6).as("bias_msg_cust"),
          round(col("__d"), 6).as("u_acctbal_cust"),
          round(col("__e"), 6).as("u_custmod"),
          round(col("__f"), 6).as("w_acctbal_supp"),
          round(col("__g"), 6).as("bias_msg_supp"),
          round(col("__h"), 6).as("u_acctbal_supp"),
          round(col("__i"), 6).as("w_readout"),
          round(col("__j"), 6).as("bias_out"))
    },
    Some(fitHeteroAttnGnnOracle(steps = 2, lr = 0.05)))

  /** bp11's oracle: the END-TO-END minibatch recipe unrolled — the
    * hex4(0.3) train-rest mask CTE (w6's coin), the frontier join, the
    * HGT budget sample as a row_number over the namespaced md5 coin
    * (w12's order), then bp6's 2-step training chain over the SAMPLED
    * child rows and the TRAIN parents only. */
  private[graft] def sampledTrainOracle(steps: Int, lr: Double,
      budget: Int): String = {
    val chain = (1 to steps).map { k =>
      s"""h$k AS (SELECT l_orderkey, x1, x2,
          1/(1+exp(-((x1*w.a1 + x2*w.a2) + w.c))) AS h FROM samp, w${k - 1} w),
      ag$k AS (SELECT p.o_orderkey, p.y, coalesce(s.a, 0.0) AS a0
        FROM par p LEFT JOIN
          (SELECT l_orderkey, sum(h) AS a FROM h$k GROUP BY 1) s
          ON p.o_orderkey = s.l_orderkey),
      d$k AS (SELECT a.o_orderkey, a.y, a.a0,
          1/(1+exp(-((a0*w.v) + w.vb))) - y AS dm FROM ag$k a, w${k - 1} w),
      gd$k AS (SELECT sum(dm*a0) AS gv, sum(dm) AS gb FROM d$k),
      bk$k AS (SELECT
          sum(d.dm * w.v * (h.h*(1-h.h)) * h.x1) AS ga1,
          sum(d.dm * w.v * (h.h*(1-h.h)) * h.x2) AS ga2,
          sum(d.dm * w.v * (h.h*(1-h.h))) AS gc
        FROM h$k h JOIN d$k d ON h.l_orderkey = d.o_orderkey, w${k - 1} w),
      w$k AS (SELECT
          w.a1 - $lr*(b.ga1/n.n) AS a1, w.a2 - $lr*(b.ga2/n.n) AS a2,
          w.c - $lr*(b.gc/n.n) AS c, w.v - $lr*(g.gv/n.n) AS v,
          w.vb - $lr*(g.gb/n.n) AS vb
        FROM w${k - 1} w, gd$k g, bk$k b, n)"""
    }.mkString(",\n      ")
    s"""WITH par AS (SELECT o_orderkey,
          CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
        FROM orders
        WHERE NOT (substring(md5(o_orderkey::VARCHAR || ':42'), 1, 4) < '4ccd')),
      cand AS (SELECT l.l_orderkey, l.l_quantity::DOUBLE AS x1,
          l.l_linenumber::DOUBLE AS x2,
          l.l_orderkey::VARCHAR || ':' || l.l_linenumber::VARCHAR AS nk
        FROM lineitem l JOIN par p ON l.l_orderkey = p.o_orderkey),
      -- node-level budget: rank DISTINCT node keys (the engine's
      -- budgetSample dedups first), then join back ALL rows of each
      -- sampled node — the synthetic lineitem repeats (orderkey,
      -- linenumber), so row multiplicity must survive on both sides
      picked AS (SELECT nk FROM (
          SELECT nk, row_number() OVER (
            ORDER BY md5('lineitem' || ':' || nk || ':hgt:42'), nk) AS rn
          FROM (SELECT DISTINCT nk FROM cand)) WHERE rn <= $budget),
      samp AS (SELECT c.l_orderkey, c.x1, c.x2
        FROM cand c JOIN picked s ON c.nk = s.nk),
      n AS (SELECT count(*)::DOUBLE AS n FROM par),
      w0 AS (SELECT 0.1 AS a1, 0.2 AS a2, 0.0 AS c, 0.1 AS v, 0.0 AS vb),
      $chain
      SELECT round(a1, 6) AS w_quantity, round(a2, 6) AS w_linenumber,
        round(c, 6) AS bias_msg, round(v, 6) AS w_readout,
        round(vb, 6) AS bias_out FROM w$steps"""
  }

  /** §2.9 end-to-end: the reference's ACTUAL experiment loop — train_rest
    * random node split (T.RandomNodeSplit with 30% val,
    * experiments/blueprint_mlflow.py:108-110), HGT budget-sampled
    * subgraph around the train seeds (HGTLoader with per-type num_samples,
    * blueprint_mlflow.py:119-125), then GD steps on the SAMPLED subgraph
    * only — composed entirely from the registered operators (W6 portable
    * split mask + W12 budgetSample + bp6 fitGnnGD), so the whole
    * minibatch pipeline is one deterministic dataflow under the oracle.
    * At 100 TB this is the training economy: the per-step shuffles run
    * over the budget-bounded subgraph, not the full graph. */
  private[graft] val qSampledTrainStep = Q("bp11_sampled_train_step",
    (s, d) => {
      import graft.pipeline.Blueprint
      val seeds = Sampling.withSplitMasksPortable(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus")),
          "o_orderkey", 0.3)
        .filter(col("train_mask"))
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"))
      val cand = t(s, d, "lineitem")
        .join(seeds.select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("nk", concat_ws(":", col("l_orderkey"), col("l_linenumber")))
      val picked = Sampling.budgetSample(
        cand.select(lit("lineitem").as("nt"), col("nk")), "nt", "nk",
        budget = 1000)
      // materialize the batch ONCE (the loader's materialized-subgraph
      // contract): fitGnnGD reads children and parents once per step, and
      // 2 steps read the batch twice, so without this the sampling
      // dataflow (frontier join + distinct + budget rank) would
      // re-execute per step
      val li = cand.join(picked.select(col("nk")), "nk")
        .select(col("l_orderkey"),
          array(col("l_quantity"), col("l_linenumber").cast("double")).as("feat"))
        .localCheckpoint(true)
      val par = seeds.localCheckpoint(true)
      val p = Blueprint.fitGnnGD(li, Seq("l_orderkey"), "feat",
        par, Seq("o_orderkey"), "y", dim = 2, hidden = 1, steps = 2,
        lr = 0.05)
      graft.util.Checkpoints.release(li)
      graft.util.Checkpoints.release(par)
      import s.implicits._
      Seq((p.w1(0)(0), p.w1(1)(0), p.b1(0), p.w2(0), p.b2))
        .toDF("__a", "__b", "__c", "__d", "__e")
        .select(round(col("__a"), 6).as("w_quantity"),
          round(col("__b"), 6).as("w_linenumber"),
          round(col("__c"), 6).as("bias_msg"),
          round(col("__d"), 6).as("w_readout"),
          round(col("__e"), 6).as("bias_out"))
    },
    Some(sampledTrainOracle(steps = 2, lr = 0.05, budget = 1000)))

  /** bp12's oracle: the embedding-GD recurrence unrolled per step — a
    * forward CTE (broadcast lookup restated as a join against the
    * deterministic-init VALUES table), the single per-code gradient CTE
    * ([[graft.pipeline.Blueprint.fitEmbeddingGD]]'s one groupBy(code)
    * pass), a readout-fold CTE (`gw_i = Σ_c s_c·e_i`: the Spark side's
    * per-row `Σ dm·e_i`, summed per code first), then the scatter
    * update of the table and the readout update, all from the step's
    * INCOMING parameters. Init rows interpolate from the same
    * [[graft.pipeline.Blueprint.embInit]] the Spark side uses —
    * doubles round-trip exactly through their decimal literals. */
  private[graft] def fitEmbeddingOracle(card: Int, steps: Int,
      lr: Double): String = {
    val init = graft.pipeline.Blueprint.embInit(card, dim = 2, nFeat = 1)
    val eVals = (0 until card)
      .map(c => s"($c, ${init.e(c)(0)}::DOUBLE, ${init.e(c)(1)}::DOUBLE)")
      .mkString(", ")
    val chain = (1 to steps).map { k =>
      s"""p$k AS (SELECT d.c, d.x1, d.y, e.e1, e.e2,
          1.0/(1.0+exp(-(e.e1*w.w1 + e.e2*w.w2 + d.x1*w.u1 + w.b))) AS p
        FROM d JOIN e${k - 1} e ON d.c = e.c, w${k - 1} w),
      g$k AS (SELECT c, sum(p - y) AS s, sum((p - y)*x1) AS t1
        FROM p$k GROUP BY c),
      r$k AS (SELECT sum(g.s*e.e1) AS gw1, sum(g.s*e.e2) AS gw2,
          sum(g.t1) AS gu1, sum(g.s) AS gb
        FROM g$k g JOIN e${k - 1} e ON g.c = e.c),
      e$k AS (SELECT e.c, e.e1 - $lr*(coalesce(g.s, 0.0)*w.w1/n.n) AS e1,
          e.e2 - $lr*(coalesce(g.s, 0.0)*w.w2/n.n) AS e2
        FROM e${k - 1} e LEFT JOIN g$k g ON e.c = g.c, w${k - 1} w, n),
      w$k AS (SELECT w.w1 - $lr*(r.gw1/n.n) AS w1, w.w2 - $lr*(r.gw2/n.n) AS w2,
          w.u1 - $lr*(r.gu1/n.n) AS u1, w.b - $lr*(r.gb/n.n) AS b
        FROM w${k - 1} w, r$k r, n)"""
    }.mkString(",\n      ")
    s"""WITH d AS (SELECT CASE WHEN l_returnflag = 'A' THEN 0
          WHEN l_returnflag = 'N' THEN 1 ELSE 2 END AS c,
        l_quantity::DOUBLE AS x1,
        CASE WHEN l_linestatus = 'F' THEN 1.0 ELSE 0.0 END AS y
        FROM lineitem),
      n AS (SELECT count(*)::DOUBLE AS n FROM d),
      e0 AS (SELECT * FROM (VALUES $eVals) AS t(c, e1, e2)),
      w0 AS (SELECT ${init.w(0)}::DOUBLE AS w1, ${init.w(1)}::DOUBLE AS w2,
        ${init.u(0)}::DOUBLE AS u1, ${init.b}::DOUBLE AS b),
      $chain
      SELECT c AS code, round(e1, 6) AS e1, round(e2, 6) AS e2
      FROM e$steps ORDER BY c"""
  }

  /** Trainable per-category embedding table (the reference's CatEmbedder,
    * created per categorical column and trained end-to-end): 2 GD steps
    * over the 3-code return-flag column with l_quantity as a co-trained
    * numeric feature. Each step is ONE broadcast lookup join + ONE
    * groupBy(code) aggregate of card rows — the scatter-add adjoint of
    * the embedding lookup. The trained table rows are the output; they
    * pin the readout transitively (step 2's per-code residuals flow
    * through step 1's updated w/u/b). */
  private[graft] val qFitEmbedding = Q("bp12_fit_embedding",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        when(col("l_returnflag") === "A", 0)
          .when(col("l_returnflag") === "N", 1).otherwise(2).as("code"),
        array(col("l_quantity")).as("feat"),
        when(col("l_linestatus") === "F", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitEmbeddingGD(li, "code", "feat", "y",
        card = 3, dim = 2, nFeat = 1, steps = 2, lr = 0.1)
      import s.implicits._
      (0 until 3).map(c => (c, p.e(c)(0), p.e(c)(1)))
        .toDF("code", "__e1", "__e2")
        .select(col("code"), round(col("__e1"), 6).as("e1"),
          round(col("__e2"), 6).as("e2"))
        .orderBy("code")
    },
    Some(fitEmbeddingOracle(card = 3, steps = 2, lr = 0.1)))

  /** Column-token transformer forward (the reference's per-row
    * MultiheadAttention over column embeddings, token 0 = the readout
    * token): each lineitem row carries three 2-dim tokens — a constant
    * CLS token and two feature tokens built from normalized columns —
    * and the attended CLS vector is emitted per row. Row-local k×k
    * softmax, pure codegen expressions — the compute is ONE ProjectExec
    * inside whole-stage codegen at scan speed (the plan's only exchange
    * is the house output-order sort, presentation not compute). The
    * oracle restates the arithmetic term for term; round-6 absorbs exp
    * ulps. */
  private[graft] val qColumnAttention = Q("tf1_column_attention",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem")
      val tokens = Seq(
        array(lit(0.5), lit(-0.5)),
        array(col("l_quantity") / 50, col("l_linenumber").cast("double") / 7),
        array(col("l_discount"), col("l_tax")))
      val out = Blueprint.columnSelfAttention(tokens, dim = 2)
      li.select(col("l_orderkey"), col("l_linenumber"),
        round(out(0)(0), 6).as("cls1"), round(out(0)(1), 6).as("cls2"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""WITH d AS (SELECT l_orderkey, l_linenumber,
        0.5 AS x00, -0.5 AS x01,
        l_quantity::DOUBLE/50 AS x10, l_linenumber::DOUBLE/7 AS x11,
        l_discount::DOUBLE AS x20, l_tax::DOUBLE AS x21,
        1/sqrt(2.0) AS sc FROM lineitem),
      e AS (SELECT *, exp((x00*x00 + x01*x01)*sc) AS e0,
          exp((x00*x10 + x01*x11)*sc) AS e1,
          exp((x00*x20 + x01*x21)*sc) AS e2 FROM d),
      z AS (SELECT *, e0 + e1 + e2 AS z0 FROM e)
      SELECT l_orderkey, l_linenumber,
        round(e0/z0*x00 + e1/z0*x10 + e2/z0*x20, 6) AS cls1,
        round(e0/z0*x01 + e1/z0*x11 + e2/z0*x21, 6) AS cls2
      FROM z ORDER BY l_orderkey, l_linenumber"""))

  /** bp13's oracle: the cross-attention GD recurrence unrolled per step —
    * forward CTEs (scores, softmax, attended vector, residual), the
    * row-local softmax-Jacobian CTEs (`g_b`, `Σ α·g`, `ds_b`), ONE sum
    * CTE (exactly [[graft.pipeline.Blueprint.fitCrossAttnGD]]'s single
    * aggregate pass), then the update CTE. dim=2, k=2 hard-coded like
    * [[fitMlpOracle]]; init interpolates from the shared crossAttnInit. */
  private[graft] def fitCrossAttnOracle(steps: Int, lr: Double): String = {
    val init = graft.pipeline.Blueprint.crossAttnInit(2)
    val chain = (1 to steps).map { k =>
      s"""p$k AS (SELECT d.*, w.*,
          exp((x10*w.q1 + x11*w.q2)*sc) AS e1,
          exp((x20*w.q1 + x21*w.q2)*sc) AS e2
        FROM d, w${k - 1} w),
      a$k AS (SELECT *, e1 + e2 AS z FROM p$k),
      f$k AS (SELECT *, e1/z*x10 + e2/z*x20 AS a1,
          e1/z*x11 + e2/z*x21 AS a2 FROM a$k),
      r$k AS (SELECT *,
          1.0/(1.0+exp(-(a1*w1 + a2*w2 + b))) - y AS dm FROM f$k),
      g$k AS (SELECT *, dm*(w1*x10 + w2*x11) AS g1,
          dm*(w1*x20 + w2*x21) AS g2 FROM r$k),
      h$k AS (SELECT *, e1/z*g1 + e2/z*g2 AS sg FROM g$k),
      s$k AS (SELECT
          sum((e1/z*(g1 - sg)*x10 + e2/z*(g2 - sg)*x20)*sc) AS gq1,
          sum((e1/z*(g1 - sg)*x11 + e2/z*(g2 - sg)*x21)*sc) AS gq2,
          sum(dm*a1) AS gw1, sum(dm*a2) AS gw2, sum(dm) AS gb FROM h$k),
      w$k AS (SELECT w.q1 - $lr*(s.gq1/n.n) AS q1,
          w.q2 - $lr*(s.gq2/n.n) AS q2,
          w.w1 - $lr*(s.gw1/n.n) AS w1, w.w2 - $lr*(s.gw2/n.n) AS w2,
          w.b - $lr*(s.gb/n.n) AS b
        FROM w${k - 1} w, s$k s, n)"""
    }.mkString(",\n      ")
    s"""WITH d AS (SELECT
        l_quantity::DOUBLE/50 AS x10, l_linenumber::DOUBLE/7 AS x11,
        l_discount::DOUBLE AS x20, l_tax::DOUBLE AS x21,
        CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
        1/sqrt(2.0) AS sc FROM lineitem),
      n AS (SELECT count(*)::DOUBLE AS n FROM d),
      w0 AS (SELECT ${init.q(0)}::DOUBLE AS q1, ${init.q(1)}::DOUBLE AS q2,
        ${init.w(0)}::DOUBLE AS w1, ${init.w(1)}::DOUBLE AS w2,
        ${init.b}::DOUBLE AS b),
      $chain
      SELECT round(q1, 6) AS q1, round(q2, 6) AS q2,
        round(w1, 6) AS w_a1, round(w2, 6) AS w_a2, round(b, 6) AS bias
      FROM w$steps"""
  }

  /** Trainable attention readout (the reference's transformer readout
    * trained end-to-end): a learned query vector attends over each row's
    * two feature tokens, logistic readout on the attended vector, 2 GD
    * steps. Every gradient — including the one through the softmax
    * Jacobian — is a per-row codegen expression, so each step is ONE
    * distributed aggregate pass: no join, no scatter, the cheapest
    * trainable operator in the library. */
  private[graft] val qFitCrossAttn = Q("bp13_fit_cross_attn",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        array(col("l_quantity") / 50, col("l_linenumber").cast("double") / 7)
          .as("t1"),
        array(col("l_discount"), col("l_tax")).as("t2"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitCrossAttnGD(li, Seq("t1", "t2"), "y", dim = 2,
        steps = 2, lr = 0.1)
      import s.implicits._
      Seq((p.q(0), p.q(1), p.w(0), p.w(1), p.b))
        .toDF("__q1", "__q2", "__w1", "__w2", "__b")
        .select(round(col("__q1"), 6).as("q1"), round(col("__q2"), 6).as("q2"),
          round(col("__w1"), 6).as("w_a1"), round(col("__w2"), 6).as("w_a2"),
          round(col("__b"), 6).as("bias"))
    },
    Some(fitCrossAttnOracle(steps = 2, lr = 0.1)))

  /** The reference's DBTransformer FORWARD end-to-end as one dataflow
    * (`nn/models/transformer.py:96-110`: embed each column to a token →
    * self-attention over the row's tokens → take token 0 → `out_lin` →
    * class softmax), at deterministic "trained" weights so the whole
    * model restates in SQL. Per lineitem row: the CatEmbedder token
    * (bp12's lookup-join device over the 3-code return flag at the
    * shared embInit table), two NumEmbedder tokens (`num_embedder.py:
    * 10-33`: Linear(1, dim) per numeric column), [[graft.pipeline
    * .Blueprint.columnSelfAttention]] over the 3 tokens, the attended
    * CLS through a 2-class linear head + softmax. ONE broadcast join +
    * ONE codegen projection — the model forward runs at scan speed at
    * any corpus size. */
  private[graft] val qTransformerForward = Q("dbt1_transformer_forward",
    (s, d) => {
      import graft.pipeline.Blueprint
      val E = Blueprint.embInit(card = 3, dim = 2, nFeat = 0).e
      import s.implicits._
      val embDf = (0 until 3).map(c => (c, E(c)(0), E(c)(1)))
        .toDF("__code", "__e1", "__e2")
      val li = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_returnflag") === "A", 0)
          .when(col("l_returnflag") === "N", 1).otherwise(2).as("__code"),
        (col("l_quantity") / 50).as("__x1"), col("l_discount").as("__x2"))
      val joined = li.join(broadcast(embDf), "__code")
      val t0 = array(col("__e1"), col("__e2"))
      val t1 = array(col("__x1") * lit(0.8) + lit(0.1),
        col("__x1") * lit(-0.4) + lit(0.2))
      val t2 = array(col("__x2") * lit(-0.6),
        col("__x2") * lit(0.3) + lit(-0.1))
      val o = Blueprint.columnSelfAttention(Seq(t0, t1, t2), dim = 2)(0)
      val s0 = o(0) * lit(1.0) + o(1) * lit(-1.0) + lit(0.05)
      val s1 = o(0) * lit(-0.5) + o(1) * lit(0.5) + lit(-0.05)
      joined.select(col("l_orderkey"), col("l_linenumber"),
        round(exp(s0) / (exp(s0) + exp(s1)), 6).as("p_class0"),
        round(exp(s1) / (exp(s0) + exp(s1)), 6).as("p_class1"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(s"""WITH ev AS (SELECT * FROM (VALUES
        (0, 0.05::DOUBLE, -0.05::DOUBLE),
        (1, ${0.05 * 2}::DOUBLE, ${-0.05 * 2}::DOUBLE),
        (2, ${0.05 * 3}::DOUBLE, ${-0.05 * 3}::DOUBLE)) AS t(c, e1, e2)),
      d AS (SELECT l_orderkey, l_linenumber,
        CASE WHEN l_returnflag = 'A' THEN 0
          WHEN l_returnflag = 'N' THEN 1 ELSE 2 END AS c,
        l_quantity::DOUBLE/50 AS x1, l_discount::DOUBLE AS x2,
        1/sqrt(2.0) AS sc FROM lineitem),
      tk AS (SELECT d.*, e.e1 AS t00, e.e2 AS t01,
        x1*0.8 + 0.1 AS t10, x1*(-0.4) + 0.2 AS t11,
        x2*(-0.6) AS t20, x2*0.3 + (-0.1) AS t21
        FROM d JOIN ev e ON d.c = e.c),
      at AS (SELECT *, exp((t00*t00 + t01*t01)*sc) AS e0,
        exp((t00*t10 + t01*t11)*sc) AS ee1,
        exp((t00*t20 + t01*t21)*sc) AS ee2 FROM tk),
      zz AS (SELECT *, e0 + ee1 + ee2 AS z FROM at),
      oo AS (SELECT *, e0/z*t00 + ee1/z*t10 + ee2/z*t20 AS o1,
        e0/z*t01 + ee1/z*t11 + ee2/z*t21 AS o2 FROM zz),
      sl AS (SELECT *, o1*1.0 + o2*(-1.0) + 0.05 AS s0,
        o1*(-0.5) + o2*0.5 + (-0.05) AS s1 FROM oo)
      SELECT l_orderkey, l_linenumber,
        round(exp(s0)/(exp(s0) + exp(s1)), 6) AS p_class0,
        round(exp(s1)/(exp(s0) + exp(s1)), 6) AS p_class1
      FROM sl ORDER BY l_orderkey, l_linenumber"""))

  /** bp14's oracle: the full end-to-end transformer GD unrolled — per
    * step, the forward CTE chain (tokens from the table join + the two
    * Linear(1,2) embedders, attention softmax, attended vector, class
    * softmax) restating [[graft.pipeline.Blueprint.transformerForwardStaged]]
    * stage for stage, then the backward chain (class residuals, dO, the
    * attention-softmax Jacobian, the three token-gradient paths), ONE
    * grouped-gradient CTE (materialized — it feeds both the readout fold
    * and the table update), the fold CTE, and the two update CTEs. All
    * weights interpolate from the shared transformerInit. dim=2, two
    * numeric columns, two classes hard-coded like [[fitMlpOracle]]. */
  private[graft] def fitTransformerOracle(steps: Int, lr: Double): String = {
    val init = graft.pipeline.Blueprint.transformerInit(
      card = 3, dim = 2, nNum = 2, nClass = 2)
    val eVals = (0 until 3)
      .map(c => s"($c, ${init.e(c)(0)}::DOUBLE, ${init.e(c)(1)}::DOUBLE)")
      .mkString(", ")
    val w0 = s"""SELECT ${init.a(0)(0)}::DOUBLE AS a10, ${init.a(0)(1)}::DOUBLE AS a11,
        ${init.a(1)(0)}::DOUBLE AS a20, ${init.a(1)(1)}::DOUBLE AS a21,
        ${init.c(0)(0)}::DOUBLE AS c10, ${init.c(0)(1)}::DOUBLE AS c11,
        ${init.c(1)(0)}::DOUBLE AS c20, ${init.c(1)(1)}::DOUBLE AS c21,
        ${init.wOut(0)(0)}::DOUBLE AS w00, ${init.wOut(0)(1)}::DOUBLE AS w01,
        ${init.wOut(1)(0)}::DOUBLE AS w10, ${init.wOut(1)(1)}::DOUBLE AS w11,
        ${init.bOut(0)}::DOUBLE AS b0, ${init.bOut(1)}::DOUBLE AS b1"""
    val chain = (1 to steps).map { k =>
      s"""t$k AS (SELECT d.*, w.*, e.e1 AS t00, e.e2 AS t01,
          x1*w.a10 + w.c10 AS t10, x1*w.a11 + w.c11 AS t11,
          x2*w.a20 + w.c20 AS t20, x2*w.a21 + w.c21 AS t21
        FROM d JOIN e${k - 1} e ON d.c = e.c, w${k - 1} w),
      x$k AS (SELECT *, exp((t00*t00 + t01*t01)*sc) AS ex0,
          exp((t00*t10 + t01*t11)*sc) AS ex1,
          exp((t00*t20 + t01*t21)*sc) AS ex2 FROM t$k),
      z$k AS (SELECT *, ex0 + ex1 + ex2 AS z FROM x$k),
      al$k AS (SELECT *, ex0/z AS al0, ex1/z AS al1, ex2/z AS al2 FROM z$k),
      o$k AS (SELECT *, al0*t00 + al1*t10 + al2*t20 AS o0,
          al0*t01 + al1*t11 + al2*t21 AS o1 FROM al$k),
      u$k AS (SELECT *, o0*w00 + o1*w01 + b0 AS u0,
          o0*w10 + o1*w11 + b1 AS u1 FROM o$k),
      eu$k AS (SELECT *, exp(u0) AS eu0, exp(u1) AS eu1 FROM u$k),
      zc$k AS (SELECT *, eu0 + eu1 AS zc FROM eu$k),
      du$k AS (SELECT *,
          eu0/zc - (CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END) AS du0,
          eu1/zc - (CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END) AS du1 FROM zc$k),
      dq$k AS (SELECT *, du0*w00 + du1*w10 AS do0,
          du0*w01 + du1*w11 AS do1 FROM du$k),
      da$k AS (SELECT *, do0*t00 + do1*t01 AS da0,
          do0*t10 + do1*t11 AS da1, do0*t20 + do1*t21 AS da2 FROM dq$k),
      sa$k AS (SELECT *, al0*da0 + al1*da1 + al2*da2 AS sad FROM da$k),
      ds$k AS (SELECT *, al0*(da0 - sad) AS ds0, al1*(da1 - sad) AS ds1,
          al2*(da2 - sad) AS ds2 FROM sa$k),
      dt$k AS (SELECT *,
          al0*do0 + (ds0*2.0*t00 + (ds1*t10 + ds2*t20))*sc AS dt00,
          al0*do1 + (ds0*2.0*t01 + (ds1*t11 + ds2*t21))*sc AS dt01,
          al1*do0 + ds1*t00*sc AS dt10, al1*do1 + ds1*t01*sc AS dt11,
          al2*do0 + ds2*t00*sc AS dt20, al2*do1 + ds2*t01*sc AS dt21
        FROM ds$k),
      g$k AS MATERIALIZED (SELECT c,
          sum(dt00) AS ge0, sum(dt01) AS ge1,
          sum(dt10*x1) AS ga10, sum(dt11*x1) AS ga11,
          sum(dt20*x2) AS ga20, sum(dt21*x2) AS ga21,
          sum(dt10) AS gc10, sum(dt11) AS gc11,
          sum(dt20) AS gc20, sum(dt21) AS gc21,
          sum(du0*o0) AS gw00, sum(du0*o1) AS gw01,
          sum(du1*o0) AS gw10, sum(du1*o1) AS gw11,
          sum(du0) AS gb0, sum(du1) AS gb1
        FROM dt$k GROUP BY c),
      r$k AS (SELECT sum(ga10) AS ga10, sum(ga11) AS ga11,
          sum(ga20) AS ga20, sum(ga21) AS ga21,
          sum(gc10) AS gc10, sum(gc11) AS gc11,
          sum(gc20) AS gc20, sum(gc21) AS gc21,
          sum(gw00) AS gw00, sum(gw01) AS gw01,
          sum(gw10) AS gw10, sum(gw11) AS gw11,
          sum(gb0) AS gb0, sum(gb1) AS gb1 FROM g$k),
      e$k AS (SELECT e.c,
          e.e1 - $lr*(coalesce(g.ge0, 0.0)/n.n) AS e1,
          e.e2 - $lr*(coalesce(g.ge1, 0.0)/n.n) AS e2
        FROM e${k - 1} e LEFT JOIN g$k g ON e.c = g.c, n),
      w$k AS (SELECT w.a10 - $lr*(r.ga10/n.n) AS a10,
          w.a11 - $lr*(r.ga11/n.n) AS a11,
          w.a20 - $lr*(r.ga20/n.n) AS a20, w.a21 - $lr*(r.ga21/n.n) AS a21,
          w.c10 - $lr*(r.gc10/n.n) AS c10, w.c11 - $lr*(r.gc11/n.n) AS c11,
          w.c20 - $lr*(r.gc20/n.n) AS c20, w.c21 - $lr*(r.gc21/n.n) AS c21,
          w.w00 - $lr*(r.gw00/n.n) AS w00, w.w01 - $lr*(r.gw01/n.n) AS w01,
          w.w10 - $lr*(r.gw10/n.n) AS w10, w.w11 - $lr*(r.gw11/n.n) AS w11,
          w.b0 - $lr*(r.gb0/n.n) AS b0, w.b1 - $lr*(r.gb1/n.n) AS b1
        FROM w${k - 1} w, r$k r, n)"""
    }.mkString(",\n      ")
    s"""WITH d AS (SELECT CASE WHEN l_returnflag = 'A' THEN 0
          WHEN l_returnflag = 'N' THEN 1 ELSE 2 END AS c,
        l_quantity::DOUBLE/50 AS x1, l_discount::DOUBLE AS x2,
        CASE WHEN l_linestatus = 'F' THEN 0 ELSE 1 END AS y,
        1/sqrt(2.0) AS sc FROM lineitem),
      n AS (SELECT count(*)::DOUBLE AS n FROM d),
      e0 AS (SELECT * FROM (VALUES $eVals) AS tv(c, e1, e2)),
      w0 AS ($w0),
      $chain
      SELECT c AS code, round(e1, 6) AS e1, round(e2, 6) AS e2
      FROM e$steps ORDER BY c"""
  }

  /** The reference's DBTransformer trained END-TO-END (bp14): embedding
    * table + two numeric embedders + self-attention + class head, all
    * gradients in one groupBy(code) pass per step; 2 steps over
    * lineitem. The trained table rows are emitted — every other
    * parameter update feeds them transitively through step 2's
    * attention. */
  private[graft] val qFitTransformer = Q("bp14_fit_transformer",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        when(col("l_returnflag") === "A", 0)
          .when(col("l_returnflag") === "N", 1).otherwise(2).as("code"),
        (col("l_quantity") / 50).as("x1"), col("l_discount").as("x2"),
        when(col("l_linestatus") === "F", 0).otherwise(1).as("y"))
      val p = Blueprint.fitTransformerGD(li, "code", Seq("x1", "x2"), "y",
        card = 3, dim = 2, nClass = 2, steps = 2, lr = 0.1)
      import s.implicits._
      (0 until 3).map(c => (c, p.e(c)(0), p.e(c)(1)))
        .toDF("code", "__e1", "__e2")
        .select(col("code"), round(col("__e1"), 6).as("e1"),
          round(col("__e2"), 6).as("e2"))
        .orderBy("code")
    },
    Some(fitTransformerOracle(steps = 2, lr = 0.1)))

  /** dbt2's oracle: the L-layer stacked DBTransformer unrolled — per
    * layer, BOTH tables' column self-attention CTEs (scores, stable
    * greatest() softmax term-for-term with [[graft.pipeline.Blueprint
    * .columnSelfAttention]], residual), the cross-table CTEs (edge
    * scores from the POST-self-attention states, the per-parent
    * α-weighted mean as `sum(e·x)/sum(e)`, both residuals), then the
    * class head. `lr`/`pr` are MATERIALIZED — each is read three times
    * per layer and DuckDB would otherwise inline them 3^L times. */
  private[graft] def dbt2Oracle(layers: Int): String = {
    val chain = (1 to layers).map { l =>
      s"""lsa$l AS (SELECT *, (c0*c0 + c1*c1)*sc AS sa0, (c0*d0 + c1*d1)*sc AS sa1,
          (d0*c0 + d1*c1)*sc AS sb0, (d0*d0 + d1*d1)*sc AS sb1 FROM lx${l - 1}),
      lse$l AS (SELECT *,
          exp(sa0 - greatest(sa0, sa1)) AS ea0, exp(sa1 - greatest(sa0, sa1)) AS ea1,
          exp(sb0 - greatest(sb0, sb1)) AS eb0, exp(sb1 - greatest(sb0, sb1)) AS eb1
        FROM lsa$l),
      lsz$l AS (SELECT *, ea0 + ea1 AS za, eb0 + eb1 AS zb FROM lse$l),
      lr$l AS MATERIALIZED (SELECT okey, sc, nc0 AS c0, nc1 AS c1,
          nd0 AS d0, nd1 AS d1 FROM (
        SELECT *, c0 + (ea0/za*c0 + ea1/za*d0) AS nc0,
            c1 + (ea0/za*c1 + ea1/za*d1) AS nc1,
            d0 + (eb0/zb*c0 + eb1/zb*d0) AS nd0,
            d1 + (eb0/zb*c1 + eb1/zb*d1) AS nd1 FROM lsz$l)),
      psa$l AS (SELECT *, (c0*c0 + c1*c1)*sc AS sa0, (c0*d0 + c1*d1)*sc AS sa1,
          (d0*c0 + d1*c1)*sc AS sb0, (d0*d0 + d1*d1)*sc AS sb1 FROM px${l - 1}),
      pse$l AS (SELECT *,
          exp(sa0 - greatest(sa0, sa1)) AS ea0, exp(sa1 - greatest(sa0, sa1)) AS ea1,
          exp(sb0 - greatest(sb0, sb1)) AS eb0, exp(sb1 - greatest(sb0, sb1)) AS eb1
        FROM psa$l),
      psz$l AS (SELECT *, ea0 + ea1 AS za, eb0 + eb1 AS zb FROM pse$l),
      pr$l AS MATERIALIZED (SELECT okey, sc, nc0 AS c0, nc1 AS c1,
          nd0 AS d0, nd1 AS d1 FROM (
        SELECT *, c0 + (ea0/za*c0 + ea1/za*d0) AS nc0,
            c1 + (ea0/za*c1 + ea1/za*d1) AS nc1,
            d0 + (eb0/zb*c0 + eb1/zb*d0) AS nd0,
            d1 + (eb0/zb*c1 + eb1/zb*d1) AS nd1 FROM psz$l)),
      ed$l AS (SELECT l.okey, exp((p.c0*l.c0 + p.c1*l.c1)*l.sc) AS w,
          l.c0 AS mc0, l.c1 AS mc1
        FROM lr$l l JOIN pr$l p ON l.okey = p.okey),
      msg$l AS (SELECT okey, sum(w*mc0)/sum(w) AS m0, sum(w*mc1)/sum(w) AS m1
        FROM ed$l GROUP BY okey),
      px$l AS (SELECT p.okey, p.sc, p.c0 + coalesce(m.m0, 0.0) AS c0,
          p.c1 + coalesce(m.m1, 0.0) AS c1, p.d0, p.d1
        FROM pr$l p LEFT JOIN msg$l m ON p.okey = m.okey),
      lx$l AS (SELECT l.okey, l.sc, l.c0 + coalesce(p.c0, 0.0) AS c0,
          l.c1 + coalesce(p.c1, 0.0) AS c1, l.d0, l.d1
        FROM lr$l l LEFT JOIN pr$l p ON l.okey = p.okey)"""
    }.mkString(",\n      ")
    s"""WITH lx0 AS (SELECT l_orderkey AS okey, 1/sqrt(2.0) AS sc,
        l_quantity::DOUBLE/50*0.8 + 0.1 AS c0,
        l_quantity::DOUBLE/50*(-0.4) + 0.2 AS c1,
        l_discount::DOUBLE*(-0.6) AS d0,
        l_discount::DOUBLE*0.3 - 0.1 AS d1 FROM lineitem),
      px0 AS (SELECT o_orderkey AS okey, 1/sqrt(2.0) AS sc,
        o_totalprice::DOUBLE/500000*0.8 + 0.1 AS c0,
        o_totalprice::DOUBLE/500000*(-0.4) + 0.2 AS c1,
        (CASE WHEN o_orderstatus = 'O' THEN 0
          WHEN o_orderstatus = 'F' THEN 1 ELSE 2 END)::DOUBLE*0.3 - 0.2 AS d0,
        (CASE WHEN o_orderstatus = 'O' THEN 0
          WHEN o_orderstatus = 'F' THEN 1 ELSE 2 END)::DOUBLE*(-0.1) + 0.15 AS d1
        FROM orders),
      $chain,
      hd AS (SELECT okey, c0*1.0 + c1*(-1.0) + 0.05 AS s0,
        c0*(-0.5) + c1*0.5 + (-0.05) AS s1 FROM px$layers)
      SELECT okey AS o_orderkey,
        round(exp(s0)/(exp(s0) + exp(s1)), 6) AS p_class0,
        round(exp(s1)/(exp(s0) + exp(s1)), 6) AS p_class1
      FROM hd ORDER BY o_orderkey"""
  }

  /** The reference's FULL stacked DBTransformer (dbt2): 2
    * `DBTransformerLayer`s over 2 tables — per layer, per-table column
    * self-attention with residual AND cross-table attention message
    * passing in both directions (lineitem CLS → orders via per-order
    * softmax, orders CLS → lineitem via the reverse edge), then the
    * 2-class head on the orders CLS (`nn/models/transformer.py:43-59,
    * 96-110`). Layer 2 self-attends states that already carry layer 1's
    * cross-table messages — the composition dbt1/bp14 left unregistered.
    * Deterministic weights so the whole stack restates in SQL. */
  private[graft] val qStackedTransformer = Q("dbt2_stacked_transformer",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        array(col("l_quantity") / 50 * 0.8 + 0.1,
          col("l_quantity") / 50 * (-0.4) + 0.2).as("t0"),
        array(col("l_discount") * (-0.6),
          col("l_discount") * 0.3 - 0.1).as("t1"))
      val code = when(col("o_orderstatus") === "O", 0)
        .when(col("o_orderstatus") === "F", 1).otherwise(2).cast("double")
      val ord = t(s, d, "orders").select(col("o_orderkey"),
        array(col("o_totalprice") / 500000 * 0.8 + 0.1,
          col("o_totalprice") / 500000 * (-0.4) + 0.2).as("t0"),
        array(code * 0.3 - 0.2, code * (-0.1) + 0.15).as("t1"))
      Blueprint.dbTransformerForward(li, "l_orderkey", Seq("t0", "t1"),
          ord, "o_orderkey", Seq("t0", "t1"), dim = 2, layers = 2,
          wOut = Array(Array(1.0, -1.0), Array(-0.5, 0.5)),
          bOut = Array(0.05, -0.05))
        .select(col("__key").as("o_orderkey"),
          round(col("p_class0"), 6).as("p_class0"),
          round(col("p_class1"), 6).as("p_class1"))
        .orderBy("o_orderkey")
    },
    Some(dbt2Oracle(2)))

  /** The w0 CTE body of the mha1/bp15 oracles: every [[graft.pipeline
    * .Blueprint.mhaInit]] projection entry as an interpolated DOUBLE
    * literal (dim=2, heads=2, dh=1 — per-head q/k/v are scalars, so the
    * r index drops out of the SQL names: wq{g}{c} etc.). */
  private[graft] def mhaW0Sql(p: graft.pipeline.Blueprint.MhaParams): String = {
    def v(x: Double) = s"($x::DOUBLE)"
    s"""SELECT ${v(p.wq(0)(0)(0))} AS wq00, ${v(p.wq(0)(0)(1))} AS wq01,
        ${v(p.wq(1)(0)(0))} AS wq10, ${v(p.wq(1)(0)(1))} AS wq11,
        ${v(p.wk(0)(0)(0))} AS wk00, ${v(p.wk(0)(0)(1))} AS wk01,
        ${v(p.wk(1)(0)(0))} AS wk10, ${v(p.wk(1)(0)(1))} AS wk11,
        ${v(p.wv(0)(0)(0))} AS wv00, ${v(p.wv(0)(0)(1))} AS wv01,
        ${v(p.wv(1)(0)(0))} AS wv10, ${v(p.wv(1)(0)(1))} AS wv11,
        ${v(p.wo(0)(0))} AS wo00, ${v(p.wo(0)(1))} AS wo01,
        ${v(p.wo(1)(0))} AS wo10, ${v(p.wo(1)(1))} AS wo11,
        ${v(p.w(0))} AS rw0, ${v(p.w(1))} AS rw1, ${v(p.b)} AS bias"""
  }

  /** The forward CTE chain of step `k` of the mha1/bp15 oracles —
    * restating [[graft.pipeline.Blueprint.mhaForwardStaged]] stage for
    * stage at dim=2, heads=2, dh=1, 2 tokens (scale 1/√dh = 1 drops
    * out): per-head scalar q/k/v projections, scores, the STABLE softmax
    * (greatest() max-subtract — term-for-term the engine's form), the
    * per-head attended values (= the concatenated o at dh=1), and the
    * out-projection. */
  private[graft] def mhaForwardSql(k: Int): String =
    s"""f$k AS (SELECT d.*, w.*,
        x00*wq00 + x01*wq01 AS q0, x00*wq10 + x01*wq11 AS q1,
        x00*wk00 + x01*wk01 AS k00, x10*wk00 + x11*wk01 AS k01,
        x00*wk10 + x01*wk11 AS k10, x10*wk10 + x11*wk11 AS k11,
        x00*wv00 + x01*wv01 AS v00, x10*wv00 + x11*wv01 AS v01,
        x00*wv10 + x01*wv11 AS v10, x10*wv10 + x11*wv11 AS v11
      FROM d, w${k - 1} w),
      s$k AS (SELECT *, q0*k00 AS s00, q0*k01 AS s01,
        q1*k10 AS s10, q1*k11 AS s11 FROM f$k),
      e$k AS (SELECT *,
        exp(s00 - greatest(s00, s01)) AS e00, exp(s01 - greatest(s00, s01)) AS e01,
        exp(s10 - greatest(s10, s11)) AS e10, exp(s11 - greatest(s10, s11)) AS e11
      FROM s$k),
      a$k AS (SELECT *, e00/(e00+e01) AS al00, e01/(e00+e01) AS al01,
        e10/(e10+e11) AS al10, e11/(e10+e11) AS al11 FROM e$k),
      o$k AS (SELECT *, al00*v00 + al01*v01 AS o0,
        al10*v10 + al11*v11 AS o1 FROM a$k),
      u$k AS (SELECT *, o0*wo00 + o1*wo01 AS out0,
        o0*wo10 + o1*wo11 AS out1 FROM o$k)"""

  /** bp15's oracle: the multi-head GD recurrence unrolled per step —
    * the shared forward chain ([[mhaForwardSql]]), the backward chain
    * (readout residual, out-projection adjoint, per-HEAD value-path and
    * softmax-Jacobian CTEs, query/key adjoints), ONE sum CTE (exactly
    * [[graft.pipeline.Blueprint.fitMhaGD]]'s single aggregate pass), the
    * update CTE. All weights interpolate from the shared mhaInit. */
  private[graft] def fitMhaOracle(steps: Int, lr: Double): String = {
    val init = graft.pipeline.Blueprint.mhaInit(2, 2)
    val chain = (1 to steps).map { k =>
      s"""${mhaForwardSql(k)},
      r$k AS (SELECT *, 1.0/(1.0+exp(-(out0*rw0 + out1*rw1 + bias))) - y AS dm
        FROM u$k),
      bk$k AS (SELECT *, dm*rw0 AS dout0, dm*rw1 AS dout1 FROM r$k),
      dj$k AS (SELECT *, dout0*wo00 + dout1*wo10 AS do0,
        dout0*wo01 + dout1*wo11 AS do1 FROM bk$k),
      da$k AS (SELECT *, do0*v00 AS dal00, do0*v01 AS dal01,
        do1*v10 AS dal10, do1*v11 AS dal11 FROM dj$k),
      sd$k AS (SELECT *, al00*dal00 + al01*dal01 AS sad0,
        al10*dal10 + al11*dal11 AS sad1 FROM da$k),
      ds$k AS (SELECT *, al00*(dal00 - sad0) AS ds00, al01*(dal01 - sad0) AS ds01,
        al10*(dal10 - sad1) AS ds10, al11*(dal11 - sad1) AS ds11 FROM sd$k),
      dq$k AS (SELECT *, ds00*k00 + ds01*k01 AS dq0,
        ds10*k10 + ds11*k11 AS dq1 FROM ds$k),
      g$k AS (SELECT
          sum(dq0*x00) AS gq00, sum(dq0*x01) AS gq01,
          sum(dq1*x00) AS gq10, sum(dq1*x01) AS gq11,
          sum((ds00*x00 + ds01*x10)*q0) AS gk00,
          sum((ds00*x01 + ds01*x11)*q0) AS gk01,
          sum((ds10*x00 + ds11*x10)*q1) AS gk10,
          sum((ds10*x01 + ds11*x11)*q1) AS gk11,
          sum((al00*x00 + al01*x10)*do0) AS gv00,
          sum((al00*x01 + al01*x11)*do0) AS gv01,
          sum((al10*x00 + al11*x10)*do1) AS gv10,
          sum((al10*x01 + al11*x11)*do1) AS gv11,
          sum(dout0*o0) AS go00, sum(dout0*o1) AS go01,
          sum(dout1*o0) AS go10, sum(dout1*o1) AS go11,
          sum(dm*out0) AS gw0, sum(dm*out1) AS gw1, sum(dm) AS gb
        FROM dq$k),
      w$k AS (SELECT
          w.wq00 - $lr*(g.gq00/n.n) AS wq00, w.wq01 - $lr*(g.gq01/n.n) AS wq01,
          w.wq10 - $lr*(g.gq10/n.n) AS wq10, w.wq11 - $lr*(g.gq11/n.n) AS wq11,
          w.wk00 - $lr*(g.gk00/n.n) AS wk00, w.wk01 - $lr*(g.gk01/n.n) AS wk01,
          w.wk10 - $lr*(g.gk10/n.n) AS wk10, w.wk11 - $lr*(g.gk11/n.n) AS wk11,
          w.wv00 - $lr*(g.gv00/n.n) AS wv00, w.wv01 - $lr*(g.gv01/n.n) AS wv01,
          w.wv10 - $lr*(g.gv10/n.n) AS wv10, w.wv11 - $lr*(g.gv11/n.n) AS wv11,
          w.wo00 - $lr*(g.go00/n.n) AS wo00, w.wo01 - $lr*(g.go01/n.n) AS wo01,
          w.wo10 - $lr*(g.go10/n.n) AS wo10, w.wo11 - $lr*(g.go11/n.n) AS wo11,
          w.rw0 - $lr*(g.gw0/n.n) AS rw0, w.rw1 - $lr*(g.gw1/n.n) AS rw1,
          w.bias - $lr*(g.gb/n.n) AS bias
        FROM w${k - 1} w, g$k g, n)"""
    }.mkString(",\n      ")
    s"""WITH d AS (SELECT
        l_quantity::DOUBLE/50 AS x00, l_linenumber::DOUBLE/7 AS x01,
        l_discount::DOUBLE AS x10, l_tax::DOUBLE AS x11,
        CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y FROM lineitem),
      n AS (SELECT count(*)::DOUBLE AS n FROM d),
      w0 AS (${mhaW0Sql(init)}),
      $chain
      SELECT round(wq00, 6) AS wq00, round(wq01, 6) AS wq01,
        round(wq10, 6) AS wq10, round(wq11, 6) AS wq11,
        round(wk00, 6) AS wk00, round(wk01, 6) AS wk01,
        round(wk10, 6) AS wk10, round(wk11, 6) AS wk11,
        round(wv00, 6) AS wv00, round(wv01, 6) AS wv01,
        round(wv10, 6) AS wv10, round(wv11, 6) AS wv11,
        round(wo00, 6) AS wo00, round(wo01, 6) AS wo01,
        round(wo10, 6) AS wo10, round(wo11, 6) AS wo11,
        round(rw0, 6) AS rw0, round(rw1, 6) AS rw1, round(bias, 6) AS bias
      FROM w$steps"""
  }

  /** Multi-head attention FORWARD with learned projections at the shared
    * deterministic weights (`torch.nn.MultiheadAttention` semantics —
    * per-head Q/K/V in-projections over the row's tokens, concatenated
    * heads through the out-projection; the reference's tuned model space
    * searches `num_heads ∈ {2,4,8}`, blueprint_mlflow.py:256,271,296).
    * Two heads over two 2-dim lineitem tokens, per-row out vector
    * emitted from the staged `__out` vector. Row-local projections; the
    * only exchange is the house output-order sort. */
  private[graft] val qMhaForward = Q("mha1_mha_forward",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        array(col("l_quantity") / 50, col("l_linenumber").cast("double") / 7)
          .as("t0"),
        array(col("l_discount"), col("l_tax")).as("t1"))
      Blueprint.mhaForwardStaged(li, Seq("t0", "t1"), Blueprint.mhaInit(2, 2))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("__out")(0), 6).as("out0"), round(col("__out")(1), 6).as("out1"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(s"""WITH d AS (SELECT l_orderkey, l_linenumber,
        l_quantity::DOUBLE/50 AS x00, l_linenumber::DOUBLE/7 AS x01,
        l_discount::DOUBLE AS x10, l_tax::DOUBLE AS x11 FROM lineitem),
      w0 AS (${mhaW0Sql(graft.pipeline.Blueprint.mhaInit(2, 2))}),
      ${mhaForwardSql(1)}
      SELECT l_orderkey, l_linenumber,
        round(out0, 6) AS out0, round(out1, 6) AS out1
      FROM u1 ORDER BY l_orderkey, l_linenumber"""))

  /** Multi-head attention trained END-TO-END (bp15) — the last reference
    * capability without an engine twin (the sweep's num_heads > 1
    * models): learned per-head Q/K/V projections, out-projection and
    * logistic readout, 2 GD steps at 2 heads over lineitem. Every
    * gradient is a per-row codegen expression, so each step is ONE
    * distributed aggregate pass; the 19 trained parameters are the
    * output — every projection pinned directly, and transitively through
    * step 2's attention. */
  private[graft] val qFitMha = Q("bp15_fit_mha",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        array(col("l_quantity") / 50, col("l_linenumber").cast("double") / 7)
          .as("t0"),
        array(col("l_discount"), col("l_tax")).as("t1"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
      val p = Blueprint.fitMhaGD(li, Seq("t0", "t1"), "y", dim = 2, heads = 2,
        steps = 2, lr = 0.1)
      s.range(1).select(
        round(lit(p.wq(0)(0)(0)), 6).as("wq00"), round(lit(p.wq(0)(0)(1)), 6).as("wq01"),
        round(lit(p.wq(1)(0)(0)), 6).as("wq10"), round(lit(p.wq(1)(0)(1)), 6).as("wq11"),
        round(lit(p.wk(0)(0)(0)), 6).as("wk00"), round(lit(p.wk(0)(0)(1)), 6).as("wk01"),
        round(lit(p.wk(1)(0)(0)), 6).as("wk10"), round(lit(p.wk(1)(0)(1)), 6).as("wk11"),
        round(lit(p.wv(0)(0)(0)), 6).as("wv00"), round(lit(p.wv(0)(0)(1)), 6).as("wv01"),
        round(lit(p.wv(1)(0)(0)), 6).as("wv10"), round(lit(p.wv(1)(0)(1)), 6).as("wv11"),
        round(lit(p.wo(0)(0)), 6).as("wo00"), round(lit(p.wo(0)(1)), 6).as("wo01"),
        round(lit(p.wo(1)(0)), 6).as("wo10"), round(lit(p.wo(1)(1)), 6).as("wo11"),
        round(lit(p.w(0)), 6).as("rw0"), round(lit(p.w(1)), 6).as("rw1"),
        round(lit(p.b), 6).as("bias"))
    },
    Some(fitMhaOracle(steps = 2, lr = 0.1)))

  /** bp17's oracle: the FULL multi-head DBTransformer GD unrolled — per
    * step the token CTE (embedding join + numeric embedder), the per-head
    * learned Q/K/V projections, the stable attention softmax, the
    * out-projection and class softmax, then the backward chain (class
    * residuals, out-projection adjoint, per-head softmax Jacobians,
    * query/key/value token-gradient paths — token 0 rides all three),
    * ONE grouped-gradient CTE (MATERIALIZED: it feeds both the fold and
    * the table update), the fold, and the two update CTEs. All weights
    * interpolate from the shared transformerMhaInit. card=3, dim=2,
    * heads=2 (dh=1 — per-head q/k/v scalars, scale √1 drops out), one
    * numeric column, two classes. */
  private[graft] def fitTransformerMhaOracle(steps: Int, lr: Double): String = {
    val init = graft.pipeline.Blueprint.transformerMhaInit(
      card = 3, dim = 2, nNum = 1, nClass = 2, heads = 2)
    val eVals = (0 until 3)
      .map(c => s"($c, ${init.e(c)(0)}::DOUBLE, ${init.e(c)(1)}::DOUBLE)")
      .mkString(", ")
    def v(x: Double) = s"($x::DOUBLE)"
    val w0 = s"""SELECT ${v(init.a(0)(0))} AS a10, ${v(init.a(0)(1))} AS a11,
        ${v(init.c(0)(0))} AS c10, ${v(init.c(0)(1))} AS c11,
        ${v(init.wq(0)(0)(0))} AS wq00, ${v(init.wq(0)(0)(1))} AS wq01,
        ${v(init.wq(1)(0)(0))} AS wq10, ${v(init.wq(1)(0)(1))} AS wq11,
        ${v(init.wk(0)(0)(0))} AS wk00, ${v(init.wk(0)(0)(1))} AS wk01,
        ${v(init.wk(1)(0)(0))} AS wk10, ${v(init.wk(1)(0)(1))} AS wk11,
        ${v(init.wv(0)(0)(0))} AS wv00, ${v(init.wv(0)(0)(1))} AS wv01,
        ${v(init.wv(1)(0)(0))} AS wv10, ${v(init.wv(1)(0)(1))} AS wv11,
        ${v(init.wo(0)(0))} AS wo00, ${v(init.wo(0)(1))} AS wo01,
        ${v(init.wo(1)(0))} AS wo10, ${v(init.wo(1)(1))} AS wo11,
        ${v(init.wOut(0)(0))} AS wh00, ${v(init.wOut(0)(1))} AS wh01,
        ${v(init.wOut(1)(0))} AS wh10, ${v(init.wOut(1)(1))} AS wh11,
        ${v(init.bOut(0))} AS bh0, ${v(init.bOut(1))} AS bh1"""
    val chain = (1 to steps).map { k =>
      s"""t$k AS (SELECT d.*, w.*, e.e1 AS t00, e.e2 AS t01,
          x1*w.a10 + w.c10 AS t10, x1*w.a11 + w.c11 AS t11
        FROM d JOIN e${k - 1} e ON d.c = e.c, w${k - 1} w),
      pq$k AS (SELECT *,
          t00*wq00 + t01*wq01 AS q0, t00*wq10 + t01*wq11 AS q1,
          t00*wk00 + t01*wk01 AS k00, t10*wk00 + t11*wk01 AS k01,
          t00*wk10 + t01*wk11 AS k10, t10*wk10 + t11*wk11 AS k11,
          t00*wv00 + t01*wv01 AS v00, t10*wv00 + t11*wv01 AS v01,
          t00*wv10 + t01*wv11 AS v10, t10*wv10 + t11*wv11 AS v11
        FROM t$k),
      s$k AS (SELECT *, q0*k00 AS s00, q0*k01 AS s01,
          q1*k10 AS s10, q1*k11 AS s11 FROM pq$k),
      x$k AS (SELECT *,
          exp(s00 - greatest(s00, s01)) AS ex00, exp(s01 - greatest(s00, s01)) AS ex01,
          exp(s10 - greatest(s10, s11)) AS ex10, exp(s11 - greatest(s10, s11)) AS ex11
        FROM s$k),
      al$k AS (SELECT *, ex00/(ex00+ex01) AS al00, ex01/(ex00+ex01) AS al01,
          ex10/(ex10+ex11) AS al10, ex11/(ex10+ex11) AS al11 FROM x$k),
      o$k AS (SELECT *, al00*v00 + al01*v01 AS o0,
          al10*v10 + al11*v11 AS o1 FROM al$k),
      u$k AS (SELECT *, o0*wo00 + o1*wo01 AS out0,
          o0*wo10 + o1*wo11 AS out1 FROM o$k),
      cu$k AS (SELECT *, out0*wh00 + out1*wh01 + bh0 AS u0,
          out0*wh10 + out1*wh11 + bh1 AS u1 FROM u$k),
      eu$k AS (SELECT *, exp(u0) AS eu0, exp(u1) AS eu1 FROM cu$k),
      du$k AS (SELECT *,
          eu0/(eu0+eu1) - (CASE WHEN y = 0 THEN 1.0 ELSE 0.0 END) AS du0,
          eu1/(eu0+eu1) - (CASE WHEN y = 1 THEN 1.0 ELSE 0.0 END) AS du1
        FROM eu$k),
      bo$k AS (SELECT *, du0*wh00 + du1*wh10 AS dout0,
          du0*wh01 + du1*wh11 AS dout1 FROM du$k),
      bj$k AS (SELECT *, dout0*wo00 + dout1*wo10 AS do0,
          dout0*wo01 + dout1*wo11 AS do1 FROM bo$k),
      da$k AS (SELECT *, do0*v00 AS dal00, do0*v01 AS dal01,
          do1*v10 AS dal10, do1*v11 AS dal11 FROM bj$k),
      sa$k AS (SELECT *, al00*dal00 + al01*dal01 AS sad0,
          al10*dal10 + al11*dal11 AS sad1 FROM da$k),
      ds$k AS (SELECT *, al00*(dal00 - sad0) AS ds00, al01*(dal01 - sad0) AS ds01,
          al10*(dal10 - sad1) AS ds10, al11*(dal11 - sad1) AS ds11 FROM sa$k),
      dq$k AS (SELECT *, ds00*k00 + ds01*k01 AS dq0,
          ds10*k10 + ds11*k11 AS dq1 FROM ds$k),
      dt$k AS (SELECT *,
          (wq00*dq0 + wk00*(ds00*q0) + wv00*(al00*do0))
            + (wq10*dq1 + wk10*(ds10*q1) + wv10*(al10*do1)) AS dt00,
          (wq01*dq0 + wk01*(ds00*q0) + wv01*(al00*do0))
            + (wq11*dq1 + wk11*(ds10*q1) + wv11*(al10*do1)) AS dt01,
          (wk00*(ds01*q0) + wv00*(al01*do0))
            + (wk10*(ds11*q1) + wv10*(al11*do1)) AS dt10,
          (wk01*(ds01*q0) + wv01*(al01*do0))
            + (wk11*(ds11*q1) + wv11*(al11*do1)) AS dt11
        FROM dq$k),
      g$k AS MATERIALIZED (SELECT c,
          sum(dt00) AS ge0, sum(dt01) AS ge1,
          sum(dt10*x1) AS ga10, sum(dt11*x1) AS ga11,
          sum(dt10) AS gc10, sum(dt11) AS gc11,
          sum(dq0*t00) AS gq00, sum(dq0*t01) AS gq01,
          sum(dq1*t00) AS gq10, sum(dq1*t01) AS gq11,
          sum((ds00*t00 + ds01*t10)*q0) AS gk00,
          sum((ds00*t01 + ds01*t11)*q0) AS gk01,
          sum((ds10*t00 + ds11*t10)*q1) AS gk10,
          sum((ds10*t01 + ds11*t11)*q1) AS gk11,
          sum((al00*t00 + al01*t10)*do0) AS gv00,
          sum((al00*t01 + al01*t11)*do0) AS gv01,
          sum((al10*t00 + al11*t10)*do1) AS gv10,
          sum((al10*t01 + al11*t11)*do1) AS gv11,
          sum(dout0*o0) AS go00, sum(dout0*o1) AS go01,
          sum(dout1*o0) AS go10, sum(dout1*o1) AS go11,
          sum(du0*out0) AS gw00, sum(du0*out1) AS gw01,
          sum(du1*out0) AS gw10, sum(du1*out1) AS gw11,
          sum(du0) AS gb0, sum(du1) AS gb1
        FROM dt$k GROUP BY c),
      r$k AS (SELECT sum(ga10) AS ga10, sum(ga11) AS ga11,
          sum(gc10) AS gc10, sum(gc11) AS gc11,
          sum(gq00) AS gq00, sum(gq01) AS gq01,
          sum(gq10) AS gq10, sum(gq11) AS gq11,
          sum(gk00) AS gk00, sum(gk01) AS gk01,
          sum(gk10) AS gk10, sum(gk11) AS gk11,
          sum(gv00) AS gv00, sum(gv01) AS gv01,
          sum(gv10) AS gv10, sum(gv11) AS gv11,
          sum(go00) AS go00, sum(go01) AS go01,
          sum(go10) AS go10, sum(go11) AS go11,
          sum(gw00) AS gw00, sum(gw01) AS gw01,
          sum(gw10) AS gw10, sum(gw11) AS gw11,
          sum(gb0) AS gb0, sum(gb1) AS gb1 FROM g$k),
      e$k AS (SELECT e.c,
          e.e1 - $lr*(coalesce(g.ge0, 0.0)/n.n) AS e1,
          e.e2 - $lr*(coalesce(g.ge1, 0.0)/n.n) AS e2
        FROM e${k - 1} e LEFT JOIN g$k g ON e.c = g.c, n),
      w$k AS (SELECT
          w.a10 - $lr*(r.ga10/n.n) AS a10, w.a11 - $lr*(r.ga11/n.n) AS a11,
          w.c10 - $lr*(r.gc10/n.n) AS c10, w.c11 - $lr*(r.gc11/n.n) AS c11,
          w.wq00 - $lr*(r.gq00/n.n) AS wq00, w.wq01 - $lr*(r.gq01/n.n) AS wq01,
          w.wq10 - $lr*(r.gq10/n.n) AS wq10, w.wq11 - $lr*(r.gq11/n.n) AS wq11,
          w.wk00 - $lr*(r.gk00/n.n) AS wk00, w.wk01 - $lr*(r.gk01/n.n) AS wk01,
          w.wk10 - $lr*(r.gk10/n.n) AS wk10, w.wk11 - $lr*(r.gk11/n.n) AS wk11,
          w.wv00 - $lr*(r.gv00/n.n) AS wv00, w.wv01 - $lr*(r.gv01/n.n) AS wv01,
          w.wv10 - $lr*(r.gv10/n.n) AS wv10, w.wv11 - $lr*(r.gv11/n.n) AS wv11,
          w.wo00 - $lr*(r.go00/n.n) AS wo00, w.wo01 - $lr*(r.go01/n.n) AS wo01,
          w.wo10 - $lr*(r.go10/n.n) AS wo10, w.wo11 - $lr*(r.go11/n.n) AS wo11,
          w.wh00 - $lr*(r.gw00/n.n) AS wh00, w.wh01 - $lr*(r.gw01/n.n) AS wh01,
          w.wh10 - $lr*(r.gw10/n.n) AS wh10, w.wh11 - $lr*(r.gw11/n.n) AS wh11,
          w.bh0 - $lr*(r.gb0/n.n) AS bh0, w.bh1 - $lr*(r.gb1/n.n) AS bh1
        FROM w${k - 1} w, r$k r, n)"""
    }.mkString(",\n      ")
    s"""WITH d AS (SELECT CASE WHEN l_returnflag = 'A' THEN 0
          WHEN l_returnflag = 'N' THEN 1 ELSE 2 END AS c,
        l_quantity::DOUBLE/50 AS x1,
        CASE WHEN l_linestatus = 'F' THEN 0 ELSE 1 END AS y FROM lineitem),
      n AS (SELECT count(*)::DOUBLE AS n FROM d),
      e0 AS (SELECT * FROM (VALUES $eVals) AS tv(c, e1, e2)),
      w0 AS ($w0),
      $chain
      SELECT c AS code, round(e1, 6) AS e1, round(e2, 6) AS e2
      FROM e$steps ORDER BY c"""
  }

  /** The reference's DBTransformer at num_heads = 2, trained END-TO-END
    * (bp17) — the last tuned-model-space gap closed: embedding table +
    * numeric embedder feed per-head LEARNED Q/K/V projections, the
    * concat heads pass the learned out-projection and the class head;
    * every block trained jointly, all gradients riding ONE groupBy(code)
    * pass per step. The trained table rows are emitted — every
    * projection update feeds them transitively through step 2's
    * attention. */
  private[graft] val qFitTransformerMha = Q("bp17_fit_transformer_mha",
    (s, d) => {
      import graft.pipeline.Blueprint
      val li = t(s, d, "lineitem").select(
        when(col("l_returnflag") === "A", 0)
          .when(col("l_returnflag") === "N", 1).otherwise(2).as("code"),
        (col("l_quantity") / 50).as("x1"),
        when(col("l_linestatus") === "F", 0).otherwise(1).as("y"))
      val p = Blueprint.fitTransformerMhaGD(li, "code", Seq("x1"), "y",
        card = 3, dim = 2, nClass = 2, heads = 2, steps = 2, lr = 0.1)
      import s.implicits._
      (0 until 3).map(c => (c, p.e(c)(0), p.e(c)(1)))
        .toDF("code", "__e1", "__e2")
        .select(col("code"), round(col("__e1"), 6).as("e1"),
          round(col("__e2"), 6).as("e2"))
        .orderBy("code")
    },
    Some(fitTransformerMhaOracle(steps = 2, lr = 0.1)))

  /** F20: embedding stub is hash-defined — rows-only check; the combinator
    * semantics are spec-tested. */
  private[graft] val qEmbedStub = Q("t4_text_embed_stub",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        round(element_at(TextAnalysis.embedTextStub(col("text"), 8), 1), 6).as("e0"))
      .orderBy("doc_id"),
    None)

  /** F20 (real path): table-driven embedding through [[TextAnalysis
    * .embedWithTable]] — broadcast (token → vec) join + per-document mean.
    * For oracle parity the embedding table is DERIVED from the corpus
    * vocabulary with SQL-expressible integer-valued vectors
    * (len(token), len(token)²), so the whole tokenize → lookup → average
    * pipeline is restatable in DuckDB and the sums stay exact in double. */
  private[graft] val qEmbedTable = Q("t4b_text_embed_table",
    (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = docs
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0).distinct()
        .select(col("token"), array(length(col("token")).cast("double"),
          (length(col("token")) * length(col("token"))).cast("double")).as("vec"))
      TextAnalysis.embedWithTable(docs, "doc_id", "text", vocab, "token", "vec", dim = 2)
        .select(col("doc_id"),
          round(element_at(col("embedding"), 1), 4).as("e0"),
          round(element_at(col("embedding"), 2), 4).as("e1"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents),
      t2 AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
      a AS (SELECT doc_id, round(avg(length(tok)), 4) AS e0,
        round(avg(length(tok)*length(tok)), 4) AS e1 FROM t2 GROUP BY doc_id)
      SELECT doc_id, coalesce(e0, 0.0) AS e0, coalesce(e1, 0.0) AS e1
      FROM documents LEFT JOIN a USING (doc_id) ORDER BY doc_id"""))

  /** F13 on a DERIVED interval (testdata has no interval column):
    * timestamp subtraction yields a DayTimeIntervalType, converted to total
    * nanoseconds by field extraction. Reported in seconds at 6 decimals:
    * the true value has exactly micro precision, and both engines' double
    * error (≤1e-7) is well inside the 5e-7 rounding boundary. */
  private[graft] val qDuration = Q("f13_duration_nanos",
    (s, d) => {
      val interval = col("l_shipdate") - lit("1995-01-01 00:00:00").cast("timestamp")
      val Seq((_, nanos, _)) = Converters.DurationConverter
        .convert("dur", DurationColumnDef(), interval)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(nanos / 1e9, 6).as("dur_s"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      round((epoch(l_shipdate) - epoch(TIMESTAMP '1995-01-01')) * 1e9 / 1e9, 6) AS dur_s
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  private[graft] val qSoftmax = Q("f21_softmax_argmax",
    (s, d) => {
      val e = col("embedding")
      t(s, d, "embeddings").select(
        col("vec_id"),
        Similarity.argmaxArray(e).cast("bigint").as("argmax"),
        round(element_at(Similarity.softmaxArray(e),
          (Similarity.argmaxArray(e) + 1).cast("int")), 4).as("p_max"))
        .orderBy("vec_id")
    },
    Some("""SELECT vec_id, (list_position(embedding, list_max(embedding)) - 1)::BIGINT AS argmax,
      round(1.0 / list_aggregate(list_transform(embedding,
        x -> exp(x::DOUBLE - list_max(embedding)::DOUBLE)), 'sum'), 4) AS p_max
      FROM embeddings ORDER BY vec_id"""))

  private[graft] val qMetrics = Q("f22_regression_metrics",
    (s, d) => {
      val p = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val y = col("l_extendedprice")
      t(s, d, "lineitem").agg(
        round(avg(abs(p - y)), 4).as("mae"),
        round(avg(pow(p - y, 2)), 2).as("mse"),
        round(sqrt(avg(pow(p - y, 2))) / avg(y), 6).as("nrmse"))
    },
    Some("""SELECT round(avg(abs(l_extendedprice*(1-l_discount) - l_extendedprice)),4) AS mae,
      round(avg(pow(l_extendedprice*(1-l_discount) - l_extendedprice, 2)),2) AS mse,
      round(sqrt(avg(pow(l_extendedprice*(1-l_discount) - l_extendedprice, 2)))
        / avg(l_extendedprice), 6) AS nrmse FROM lineitem"""))

  // ====================================================================
  // BFS sampling (§2.3 J3 / §3.3)
  // ====================================================================

  private[graft] val qBfs = Q("j3_bfs_sample",
    (s, d) => {
      val cat = catalog(s, d)
      val core = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      val schema = cat.constraintSchema()
      val coreSchema = Schema(schema.tables.filter { case (k, _) => core.contains(k) })
      new BfsSampler(coreSchema, core.map(n => n -> cat.table(n)).toMap, maxDepth = 3)
        .sampleStats("orders", 7)
    },
    Some("""WITH seed AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 1 OFFSET 7),
      cust AS (SELECT DISTINCT c.* FROM customer c WHERE c_custkey IN (SELECT o_custkey FROM seed)),
      li AS (SELECT DISTINCT l.* FROM lineitem l WHERE l_orderkey IN (SELECT o_orderkey FROM seed)),
      nat AS (SELECT DISTINCT n.* FROM nation n WHERE n_nationkey IN (SELECT c_nationkey FROM cust)),
      ord_all AS (SELECT DISTINCT * FROM (SELECT * FROM seed UNION
        SELECT o.* FROM orders o WHERE o_orderkey IN (SELECT l_orderkey FROM li))),
      prt AS (SELECT DISTINCT p.* FROM part p WHERE p_partkey IN (SELECT l_partkey FROM li)),
      sup AS (SELECT DISTINCT s.* FROM supplier s WHERE s_suppkey IN (SELECT l_suppkey FROM li))
      SELECT * FROM (
        SELECT 'customer' AS table_name, count(*) AS n FROM cust UNION ALL
        SELECT 'lineitem', count(*) FROM li UNION ALL
        SELECT 'nation', count(*) FROM nat UNION ALL
        SELECT 'orders', count(*) FROM ord_all UNION ALL
        SELECT 'part', count(*) FROM prt UNION ALL
        SELECT 'supplier', count(*) FROM sup) ORDER BY table_name"""))

  /** J3 + the virtual `_target_table` node and `_target_fk` edge the
    * reference attaches to every sample (data/dataset.py:271,356-362):
    * same BFS walk, plus one synthetic node row and one edge to the seed —
    * both counts derived from the seed DataFrame (an empty seed reports 0,
    * so the oracle is data-driven, not a constant). */
  private[graft] val qBfsTarget = Q("j3b_bfs_virtual_target",
    (s, d) => {
      val cat = catalog(s, d)
      val core = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      val schema = cat.constraintSchema()
      val coreSchema = Schema(schema.tables.filter { case (k, _) => core.contains(k) })
      new BfsSampler(coreSchema, core.map(n => n -> cat.table(n)).toMap, maxDepth = 3)
        .sampleStatsWithVirtualTarget("orders", 7)
        .orderBy("table_name")
    },
    qBfs.oracle.map(sql => sql.replace(
      "ORDER BY table_name",
      """UNION ALL SELECT '_target_table', count(*) FROM seed
        UNION ALL SELECT '_target_table->_target_fk->orders', count(*) FROM seed
        ORDER BY table_name""")))

  // ====================================================================

  private[graft] val all: Seq[Q] = Seq(
    qFactorize,
    qEncode,
    qTopK,
    qSplit,
    qUnionDistinct,
    qNormalizers,
    qDateFns,
    qMultiLabel,
    qTableConvert,
    qLegacyDates,
    qBlueprint,
    qFitDecoder,
    qKfoldRidge,
    qConformal,
    qFitClassifier,
    qFitGd,
    qFitMlp,
    qFitGnn,
    qFitHeteroGnn,
    qFitAttnGnn,
    qFitMhaGnn,
    qFitGnn2,
    qFitHeteroAttnGnn,
    qSampledTrainStep,
    qFitEmbedding,
    qColumnAttention,
    qFitCrossAttn,
    qTransformerForward,
    qFitTransformer,
    qMhaForward,
    qFitMha,
    qStackedTransformer,
    qFitTransformerMha,
    qEmbedStub,
    qEmbedTable,
    qDuration,
    qSoftmax,
    qMetrics,
    qBfs,
    qBfsTarget)
}
