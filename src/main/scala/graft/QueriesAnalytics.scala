package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.{Incremental, VectorAgg}
import graft.analyze.{Associations, Behavior, DistinctCounter, Olap, Quantiles, Sketches, Stats}
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


/** Registry domain: behavioral analytics, data layout, sampling, contamination. See [[SparkEntry]] for the contract. */
private[graft] object QueriesAnalytics {
  import QBase._

  // Behavioral analytics / data layout / sampling / contamination (round 6)
  // ====================================================================

  /** Ordered signup→click→purchase funnel over the first day: one fold
    * per user, no stage-count joins (the SQL restatement IS the n-join
    * form — the engine's one-shuffle fold must agree with it exactly).
    * The day slice keeps stage counts strictly decaying, so the
    * strict-order semantics are actually discriminated, not saturated. */
  private[graft] val qFunnel = Q("fn1_funnel",
    (s, d) => Behavior.funnel(
        events(s, d).filter(col("ts") < lit("2024-01-02").cast("timestamp")),
        "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))
      .orderBy("stage"),
    Some("""WITH e AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02'),
      s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        WHERE event_type='signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
        JOIN s1 USING (user_id)
        WHERE e.event_type='click' AND e.ts > s1.t1 GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
        JOIN s2 USING (user_id)
        WHERE e.event_type='purchase' AND e.ts > s2.t2 GROUP BY 1)
      SELECT 0 AS stage, 'signup' AS name, (SELECT count(*) FROM s1) AS users
      UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s2)
      UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s3)
      ORDER BY stage"""))

  /** Cohort retention: first-event-date cohorts × whole-week offsets,
    * distinct active users per cell. */
  private[graft] val qCohort = Q("coh1_cohort_retention",
    (s, d) => Behavior.cohortRetention(events(s, d), "user_id", "ts")
      .orderBy("cohort_day", "week_offset"),
    Some("""WITH f AS (SELECT user_id, min(ts::DATE) AS cohort_day
        FROM events GROUP BY 1)
      SELECT f.cohort_day::VARCHAR AS cohort_day,
        (date_diff('day', f.cohort_day, e.ts::DATE) // 7)::INT AS week_offset,
        count(DISTINCT e.user_id) AS users
      FROM events e JOIN f USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** SCD2 dimension history from the purchase change log: per-user value
    * tier versioned with half-open validity intervals; consecutive
    * same-tier purchases collapse into one version. */
  private[graft] val qScd2 = Q("scd1_scd2_history",
    (s, d) => Features.scd2(
        events(s, d).filter(col("event_type") === "purchase")
          .withColumn("tier", floor(col("value") / 25)),
        "user_id", "ts", "tier", "event_id")
      .orderBy("user_id", "valid_from_us"),
    Some("""WITH p AS (SELECT user_id, ts, event_id,
          floor(value / 25)::BIGINT AS tier
        FROM events WHERE event_type='purchase'),
      w AS (SELECT *, lag(tier) OVER
          (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM p),
      c AS (SELECT user_id, ts, event_id, tier FROM w
        WHERE prev IS DISTINCT FROM tier),
      v AS (SELECT user_id, tier, epoch_us(ts) AS valid_from_us,
          epoch_us(lead(ts) OVER
            (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us
        FROM c)
      SELECT user_id, tier, valid_from_us, valid_to_us,
        valid_to_us IS NULL AS is_current
      FROM v ORDER BY user_id, valid_from_us"""))

  /** Key-skew diagnosis on the orders→customer FK: the profile a pipeline
    * reads before choosing salting / AQE settings. */
  private[graft] val qKeyProfile = Q("sk2_key_profile",
    (s, d) => graft.agg.Skew.keyProfile(t(s, d, "orders"), "o_custkey"),
    Some("""WITH c AS (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1),
      t AS (SELECT sum(c)::BIGINT AS n, count(*) AS n_keys,
        max(c) AS max_key_rows, stddev_samp(c) AS sd, avg(c) AS mean FROM c)
      SELECT t.n AS n_rows, t.n_keys, t.max_key_rows,
        round(t.max_key_rows / t.n::DOUBLE, 6) AS max_share,
        round(t.sd / t.mean, 4) AS count_cv,
        round(-sum((c.c / t.n::DOUBLE) * ln(c.c / t.n::DOUBLE)), 4) AS entropy_nats
      FROM c CROSS JOIN t
      GROUP BY t.n, t.n_keys, t.max_key_rows, t.sd, t.mean"""))

  /** Engine-portable stratified downsample (md5 coin): rebalance the
    * corpus by language — keep 25% of en, 50% of de, all the rest. */
  private[graft] val qStratified = Q("w9_stratified_sample",
    (s, d) => Sampling.stratifiedSamplePortable(t(s, d, "documents"),
        "lang", "doc_id", Map("en" -> 0.25, "de" -> 0.5))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang FROM documents
      WHERE substr(md5(doc_id::VARCHAR || ':42'), 1, 4) <
        CASE lang WHEN 'en' THEN '4000' WHEN 'de' THEN '8000' ELSE 'g' END
      ORDER BY doc_id"""))

  /** Benchmark-contamination scan: share of each document's 3-gram
    * shingles found in a (hash-sampled) benchmark set — the
    * decontamination gate of a training-data pipeline. The sampled docs
    * themselves score 1.0 by construction. */
  private[graft] val qContamination = Q("cont1_contamination",
    (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contamination(docs,
          Sampling.hashSample(docs, "doc_id", "20"), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents),
      s AS (SELECT doc_id, list_distinct(CASE WHEN len(w) < 3
          THEN [array_to_string(w, ' ')]
          ELSE list_transform(range(1, len(w)-1),
            i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS toks FROM t),
      ds AS (SELECT doc_id, unnest(toks) AS sh FROM s),
      bs AS (SELECT DISTINCT sh FROM (SELECT unnest(toks) AS sh FROM s
        WHERE substr(md5(doc_id::VARCHAR),1,2) < '20')),
      pd AS (SELECT d.doc_id, count(*) AS n_shingles,
          sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
        FROM ds d LEFT JOIN bs b ON d.sh = b.sh GROUP BY 1)
      SELECT doc.doc_id, pd.n_shingles, pd.n_hit,
        round(pd.n_hit / pd.n_shingles::DOUBLE, 4) AS contaminated_frac
      FROM documents doc LEFT JOIN pd ON doc.doc_id = pd.doc_id
      ORDER BY doc.doc_id"""))

  /** Z-order (Morton) clustering key over (o_custkey, o_orderkey): 64
    * interleave-prefix buckets, each covering a compact rectangle of key
    * space — the min/max spans per bucket are exactly the file statistics
    * data skipping would prune on. Native codegen expression on the Spark
    * side; generated bit-arithmetic restatement on the oracle side. */
  private[graft] def zorderSql(aExpr: String, bExpr: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($aExpr) >> $i) & 1) * ${1L << (2 * i)}",
      s"((($bExpr) >> $i) & 1) * ${1L << (2 * i + 1)}")).mkString("(", " + ", ")")

  private[graft] val qZOrder = Q("zo1_zorder_stats",
    (s, d) => t(s, d, "orders")
      .groupBy(shiftright(ZOrder.z(col("o_custkey"), col("o_orderkey"), 10), 14)
        .as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"),
        min(col("o_orderkey")).as("min_ok"), max(col("o_orderkey")).as("max_ok"))
      .orderBy("zbucket"),
    Some(s"""SELECT ${zorderSql("o_custkey & 1023", "o_orderkey & 1023", 10)} >> 14
        AS zbucket,
        count(*) AS n, min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
        min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** All unordered co-purchase pairs (u < v) from a projected
    * `(l_orderkey, l_partkey)` frame — the edge build shared by
    * tc1/tc2/tc3/tc4 and kc1/kc2: one groupBy(order) collecting each
    * order's sorted distinct part list, a row-local per-order pair
    * expansion, then the cross-order distinct. Replaces the r13 shape
    * (distinct → self-join on l_orderkey → distinct) with an IDENTICAL
    * edge set at 2 exchanges instead of 4: distinct's (order, part)
    * hash partitioning never satisfied the order-keyed self-join, so
    * both join inputs re-shuffled (guide §2.4 — remove shuffles
    * outright; plan diff in plans/r14). Spread.wide keeps the collect
    * phase off a single core on narrow local scans (no-op at scale).
    *
    * Giant-basket safety (r15, guide §2.5/§5): the pair expansion is a
    * TWO-LEVEL explode — `posexplode` streams one (position, u) row per
    * part, then each row explodes only its own suffix slice — so no
    * single row or buffer ever holds more than ONE order's part list
    * (O(basket)); the r14 form materialized the full per-order pair
    * array (O(basket²) structs in one aggregation-output value), which
    * a pathological 10⁴-part order would have turned into a 5·10⁷-
    * element cell. Total pair-row COUNT is unchanged (it is the edge
    * multiset both shapes produce); only the peak per-row footprint
    * drops, which is strictly stronger than the capped-slice fix
    * because it needs no cap to prove safe. The remaining per-order
    * state is collect_set's O(basket) list — the same bound the old
    * self-join's per-key join buffer carried.
    *
    * NULL l_orderkey rows are dropped explicitly: the replaced
    * self-join (and the SQL oracle's equi-join) never paired them,
    * while a bare groupBy would have collected all NULL-order rows
    * into one giant spurious basket — the filter makes the equivalence
    * hold by construction on nullable input, not just on TPC-H data
    * (CoPurchaseSpec pins both). */
  private[graft] def coPurchasePairs(li: DataFrame): DataFrame = {
    val parts = graft.util.Spread.wide(li)
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("__ps"))
    parts
      .select(col("__ps"), posexplode(col("__ps")).as(Seq("__i", "u")))
      .select(col("u"),
        explode(slice(col("__ps"), col("__i") + lit(2), size(col("__ps"))))
          .as("v"))
      .distinct()
  }

  /** Triangle count of the co-purchase graph (parts sharing an order):
    * degree-oriented wedge enumeration on the Spark side — bounded m^1.5
    * wedges at any skew — against the naive 3-way self-join restatement
    * (same count by definition, affordable at oracle SF). */
  private[graft] val qTriangles = Q("tc1_triangle_count",
    (s, d) => {
      val e = coPurchasePairs(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")))
      graft.graph.Triangles.count(e, "u", "v")
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
      SELECT count(*) AS triangles FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v"""))

  /** Doulion approximate triangle count on the same co-purchase graph —
    * the 100 TB path past tc1/tc2's inherent Σ outdeg² wedge growth
    * (measured ~5.5× at the 3× sf3 sweep): keep each canonical edge on
    * the portable md5 coin at p = 0x40/256 = 1/4, count exactly on the
    * sparse graph (~1/64 the intersection work), scale by 4³. The coin
    * is a pure function of the edge, so the estimate is deterministic
    * and the WHOLE estimator — coin, sparse count, scaling — restates
    * in SQL. TrianglesSpec pins estimator = exact-count-on-sample ×
    * scale and coin invariance to edge order. */
  private[graft] val qTrianglesApprox = Q("tc3_triangle_approx",
    (s, d) => {
      val e = coPurchasePairs(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")))
      graft.graph.Triangles.approxCount(e, "u", "v", thresholdHex = "40")
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      k AS (SELECT u, v FROM e
        WHERE substr(md5('tc:' || u::VARCHAR || ':' || v::VARCHAR), 1, 2) < '40'),
      t AS (SELECT count(*) AS c FROM k e1
        JOIN k e2 ON e1.v = e2.u
        JOIN k e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT (SELECT c FROM t) * 64.0 AS est_triangles,
        (SELECT count(*) FROM k) AS sampled_edges"""))

  /** Vertex-sampled triangle estimate with the coin pushed BELOW the
    * co-purchase self-join — the colorful-counting scale shape: the
    * `tcv:` md5 coin filters lineitem at the SCAN (p = 1/4 of parts
    * survive), so the pair join shrinks ~p² and the count phase ~p³,
    * where tc3's edge coin left the join untouched (measured
    * join-bound at sf3). The operator re-filters both endpoints
    * defensively, so the pushed and unpushed forms provably agree —
    * and the whole estimator restates in SQL. */
  private[graft] val qTrianglesVertexSampled = Q("tc4_triangle_vsample",
    (s, d) => {
      val e = coPurchasePairs(t(s, d, "lineitem")
        .filter(graft.graph.Triangles.vertexCoin(col("l_partkey"), "40"))
        .select(col("l_orderkey"), col("l_partkey")))
      graft.graph.Triangles.approxCountInduced(e, "u", "v", thresholdHex = "40")
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE substr(md5('tcv:' || l_partkey::VARCHAR), 1, 2) < '40'),
      e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      t AS (SELECT count(*) AS c FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT (SELECT c FROM t) * 64.0 AS est_triangles,
        (SELECT count(*) FROM e) AS sampled_edges"""))

  /** Latest-wins MERGE: a 10% update batch (status 'U') plus a 4% batch of
    * brand-new keys (status 'N') upserted into orders — one tagged union +
    * one per-key window against the FULL-JOIN/coalesce restatement. */
  private[graft] val qUpsert = Q("up1_merge_upsert",
    (s, d) => {
      val cur = t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      val changed = Sampling.hashSample(cur, "o_orderkey", "10")
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"))
      // fresh keys are negated, not offset: an offset collides with real
      // orderkeys once SF grows past the offset/6M mark, a negative key never
      val fresh = Sampling.hashSample(cur, "o_orderkey", "04")
        .select((-col("o_orderkey")).as("o_orderkey"),
          lit("N").as("o_orderstatus"))
      graft.sources.Merge.upsert(cur, changed.unionAll(fresh), Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
    Some("""WITH u AS (SELECT o_orderkey, 'U' AS o_orderstatus FROM orders
        WHERE substr(md5(o_orderkey::VARCHAR),1,2) < '10'
        UNION ALL
        SELECT -o_orderkey, 'N' FROM orders
        WHERE substr(md5(o_orderkey::VARCHAR),1,2) < '04')
      SELECT coalesce(u.o_orderkey, o.o_orderkey) AS o_orderkey,
        coalesce(u.o_orderstatus, o.o_orderstatus) AS o_orderstatus
      FROM orders o FULL JOIN u ON o.o_orderkey = u.o_orderkey
      ORDER BY o_orderkey"""))

  /** Incremental aggregate maintenance: the per-customer aggregate table
    * maintained from a base batch (orders before 1997) plus a delta batch
    * (the rest) via [[Incremental.mergeState]] — the oracle RESTATES the
    * merge (two grouped states full-outer combined), so the monoid
    * semantics are what's checked, not just the final totals. */
  private[graft] val qIvm = Q("ivm1_incremental_agg",
    (s, d) => {
      val o = t(s, d, "orders")
      val state = Incremental.aggState(
        o.filter(col("o_orderdate") < lit("1997-01-01")),
        Seq("o_custkey"), Seq("o_totalprice"))
      val delta = Incremental.aggState(
        o.filter(col("o_orderdate") >= lit("1997-01-01")),
        Seq("o_custkey"), Seq("o_totalprice"))
      Incremental.mergeState(state, delta, Seq("o_custkey"), Seq("o_totalprice"))
        .select(col("o_custkey"), col("n"),
          round(col("sum_o_totalprice"), 4).as("sum_total"),
          round(col("min_o_totalprice"), 4).as("min_total"),
          round(col("max_o_totalprice"), 4).as("max_total"))
        .orderBy("o_custkey")
    },
    Some("""WITH st AS (SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS s,
          min(o_totalprice) AS mn, max(o_totalprice) AS mx
        FROM orders WHERE o_orderdate < '1997-01-01' GROUP BY 1),
      dl AS (SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS s,
          min(o_totalprice) AS mn, max(o_totalprice) AS mx
        FROM orders WHERE o_orderdate >= '1997-01-01' GROUP BY 1),
      m AS (SELECT coalesce(st.o_custkey, dl.o_custkey) AS o_custkey,
          coalesce(st.n, 0) + coalesce(dl.n, 0) AS n,
          CASE WHEN st.s IS NULL THEN dl.s WHEN dl.s IS NULL THEN st.s
            ELSE st.s + dl.s END AS s,
          least(st.mn, dl.mn) AS mn, greatest(st.mx, dl.mx) AS mx
        FROM st FULL OUTER JOIN dl ON st.o_custkey = dl.o_custkey)
      SELECT o_custkey, n::BIGINT AS n, round(s, 4) AS sum_total,
        round(mn, 4) AS min_total, round(mx, 4) AS max_total
      FROM m ORDER BY o_custkey"""))

  /** One-pass Poisson bootstrap CI (90%) for the mean order total: 32
    * replicates = 64 running sums in ONE codegen aggregation pass
    * (never 32 resampled copies; each md5 digest feeds 8 replicate
    * coins). Values enter as exact integer CENTS (the dq8 device) so
    * every weighted sum is exactly representable and the replicate
    * means are bit-identical cross-engine; the md5-coin Poisson ladder
    * is pinned to 10 dp literals. */
  private[graft] val qBootstrapCi = Q("bs2_bootstrap_ci",
    (s, d) => {
      import graft.analyze.Bootstrap
      val o = t(s, d, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      Bootstrap.meanCi(o, "cents", "o_orderkey", b = 32, seed = "bs",
          alpha = 0.1)
        .select(col("n_replicates"),
          round(col("ci_lo") / 100.0, 4).as("ci_lo"),
          round(col("ci_hi") / 100.0, 4).as("ci_hi"))
    },
    Some {
      val thr = Seq("0.3678794412", "0.7357588823", "0.9196986029",
        "0.9810118431", "0.9963401532", "0.9994058152", "0.9999167589",
        "0.9999897508")
      val ladder = thr.map(t => s"(u >= $t)::INT").mkString(" + ")
      s"""WITH reps AS (SELECT unnest(generate_series(0, 31)) AS r),
        base AS (SELECT o_orderkey,
          round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        uw AS (SELECT r.r, b.cents,
            ((('0x' || substr(md5(b.o_orderkey::VARCHAR || ':bs:' || (r.r // 8)::VARCHAR),
              (4 * (r.r % 8) + 1)::INT, 4))::INT + 0.5) / 65536.0) AS u
          FROM base b CROSS JOIN reps r),
        w AS (SELECT r, cents, ($ladder)::DOUBLE AS wt FROM uw),
        m AS (SELECT r, sum(wt * cents) / sum(wt) AS mean FROM w GROUP BY r),
        rk AS (SELECT mean, row_number() OVER (ORDER BY mean) AS rn FROM m)
        SELECT 32 AS n_replicates,
          round(min(CASE WHEN rn = 2 THEN mean END) / 100.0, 4) AS ci_lo,
          round(min(CASE WHEN rn = 31 THEN mean END) / 100.0, 4) AS ci_hi
        FROM rk"""
    })

  /** Two-sample KS test between returned and delivered quantities: the
    * data collapses to per-DISTINCT-VALUE counts in one pass, both
    * ECDFs are cumulative sums over that bounded frame, and D is the
    * max gap — exact (a step function's supremum is at a jump). */
  private[graft] val qKs = Q("ks1_ks_test",
    (s, d) => Stats.ksTest(t(s, d, "lineitem"), "l_returnflag",
      "l_quantity", "R", "N"),
    Some("""WITH cells AS (SELECT l_quantity AS v,
        sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c1,
        sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS c2
      FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
      e AS (SELECT v, sum(c1) OVER () AS n1, sum(c2) OVER () AS n2,
        abs(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::DOUBLE
            / (sum(c1) OVER ()) -
          sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::DOUBLE
            / (sum(c2) OVER ())) AS gap
      FROM cells)
      SELECT max(n1)::BIGINT AS n1, max(n2)::BIGINT AS n2,
        round(max(gap), 6) AS d_stat,
        round(max(gap) * sqrt(max(n1) * max(n2)
          / (max(n1) + max(n2))::DOUBLE), 6) AS lambda
      FROM e"""))

  /** CUPED variance reduction over customers: pre-period spend (before
    * 1996) as the covariate for experiment-period spend — per-order
    * floor(kilodollars) keeps every power sum integer-valued below 2^53,
    * so θ and both variances are bit-identical cross-engine. One
    * groupBy(customer) + one power-sum pass. */
  private[graft] val qCuped = Q("cuped1_variance_reduction",
    (s, d) => {
      val units = t(s, d, "orders").groupBy(col("o_custkey")).agg(
        sum(when(col("o_orderdate") < lit("1996-01-01"),
          floor(col("o_totalprice") / 1000)).otherwise(0L)).as("x"),
        sum(when(col("o_orderdate") >= lit("1996-01-01"),
          floor(col("o_totalprice") / 1000)).otherwise(0L)).as("y"))
      graft.analyze.Stats.cuped(units, "x", "y")
    },
    Some("""WITH u AS (SELECT o_custkey,
        sum(CASE WHEN o_orderdate < '1996-01-01'
          THEN floor(o_totalprice / 1000) ELSE 0 END) AS x,
        sum(CASE WHEN o_orderdate >= '1996-01-01'
          THEN floor(o_totalprice / 1000) ELSE 0 END) AS y
      FROM orders GROUP BY 1),
      s AS (SELECT count(*)::DOUBLE AS n, sum(x::DOUBLE) AS sx,
        sum(y::DOUBLE) AS sy, sum(x::DOUBLE * x::DOUBLE) AS sxx,
        sum(y::DOUBLE * y::DOUBLE) AS syy, sum(x::DOUBLE * y::DOUBLE) AS sxy
      FROM u)
      SELECT n::BIGINT AS n_units,
        round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS theta,
        round((syy - sy * sy / n) / n, 4) AS var_y,
        round((syy - sy * sy / n) / n -
          (sxy - sx * sy / n) * (sxy - sx * sy / n) /
          ((sxx - sx * sx / n) * n), 4) AS var_cuped,
        round((1.0 - ((syy - sy * sy / n) / n -
            (sxy - sx * sy / n) * (sxy - sx * sy / n) /
            ((sxx - sx * sx / n) * n)) / ((syy - sy * sy / n) / n))
          * 100.0, 4) AS reduction_pct
      FROM s"""))

  /** Kaplan–Meier survival over user lifetimes: duration = days between
    * first and last event, right-CENSORED when the last event falls in
    * the final 7 days of the stream (the user may still be active) —
    * the churn curve with censoring done correctly. One groupBy(user)
    * + one groupBy(duration); windows touch only the bounded life
    * table. */
  private[graft] val qKaplanMeier = Q("km1_kaplan_meier",
    (s, d) => {
      import graft.analyze.Survival
      val u = events(s, d).groupBy("user_id").agg(
        unix_timestamp(min(col("ts"))).as("f"),
        unix_timestamp(max(col("ts"))).as("l"))
      val mx = u.agg(max(col("l")).as("m"))
      val life = u.crossJoin(broadcast(mx))
        .select(floor((col("l") - col("f")) / 86400.0).cast("long").as("dur"),
          when(col("l") > col("m") - 604800L, 0).otherwise(1).as("e"))
      Survival.kaplanMeier(life, "dur", "e")
        .select(col("t"), col("n_at_risk"), col("n_events"), col("n_censored"),
          round(col("survival"), 6).as("survival"))
        .orderBy("t")
    },
    Some("""WITH u AS (SELECT user_id, floor(epoch(min(ts))) AS f,
          floor(epoch(max(ts))) AS l FROM events GROUP BY 1),
      mx AS (SELECT max(l) AS m FROM u),
      life AS (SELECT floor((l - f) / 86400.0)::BIGINT AS t,
          CASE WHEN l > m - 604800 THEN 0 ELSE 1 END AS e FROM u, mx),
      g AS (SELECT t, sum(e)::BIGINT AS n_events, count(*)::BIGINT AS nr
        FROM life GROUP BY 1),
      r AS (SELECT t, n_events, nr,
          (sum(nr) OVER () - coalesce(sum(nr) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
            AS n_at_risk
        FROM g),
      f AS (SELECT t, n_at_risk, n_events, nr - n_events AS n_censored,
          1.0 - n_events::DOUBLE / n_at_risk AS fac FROM r),
      s AS (SELECT t, n_at_risk, n_events, n_censored,
          CASE WHEN min(fac) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) <= 0.0
            THEN 0.0
            ELSE exp(sum(CASE WHEN fac > 0.0 THEN ln(fac) ELSE 0.0 END)
              OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)) END AS survival
        FROM f)
      SELECT t, n_at_risk, n_events, n_censored, round(survival, 6) AS survival
      FROM s ORDER BY t"""))

  /** Declarative data-quality gate: six expectations over orders — five
    * compiled into ONE conditional-aggregate scan, plus one anti-join
    * referential check (the parent deliberately filtered so violations are
    * non-zero and the count is actually discriminated). */
  private[graft] val qDataQuality = Q("dq1_expectations",
    (s, d) => {
      import graft.analyze.DataQuality._
      run(t(s, d, "orders"), Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 1000, 300000),
        InSet("o_orderstatus", Seq("O", "F")),
        Matches("o_orderpriority", "^[1-3]-"),
        RefIntegrity("o_custkey",
          t(s, d, "customer").filter(col("c_custkey") < 1000), "c_custkey")))
        .orderBy("expectation")
    },
    Some("""WITH a AS (SELECT
        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn,
        (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT AS v_uq,
        sum(CASE WHEN o_totalprice IS NOT NULL
          AND (o_totalprice < 1000 OR o_totalprice > 300000)
          THEN 1 ELSE 0 END)::BIGINT AS v_rg,
        sum(CASE WHEN o_orderstatus IS NOT NULL
          AND o_orderstatus NOT IN ('O','F') THEN 1 ELSE 0 END)::BIGINT AS v_st,
        sum(CASE WHEN o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
          THEN 1 ELSE 0 END)::BIGINT AS v_re
        FROM orders),
      r AS (SELECT count(*)::BIGINT AS v_fk FROM orders o
        LEFT JOIN (SELECT c_custkey FROM customer WHERE c_custkey < 1000) c
        ON o.o_custkey = c.c_custkey
        WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
      SELECT expectation, violations FROM (
        SELECT 'not_null(o_custkey)' AS expectation, v_nn AS violations FROM a
        UNION ALL SELECT 'unique(o_orderkey)', v_uq FROM a
        UNION ALL SELECT 'in_range(o_totalprice,1000.0,300000.0)', v_rg FROM a
        UNION ALL SELECT 'in_set(o_orderstatus)', v_st FROM a
        UNION ALL SELECT 'matches(o_orderpriority)', v_re FROM a
        UNION ALL SELECT 'ref_integrity(o_custkey)', v_fk FROM r)
      ORDER BY expectation"""))

  /** Pairwise Pearson correlations over lineitem numerics — one aggregate
    * pass computes every pair, exploded to long form. */
  private[graft] val qCorrelation = Q("a17_correlation",
    (s, d) => {
      val li = t(s, d, "lineitem")
      val a = li.agg(
        corr(col("l_quantity"), col("l_extendedprice")).as("c1"),
        corr(col("l_quantity"), col("l_discount")).as("c2"),
        corr(col("l_extendedprice"), col("l_discount")).as("c3"))
      a.select(explode(array(
          struct(lit("l_quantity").as("x"), lit("l_extendedprice").as("y"),
            round(col("c1"), 4).as("corr")),
          struct(lit("l_quantity").as("x"), lit("l_discount").as("y"),
            round(col("c2"), 4).as("corr")),
          struct(lit("l_extendedprice").as("x"), lit("l_discount").as("y"),
            round(col("c3"), 4).as("corr")))).as("r"))
        .select(col("r.x").as("x"), col("r.y").as("y"), col("r.corr").as("corr"))
        .orderBy("x", "y")
    },
    Some("""WITH a AS (SELECT
        corr(l_quantity, l_extendedprice) AS c1,
        corr(l_quantity, l_discount) AS c2,
        corr(l_extendedprice, l_discount) AS c3 FROM lineitem)
      SELECT x, y, corr FROM (
        SELECT 'l_quantity' AS x, 'l_extendedprice' AS y, round(c1,4) AS corr FROM a
        UNION ALL SELECT 'l_quantity', 'l_discount', round(c2,4) FROM a
        UNION ALL SELECT 'l_extendedprice', 'l_discount', round(c3,4) FROM a)
      ORDER BY x, y"""))

  /** Equal-frequency quartiles of l_extendedprice: percentile boundaries
    * (4-decimal-rounded, the cross-engine-stable compare) bucket the scan;
    * per-bin count/lo/hi. The feature-binning step of a training
    * pipeline. */
  private[graft] val qEqualFreqBins = Q("qd1_equal_freq_bins",
    (s, d) => Quantiles.equalFrequencyBins(t(s, d, "lineitem"),
        "l_extendedprice", k = 4)
      .orderBy("bin"),
    Some("""WITH b AS (SELECT quantile_cont(l_extendedprice,
          [0.25,0.5,0.75]::DOUBLE[]) AS q
        FROM lineitem WHERE l_extendedprice IS NOT NULL)
      SELECT (1 + len(list_filter(b.q, x -> l.l_extendedprice > round(x,4))))::INT
          AS bin,
        count(*) AS n, round(min(l_extendedprice),2) AS lo,
        round(max(l_extendedprice),2) AS hi
      FROM lineitem l CROSS JOIN b
      WHERE l.l_extendedprice IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** Corpus-level heavy hitters: top-10 tokens with deterministic count-
    * then-term tiebreak — stopword discovery / vocabulary pruning. Partial
    * (map-side) aggregation does the heavy lifting; only (term, n) pairs
    * shuffle. */
  private[graft] val qHeavyHitters = Q("freq1_heavy_hitters",
    (s, d) => t(s, d, "documents")
      .filter(col("text").isNotNull)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(10),
    Some("""WITH tok AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS term
        FROM documents WHERE text IS NOT NULL)
      SELECT term, count(*) AS n FROM tok
      GROUP BY 1 ORDER BY n DESC, term LIMIT 10"""))

  /** Per-language document-length quantiles: grouped exact percentiles in
    * long form — the stratified distribution profile. */
  private[graft] val qGroupedQuantiles = Q("a18_grouped_quantiles",
    (s, d) => Quantiles.groupedExact(t(s, d, "documents"), "lang", "n_chars",
        Seq(0.25, 0.5, 0.75))
      .orderBy("lang", "p"),
    Some("""SELECT lang, p, q FROM (
        SELECT lang, 0.25::DOUBLE AS p, round(quantile_cont(n_chars, 0.25), 4) AS q
        FROM documents GROUP BY lang
        UNION ALL SELECT lang, 0.5::DOUBLE, round(quantile_cont(n_chars, 0.5), 4)
        FROM documents GROUP BY lang
        UNION ALL SELECT lang, 0.75::DOUBLE, round(quantile_cont(n_chars, 0.75), 4)
        FROM documents GROUP BY lang)
      ORDER BY lang, p"""))

  /** sim6's oracle: the greedy MMR selection is sequential per query, but
    * with m FIXED it unrolls — pick r is one argmax CTE over the
    * shortlist minus picks 1..r−1, scored 0.7·cos − 0.3·max(0, maxdiv).
    * Drift-safety of the discrete argmax: the relevance term is the
    * round-6 shortlist cos (EXACTLY equal across engines, since sim1's
    * oracle is green); only the diversity term carries ~1e-16 summation
    * drift, so an engine-vs-oracle pick flip needs two candidates'
    * scores mathematically closer than ~1e-15 — and mathematically TIED
    * candidates (duplicate vectors) compute bit-identical scores within
    * each engine, where the shared (score desc, cos desc, id) tie-break
    * agrees. `greatest(0, …)` mirrors the engine's zero-initialized
    * running max (cosines can be negative; the engine never lets
    * divergence go below 0). */
  private def mmrOracle(m: Int): String = {
    val head = """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      scored AS (SELECT query_id, neighbor_id, cv,
          round(list_cosine_similarity(qv, cv), 6) AS cos
        FROM q CROSS JOIN c WHERE query_id != neighbor_id),
      sl AS (SELECT query_id, neighbor_id, cv, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored) t WHERE rn <= 15),
      p1 AS (SELECT query_id, neighbor_id, cv, cos, 1 AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
          FROM sl) t WHERE rk = 1)"""
    val rounds = (2 to m).map { r =>
      val prevPicks = (1 until r)
        .map(j => s"SELECT query_id, neighbor_id, cv FROM p$j")
        .mkString(" UNION ALL ")
      s"""pk$r AS ($prevPicks),
      dv$r AS (SELECT s.query_id, s.neighbor_id, s.cv, s.cos,
          greatest(0.0, max(list_cosine_similarity(s.cv, p.cv))) AS dv
        FROM sl s JOIN pk$r p ON s.query_id = p.query_id
        WHERE s.neighbor_id NOT IN (SELECT neighbor_id FROM pk$r x WHERE x.query_id = s.query_id)
        GROUP BY 1, 2, 3, 4),
      p$r AS (SELECT query_id, neighbor_id, cv, cos, $r AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY 0.7*cos - 0.3*dv DESC, cos DESC, neighbor_id) AS rk
          FROM dv$r) t WHERE rk = 1)"""
    }
    val union = (1 to m)
      .map(r => s"SELECT query_id, neighbor_id, cos, rank FROM p$r")
      .mkString("\n      UNION ALL ")
    (Seq(head) ++ rounds).mkString(",\n      ") +
      s"""
      SELECT query_id, neighbor_id, cos, rank FROM (
      $union) u
      ORDER BY query_id, rank"""
  }

  /** MMR-diversified ANN: widened brute-force shortlist re-ranked for
    * diversity (λ = 0.7). Fully oracle-checked since round 12 — the
    * fixed-m greedy unrolls into per-pick argmax CTEs (see
    * [[mmrOracle]]); SimilaritySpec additionally pins the greedy
    * reference, and the shortlist itself is the oracle-checked sim1
    * pipeline. */
  private[graft] val qMmr = Q("sim6_mmr_topk",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val shortlist = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5),
        emb, "vec_id", "embedding", k = 15, roundDigits = 6)
      Similarity.mmrRerank(shortlist, emb, "vec_id", "embedding",
          m = 5, lambda = 0.7)
        .orderBy("query_id", "rank")
    },
    Some(mmrOracle(5)))

  /** Degenerate-parameter MMR anchor: λ = 1 zeroes the diversity term, so
    * by mmrRerank's own contract the greedy selection reduces to plain
    * relevance order with the (cos desc, id) tiebreak — i.e. the top-m of
    * the brute-force shortlist, restated in SQL as a rank cut. `sim6`
    * stays the rows-only diversity exercise at λ = 0.7. */
  private[graft] val qMmrAnchor = Q("sim6b_mmr_exact_anchor",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val shortlist = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5),
        emb, "vec_id", "embedding", k = 15, roundDigits = 6)
      Similarity.mmrRerank(shortlist, emb, "vec_id", "embedding",
          m = 5, lambda = 1.0)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      scored AS (SELECT query_id, neighbor_id,
        round(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 6) AS cos
        FROM q CROSS JOIN c WHERE query_id != neighbor_id),
      ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER
        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
      SELECT query_id, neighbor_id, cos, rn AS rank FROM ranked
      WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** Sliding-window token chunking (window 32, stride 24): the
    * context-length-bounded training-sample cutter. Pure per-row explode —
    * zero shuffles; the DuckDB restatement is generate_series over the
    * same start arithmetic. */
  private[graft] val qChunks = Q("chunk1_sliding_windows",
    (s, d) => graft.text.Chunker.slidingChunks(t(s, d, "documents"),
        "doc_id", "text", window = 32, stride = 24)
      .orderBy("doc_id", "chunk_id"),
    Some("""WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ts
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      st AS (SELECT doc_id, ts,
          unnest(generate_series(1, greatest(1, len(ts) - 8), 24)) AS s
        FROM tok)
      SELECT doc_id, ((s - 1) // 24 + 1)::BIGINT AS chunk_id,
        len(ts[s : s + 31])::BIGINT AS n_tokens,
        array_to_string(ts[s : s + 31], ' ') AS chunk
      FROM st ORDER BY doc_id, chunk_id"""))

  /** Whole-word blocklist redaction over documents: scrub + per-doc hit
    * count in one scan (content filtering for pretraining corpora). */
  private[graft] val qRedact = Q("red1_blocklist_redact",
    (s, d) => graft.text.Chunker.redactBlocklist(t(s, d, "documents"),
        "doc_id", "text", Seq("hash", "join", "scan"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
        len(regexp_extract_all(text, '(?i)\b(hash|join|scan)\b'))::BIGINT AS n_redacted,
        regexp_replace(text, '(?i)\b(hash|join|scan)\b', '[REDACTED]', 'g') AS redacted
      FROM documents ORDER BY doc_id"""))

  /** Corpus-trained bigram-LM surprisal (add-1 smoothing) — the
    * perplexity-style quality score; the model is plain aggregation, so
    * the whole learned pipeline restates as SQL. */
  private[graft] val qSurprisal = Q("lm1_bigram_surprisal",
    (s, d) => graft.text.LangModel.bigramSurprisal(t(s, d, "documents"),
        "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ts
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
          AND len(string_split(lower(trim(text)), ' ')) >= 2),
      bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        FROM (SELECT doc_id, ts,
            unnest(generate_series(1, len(ts) - 1)) AS i FROM tok)),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
      v AS (SELECT count(DISTINCT t) AS v
        FROM (SELECT unnest(ts) AS t FROM tok)),
      sc AS (SELECT bg.doc_id, -ln((c12.c12 + 1.0) / (c1.c1 + 1.0 * v.v)) AS s
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        round(avg(s), 4) AS surprisal
      FROM sc GROUP BY 1 ORDER BY doc_id"""))

  /** Character-distribution entropy per document — the gibberish/
    * boilerplate band filter; only integer counts feed the logs. */
  private[graft] val qCharEntropy = Q("t8_char_entropy",
    (s, d) => graft.text.TextAnalysis.charEntropy(t(s, d, "documents"),
        "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH ch AS (SELECT doc_id, substr(text, i, 1) AS c
        FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
          FROM documents WHERE text IS NOT NULL AND length(text) > 0)),
      cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2)
      SELECT doc_id, sum(n)::BIGINT AS n_chars_seen,
        count(*)::BIGINT AS n_distinct_chars,
        round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 4) AS entropy
      FROM cnt GROUP BY 1 ORDER BY doc_id"""))

  /** Greedy sequence packing: docs laid end-to-end per language, each
    * assigned to the fixed-capacity training sequence where it starts
    * (concat-and-chunk packing; one prefix-sum window per bucket). */
  private[graft] val qPack = Q("pack1_sequence_packing",
    (s, d) => graft.text.Chunker.packGreedy(t(s, d, "documents"),
        "doc_id", "text", 64, "lang")
      .orderBy("lang", "doc_id"),
    Some("""WITH tok AS (SELECT lang, doc_id,
        len(string_split(lower(trim(text)), ' ')) AS n_tokens
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      c AS (SELECT lang, doc_id, n_tokens,
        (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) AS st
        FROM tok)
      SELECT lang, doc_id, n_tokens::BIGINT AS n_tokens,
        (st // 64)::BIGINT AS seq_id, (st % 64)::BIGINT AS seq_offset
      FROM c ORDER BY lang, doc_id"""))

  /** Deterministic balanced sharding: docs dealt round-robin over the
    * (token count desc, id) rank; the per-shard summary is the balance
    * proof (doc counts ±1, token mass within a few %). */
  private[graft] val qBalancedShards = Q("shard1_balanced_shards",
    (s, d) => graft.text.Chunker.balancedShards(t(s, d, "documents"),
        "doc_id", "text", nShards = 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
      .orderBy("shard"),
    Some("""WITH c AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(string_split(trim(text), ' ')) END::INT AS n_tokens
        FROM documents),
      r AS (SELECT doc_id, n_tokens,
          row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rk FROM c)
      SELECT ((rk - 1) % 8)::INT AS shard, count(*)::BIGINT AS n_docs,
        sum(n_tokens)::BIGINT AS total_tokens, min(n_tokens)::INT AS min_tokens,
        max(n_tokens)::INT AS max_tokens
      FROM r GROUP BY 1 ORDER BY 1"""))

  /** Length-bucketed batching: similar-length docs batched together,
    * per-batch padding-waste report (the padded-inference economics). */
  private[graft] val qLenBatches = Q("lb1_length_batches",
    (s, d) => graft.text.Chunker.lengthBatches(t(s, d, "documents"),
        "doc_id", "text", 8, 16)
      .orderBy("len_bucket", "batch_id"),
    Some("""WITH tok AS (SELECT doc_id,
        len(string_split(lower(trim(text)), ' ')) AS n
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      b AS (SELECT doc_id, n, ((n + 15) // 16 * 16)::BIGINT AS len_bucket FROM tok),
      r AS (SELECT *, row_number() OVER
          (PARTITION BY len_bucket ORDER BY doc_id) AS rn FROM b),
      g AS (SELECT len_bucket, ((rn - 1) // 8)::BIGINT AS batch_id,
          count(*)::BIGINT AS n_docs, max(n)::BIGINT AS max_tokens,
          sum(n)::BIGINT AS sum_tokens
        FROM r GROUP BY 1, 2)
      SELECT len_bucket, batch_id, n_docs, max_tokens, sum_tokens,
        round(1.0 - sum_tokens / (n_docs * max_tokens)::DOUBLE, 4) AS waste_frac
      FROM g ORDER BY len_bucket, batch_id"""))

  /** Temperature-flattened (α=0.5) multi-source mixing at half the corpus
    * budget: rare sources upweighted, dominant ones down; integer-sqrt
    * weights keep the keep-fractions engine-exact (see
    * `Sampling.temperatureMix`), the per-row coin is the portable md5
    * device, so the whole learned sampling plan restates as SQL. */
  private[graft] val qTempMix = Q("mix1_temperature_mix",
    (s, d) => {
      val docs = t(s, d, "documents")
      val kept = Sampling.temperatureMix(docs, "source", "doc_id", 0.5)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    },
    Some("""WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      s AS (SELECT sum(floor(sqrt(n))::BIGINT)::BIGINT AS s,
          sum(n)::BIGINT AS tot FROM n),
      f AS (SELECT n.source, n.n,
          least(1.0::DOUBLE, (round(0.5 * s.tot)::BIGINT * floor(sqrt(n.n))::BIGINT)::DOUBLE
            / (s.s * n.n)::DOUBLE) AS f
        FROM n CROSS JOIN s),
      th AS (SELECT source, n, CASE WHEN f >= 1.0 THEN 'g'
          ELSE printf('%04x', least(65535, round(f * 65536)::BIGINT)) END AS th
        FROM f),
      kept AS (SELECT d.source, count(*)::BIGINT AS k
        FROM documents d JOIN th ON d.source = th.source
        WHERE substr(md5(d.doc_id::VARCHAR || ':42'), 1, 4) < th.th
        GROUP BY 1)
      SELECT th.source, th.n::BIGINT AS n_docs,
        coalesce(kept.k, 0)::BIGINT AS n_kept
      FROM th LEFT JOIN kept ON th.source = kept.source
      ORDER BY th.source"""))

  /** PII scrub over documents with synthetic contact strings woven in
    * fixture-side (the corpus itself is PII-free): emails, IPv4s and
    * phone numbers counted and redacted in one scan; both engines compose
    * the identical input, so the scrubbed text is hash-compared. */
  private[graft] val qPii = Q("pii1_pii_scan",
    (s, d) => {
      val composed = t(s, d, "documents").select(col("doc_id"), concat_ws(" ",
        col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("contact user"), col("doc_id").cast("string"),
            lit("@example.com"))),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("from 10.0."), pmod(col("doc_id"), lit(200)).cast("string"),
            lit(".25"))),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("call +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      ).as("text"))
      TextAnalysis.piiScan(composed, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH composed AS (SELECT doc_id, concat_ws(' ', text,
        CASE WHEN doc_id % 3 = 0
          THEN concat('contact user', doc_id::VARCHAR, '@example.com') END,
        CASE WHEN doc_id % 5 = 0
          THEN concat('from 10.0.', (doc_id % 200)::VARCHAR, '.25') END,
        CASE WHEN doc_id % 7 = 0
          THEN concat('call +1-555-', lpad((doc_id % 10000)::VARCHAR, 4, '0')) END
        ) AS text FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        len(regexp_extract_all(text,
          '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))::BIGINT AS n_ips,
        len(regexp_extract_all(text,
          '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(?:-[0-9]{4})?'))::BIGINT AS n_phones,
        regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
          '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(?:-[0-9]{4})?', '[PHONE]', 'g')
          AS redacted
      FROM composed ORDER BY doc_id"""))

  /** Winsorized price summary: clamp to the rounded [p05, p95] band, count
    * the clamped tails, and report the winsorized mean through exact
    * 1e-4-unit integer sums (summation-order-proof on both engines). */
  private[graft] val qWinsorize = Q("wz1_winsorize",
    (s, d) => {
      val w = Quantiles.winsorize(t(s, d, "lineitem"), "l_extendedprice",
        0.05, 0.95)
      w.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("lo_bound"), 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("l_extendedprice") > col("hi_bound"), 1L)
          .otherwise(0L)).as("n_high"),
        min(col("lo_bound")).as("lo_bound"),
        min(col("hi_bound")).as("hi_bound"),
        round(sum(round(col("l_extendedprice_w") * 10000, 0))
          / (lit(10000.0) * count(lit(1))), 4).as("mean_w"))
    },
    Some("""WITH b AS (SELECT
        round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
        round(quantile_cont(l_extendedprice, 0.95), 4) AS hi FROM lineitem)
      SELECT count(*)::BIGINT AS n,
        sum(CASE WHEN l_extendedprice < b.lo THEN 1 ELSE 0 END)::BIGINT AS n_low,
        sum(CASE WHEN l_extendedprice > b.hi THEN 1 ELSE 0 END)::BIGINT AS n_high,
        b.lo AS lo_bound, b.hi AS hi_bound,
        round(sum(round(least(greatest(l_extendedprice, b.lo), b.hi) * 10000))
          / (10000.0 * count(*)), 4) AS mean_w
      FROM lineitem CROSS JOIN b GROUP BY b.lo, b.hi"""))

  /** Bloom-prefiltered incremental dedup: same inputs and oracle as `d7` —
    * the output must be bit-identical to the plain anti-join (no false
    * negatives), while only maybe-dup rows pay the join shuffle. */
  private[graft] val qBloomDedup = Q("d9_bloom_incremental",
    (s, d) => {
      val docs = t(s, d, "documents")
      val fp = TextAnalysis.fingerprint(col("text"))
      val history = Sampling.hashSample(docs, "doc_id", "40")
        .select(fp.as("fp")).distinct()
      Dedup.incrementalDedupBloom(docs.withColumn("fp", fp), history, "fp")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    Some("""WITH hist AS (SELECT DISTINCT md5(lower(trim(text))) AS fp
        FROM documents WHERE substr(md5(doc_id::VARCHAR),1,2) < '40')
      SELECT d.doc_id FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM hist
        WHERE hist.fp = md5(lower(trim(d.text))))
      ORDER BY doc_id"""))

  /** Symmetric int8 embedding quantization with per-vector scale and
    * reconstruction-error report — every code and error hash-compared.
    * Codes are integer-valued by construction, so the registered query
    * projects the array to a comma-joined string of integers (the driver
    * gate sorts rows by all columns and cannot hash raw array cells — the
    * t4b scalar-projection device). */
  private[graft] val qInt8 = Q("eq1_int8_quantize",
    (s, d) => Quantize.int8(t(s, d, "embeddings"), "vec_id", "embedding")
      .withColumn("codes",
        concat_ws(",", transform(col("codes"), x => x.cast("long"))))
      .orderBy("vec_id"),
    Some("""WITH q AS (SELECT vec_id,
        list_transform(embedding, x -> x::DOUBLE) AS v,
        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS s
        FROM embeddings)
      SELECT vec_id, len(v)::BIGINT AS n_dims, round(s, 6) AS scale,
        CASE WHEN s = 0 THEN array_to_string(list_transform(v, x -> 0), ',')
          ELSE array_to_string(list_transform(v,
            x -> round(x / s)::BIGINT), ',') END AS codes,
        CASE WHEN s = 0 THEN 0.0
          ELSE round(list_max(list_transform(v,
            x -> abs(round(x / s) * s - x))), 6) + 0.0 END AS max_abs_err
      FROM q ORDER BY vec_id"""))

  /** Three-mode feature scaling over l_quantity: min-max, z-score from
    * exact integer-moment sums, robust from rounded median/MAD — every
    * scaled row hash-compared. */
  private[graft] val qScale = Q("sc1_feature_scaling",
    (s, d) => Features.scaleFeatures(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        "l_quantity")
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""WITH s AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx,
        sum(l_quantity) AS s1, sum(l_quantity*l_quantity) AS s2,
        count(l_quantity)::DOUBLE AS n FROM lineitem),
      b AS (SELECT round(quantile_cont(l_quantity, 0.5), 4) AS med FROM lineitem),
      m AS (SELECT round(quantile_cont(abs(l_quantity - b.med), 0.5), 4) AS mad
        FROM lineitem CROSS JOIN b)
      SELECT l_orderkey, l_linenumber, l_quantity,
        round((l_quantity - s.mn) / (s.mx - s.mn), 4) AS l_quantity_minmax,
        round((l_quantity - s.s1/s.n)
          / sqrt((s.s2 - s.s1*s.s1/s.n) / (s.n - 1)), 4) AS l_quantity_zscore,
        round((l_quantity - b.med) / m.mad, 4) AS l_quantity_robust
      FROM lineitem CROSS JOIN s CROSS JOIN b CROSS JOIN m
      ORDER BY l_orderkey, l_linenumber"""))

  /** One-pass observed QA metrics: the expectations ride on an existing
    * count action via Dataset.observe — no second scan; the report is the
    * collected metric map. */
  private[graft] val qObserved = Q("dq2_observed_metrics",
    (s, d) => {
      val docs = t(s, d, "documents")
      val checks = Seq[graft.analyze.DataQuality.Check](
        graft.analyze.DataQuality.NotNull("text"),
        graft.analyze.DataQuality.InRange("n_chars", 0, 300),
        graft.analyze.DataQuality.InSet("lang", Seq("en", "de")),
        graft.analyze.DataQuality.Matches("source", "^src1[0-9]$"))
      val (inst, obs) = graft.analyze.DataQuality.observed(docs, checks)
      val nRows = inst.count() // the action the metrics ride on
      val m = obs.get
      import s.implicits._
      checks.map(c => (c.name, m(c.name).asInstanceOf[Long]))
        .toDF("expectation", "violations")
        .withColumn("rows_scanned", lit(nRows))
        .orderBy("expectation")
    },
    Some("""WITH m AS (SELECT count(*)::BIGINT AS n,
        sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS v0,
        sum(CASE WHEN n_chars IS NOT NULL
          AND (n_chars < 0 OR n_chars > 300) THEN 1 ELSE 0 END)::BIGINT AS v1,
        sum(CASE WHEN lang IS NOT NULL
          AND lang NOT IN ('en','de') THEN 1 ELSE 0 END)::BIGINT AS v2,
        sum(CASE WHEN source IS NOT NULL AND NOT regexp_matches(source,
          '^src1[0-9]$') THEN 1 ELSE 0 END)::BIGINT AS v3
        FROM documents)
      SELECT * FROM (
        SELECT 'not_null(text)' AS expectation, v0 AS violations,
          n AS rows_scanned FROM m
        UNION ALL SELECT 'in_range(n_chars,0.0,300.0)', v1, n FROM m
        UNION ALL SELECT 'in_set(lang)', v2, n FROM m
        UNION ALL SELECT 'matches(source)', v3, n FROM m)
      ORDER BY expectation"""))

  /** Fuzzy entity matching: supplier names within edit distance 1 —
    * FastSS deletion-neighborhood blocking + thresholded-levenshtein
    * verify. (Round 10 switched from length banding: supplier names are
    * constant-width, so the length histogram is ONE band and in-band
    * pairs grew quadratically — 17× at the sf1 sweep. FastSS candidates
    * track the true near-pair count; output is bit-identical, oracle
    * unchanged.) */
  private[graft] val qFuzzy = Q("fz1_fuzzy_match",
    (s, d) => {
      val sup = t(s, d, "supplier")
      graft.joins.FuzzyJoin.editDistanceJoinFastSS(sup, "s_suppkey", sup,
          "s_suppkey", "s_name", 1)
        .filter(col("id1") < col("id2"))
        .orderBy("id1", "id2")
    },
    Some("""SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
        levenshtein(a.s_name, b.s_name)::INTEGER AS dist
      FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      WHERE levenshtein(a.s_name, b.s_name) <= 1
      ORDER BY id1, id2"""))

  /** Consecutive-day activity streaks per user (gaps-and-islands via the
    * rownumber-difference device; one window + one aggregate). */
  private[graft] val qStreaks = Q("bs1_activity_streaks",
    (s, d) => graft.analyze.Behavior.streaks(events(s, d), "user_id", "ts")
      .orderBy("user_id", "streak_start"),
    Some("""WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      r AS (SELECT user_id, day,
          row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM days)
      SELECT user_id, min(day)::VARCHAR AS streak_start,
        max(day)::VARCHAR AS streak_end, count(*)::BIGINT AS streak_days
      FROM r GROUP BY user_id, day - rn::INTEGER ORDER BY user_id, streak_start"""))

  /** Hourly OHLC bars per user over the event stream — open/close picked
    * by lexicographic struct min/max (one aggregate, no window sort).
    * Oracle windows order by epoch_us(ts): the engine's timestamps are
    * microsecond-floored from the ns parquet values, so the tie-break
    * must compare at the same precision. */
  private[graft] val qBars = Q("bar1_hourly_bars",
    (s, d) => graft.analyze.Behavior.ohlcBars(events(s, d), "user_id", "ts",
        "event_id", "value")
      .orderBy("user_id", "bar_start"),
    Some("""WITH e AS (SELECT user_id,
        epoch(date_trunc('hour', ts))::BIGINT AS bar_start,
        epoch_us(ts) AS tus, event_id, value FROM events),
      r AS (SELECT *,
          row_number() OVER (PARTITION BY user_id, bar_start
            ORDER BY tus, event_id) AS ra,
          row_number() OVER (PARTITION BY user_id, bar_start
            ORDER BY tus DESC, event_id DESC) AS rd
        FROM e)
      SELECT user_id, bar_start,
        round(min(CASE WHEN ra = 1 THEN value END), 4) AS open,
        round(max(value), 4) AS high, round(min(value), 4) AS low,
        round(min(CASE WHEN rd = 1 THEN value END), 4) AS close,
        count(*)::BIGINT AS n_events
      FROM r GROUP BY 1, 2 ORDER BY user_id, bar_start"""))

  /** Tokenizer encode: corpus-derived top-50 vocab (frequency-ranked,
    * token tiebreak — the freq1 ranking), documents mapped to token-id
    * sequences with OOV → −1; every id sequence hash-compared as a
    * comma-joined string (the driver gate cannot hash raw array cells —
    * the t4b scalar-projection device). */
  private[graft] val qTokEncode = Q("tok1_encode_tokens",
    (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = graft.text.Chunker.topKVocab(docs, "text", 50)
      graft.text.Chunker.encodeTokens(docs, "doc_id", "text", vocab,
          "token", "tid")
        .withColumn("token_ids", concat_ws(",", col("token_ids")))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ts
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      tokc AS (SELECT unnest(ts) AS tk FROM t),
      vocab AS (SELECT tk, tid FROM (
        SELECT tk, (row_number() OVER (ORDER BY count(*) DESC, tk) - 1)::INTEGER AS tid
        FROM tokc GROUP BY tk) WHERE tid < 50),
      pos AS (SELECT doc_id, ts[i] AS tk, i
        FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM t)),
      enc AS (SELECT p.doc_id, p.i, coalesce(v.tid, -1)::INTEGER AS tid
        FROM pos p LEFT JOIN vocab v ON p.tk = v.tk)
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
        string_agg(tid, ',' ORDER BY i) AS token_ids
      FROM enc GROUP BY doc_id ORDER BY doc_id"""))

  /** BPE merge-rule training on the corpus word-frequency table: the
    * merge table is deterministic (integer pair counts, total tiebreak)
    * but the iterate-and-fold loop has no SQL restatement — rows-only,
    * with the classic-corpus closed form pinned in ChunkerSpec. */
  private[graft] val qBpeTrain = Q("bpe1_bpe_merges",
    (s, d) => {
      val merges = graft.text.Chunker.trainBpe(t(s, d, "documents"), "text",
        nMerges = 10)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "left", "right", "weight")
        .orderBy("rank")
    },
    None)

  /** BPE apply at corpus scale: segment every document with the learned
    * rules (vocab-sized fold, corpus-sized join-back); subwords projected
    * to a joined string for the gate. */
  private[graft] val qBpeSegment = Q("bpe2_bpe_segment",
    (s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.text.Chunker.trainBpe(docs, "text", nMerges = 10)
      graft.text.Chunker.applyBpe(docs, "doc_id", "text", merges)
        .select(col("doc_id"), size(col("subwords")).as("n_subwords"),
          concat_ws(" ", col("subwords")).as("subwords"))
        .orderBy("doc_id")
    },
    None)

  /** Degenerate-parameter BPE TRAINING anchor: at nMerges=1 the learner is
    * exactly one weighted adjacent-pair count + one (count desc, pair asc)
    * argmax — no iteration, so the whole round restates in SQL. Pins the
    * pair-count definition (char symbols + endword mark, word-frequency
    * weighting) and the tiebreak that makes training deterministic; the
    * 10-merge `bpe1` stays the iterative scale exercise. */
  private[graft] val qBpeTrainAnchor = Q("bpe1b_bpe_first_merge",
    (s, d) => {
      val merges = graft.text.Chunker.trainBpe(t(s, d, "documents"), "text",
        nMerges = 1)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "left", "right", "weight")
    },
    Some("""WITH w AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      wc AS (SELECT w, count(*) AS n FROM w WHERE length(w) > 0 GROUP BY w),
      idx AS (SELECT w, n, unnest(range(1, length(w)+1)) AS i FROM wc),
      p AS (SELECT substr(w, i::INTEGER, 1) AS a,
          CASE WHEN i = length(w) THEN '</w>' ELSE substr(w, (i+1)::INTEGER, 1) END AS b, n
        FROM idx)
      SELECT 1 AS rank, a AS "left", b AS "right", sum(n)::BIGINT AS weight
      FROM p GROUP BY a, b ORDER BY weight DESC, a, b LIMIT 1"""))

  /** Fixed-rule BPE APPLY anchor: segment the corpus with a LITERAL 3-rule
    * merge table (the corpus's true first three merges, learned once and
    * pinned) so the apply-time fold has a closed form the oracle restates —
    * each merge over space-joined symbols is one boundary-anchored
    * string replace, applied in rule order; `mergePair`'s left-to-right
    * non-overlapping greed is exactly replace()'s scan (DedupSpec-style
    * cross-check in ChunkerSpec). Pins the fold + join-back + in-order
    * reassembly that `bpe2` exercises with learned rules. */
  private[graft] val qBpeSegmentAnchor = Q("bpe2b_bpe_apply_fixed",
    (s, d) => graft.text.Chunker.applyBpe(t(s, d, "documents"), "doc_id", "text",
        Seq(("e", "r", 4568L), ("e", "</w>", 4473L), ("n", "</w>", 2834L)))
      .select(col("doc_id"), size(col("subwords")).cast("bigint").as("n_subwords"),
        concat_ws(" ", col("subwords")).as("subwords"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      seg AS (SELECT doc_id, flatten(list_transform(ws, w ->
          string_split(trim(
            replace(replace(replace(
              ' ' || array_to_string(list_transform(range(1, length(w)+1),
                       i -> substr(w, i::INTEGER, 1)), ' ') || ' </w> ',
              ' e r ', ' er '),
              ' e </w> ', ' e</w> '),
              ' n </w> ', ' n</w> ')
          ), ' '))) AS subs FROM t)
      SELECT doc_id, len(subs)::BIGINT AS n_subwords,
        array_to_string(subs, ' ') AS subwords
      FROM seg ORDER BY doc_id"""))

  /** qc1's pinned "trained model": 64 small integer weights (quantized
    * logit points per hash bucket). Declared before [[qHashedScore]] —
    * object vals initialize in declaration order. */
  private[graft] val Qc1Weights: Seq[Int] = Seq(
    0, -3, 1, 5, -5, -4, 3, -4, 0, 4, -5, 3, -2, -5, -4, 1,
    1, -4, -2, -4, 3, 1, -5, 4, -4, -2, 5, 5, 4, -5, 4, 4,
    1, -5, -2, -5, 3, -3, -1, 1, -3, 3, -4, 4, -1, 3, 5, -3,
    -4, 4, 4, 5, -2, 0, -4, 3, -4, 4, -5, 4, -2, 2, 5, 3)

  /** fastText-style hashed linear quality filter, oracle-checked end to
    * end: the 64 integer weights are a pinned literal (stand-in for a
    * trained model's quantized weights), the md5 bucket hash is portable,
    * and integer scores make the sum order-independent — DuckDB recomputes
    * every bucket and score exactly. */
  private[graft] val qHashedScore = Q("qc1_hashed_linear_score",
    (s, d) => TextAnalysis.hashedLinearScore(t(s, d, "documents"), "doc_id", "text",
        Qc1Weights.map(_.toLong))
      .orderBy("doc_id"),
    Some(s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents WHERE text IS NOT NULL),
      b AS (SELECT doc_id,
          (list_sum(list_transform(range(1, 8), j ->
            ((strpos('0123456789abcdef', substr(md5(tok), j::INTEGER, 1)) - 1)::BIGINT
              << ((4 * (7 - j))::INTEGER)))) % 64)::INTEGER AS bucket
        FROM toks),
      s AS (SELECT doc_id, sum(list_extract(${Qc1Weights.mkString("[", ", ", "]")}, bucket + 1))::BIGINT AS score,
          count(*)::BIGINT AS n_tokens
        FROM b GROUP BY doc_id)
      SELECT doc_id, score, n_tokens, (score >= 0) AS keep FROM s ORDER BY doc_id"""))

  /** PSI drift between all lineitems (reference) and the discounted
    * subpopulation (current) over price deciles — every bin term a ratio
    * of exact integer counts. */
  private[graft] val qPsi = Q("dr1_psi_drift", { (s, d) =>
      val li = t(s, d, "lineitem")
      Quantiles.psiDrift(li, li.filter(col("l_discount") > 0.05),
          "l_extendedprice", 10)
        .orderBy("bin")
    }, {
      val qs = (1 until 10)
        .map(p => s"round(quantile_cont(l_extendedprice, 0.$p), 4)")
        .mkString("[", ", ", "]")
      Some(s"""WITH q AS (SELECT $qs AS bs FROM lineitem),
        rc AS (SELECT len(list_filter(q.bs, x -> l.l_extendedprice > x)) + 1 AS bin,
            count(*) AS n_ref FROM lineitem l CROSS JOIN q GROUP BY 1),
        cc AS (SELECT len(list_filter(q.bs, x -> l.l_extendedprice > x)) + 1 AS bin,
            count(*) AS n_cur FROM lineitem l CROSS JOIN q
          WHERE l.l_discount > 0.05 GROUP BY 1),
        sp AS (SELECT unnest(generate_series(1, 10)) AS bin),
        j AS (SELECT sp.bin, coalesce(rc.n_ref, 0) AS n_ref,
            coalesce(cc.n_cur, 0) AS n_cur
          FROM sp LEFT JOIN rc ON sp.bin = rc.bin LEFT JOIN cc ON sp.bin = cc.bin),
        t AS (SELECT sum(n_ref + 1)::BIGINT AS tr, sum(n_cur + 1)::BIGINT AS tc FROM j)
        SELECT j.bin::INTEGER AS bin, j.n_ref::BIGINT AS n_ref,
          j.n_cur::BIGINT AS n_cur,
          round((((j.n_ref + 1) / t.tr::DOUBLE) - ((j.n_cur + 1) / t.tc::DOUBLE))
            * ln(((j.n_ref + 1) / t.tr::DOUBLE) / ((j.n_cur + 1) / t.tc::DOUBLE)), 6)
            AS psi_term
        FROM j CROSS JOIN t ORDER BY bin""")
    })

  /** Rolling 7-day active users over the event stream (explode-to-window
    * instead of a per-day self-join). */
  private[graft] val qWau = Q("wau1_rolling_actives",
    (s, d) => graft.analyze.Behavior.rollingActives(events(s, d), "user_id", "ts")
      .orderBy("report_day"),
    Some("""WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
      x AS (SELECT d.user_id, d.day + t.i::INTEGER AS rd
        FROM days d, range(0, 7) t(i))
      SELECT rd::VARCHAR AS report_day,
        count(DISTINCT user_id)::BIGINT AS active_users
      FROM x, b WHERE rd >= b.lo AND rd <= b.hi
      GROUP BY rd ORDER BY report_day"""))

  /** Int8-quantized ANN anchored exact: with the shortlist covering the
    * whole corpus the code-space scan degrades to brute force and the
    * exact re-rank makes the output identical to `sim1`'s contract —
    * the quantization path's correctness gate (recall at bounded
    * shortlists is QuantizeSpec's job). */
  private[graft] val qInt8TopK = Q("sim7_int8_topk",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Quantize.int8TopK(emb.filter(col("vec_id") < 5), emb, "vec_id",
          "embedding", k = 3, shortlist = 1 << 20, roundDigits = 6)
        .orderBy("query_id", "neighbor_id")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      scored AS (SELECT query_id, neighbor_id,
        round(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 6) AS cos
        FROM q CROSS JOIN c WHERE query_id != neighbor_id),
      ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER
        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM scored)
      SELECT query_id, neighbor_id, cos FROM ranked WHERE rn <= 3
      ORDER BY query_id, neighbor_id"""))

  /** Global clustering coefficient of the part co-purchase graph —
    * 3·triangles/wedges from the tc1 edge list plus one degree pass. */
  private[graft] val qClustCoeff = Q("tc2_clustering_coeff",
    (s, d) => {
      val e = coPurchasePairs(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")))
      graft.graph.Triangles.globalClusteringCoefficient(e, "u", "v")
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      t AS (SELECT count(*)::BIGINT AS triangles FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      d AS (SELECT x, count(*) AS d FROM
        (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      w AS (SELECT (sum(d * (d - 1)) / 2)::BIGINT AS wedges FROM d)
      SELECT t.triangles, w.wedges,
        round(3.0 * t.triangles / w.wedges, 6) AS global_coeff
      FROM t CROSS JOIN w"""))

  /** Smoothed target encoding of return flag against quantity (m=10) —
    * the encoder table itself, every sum an exact integer. */
  private[graft] val qTargetEnc = Q("fe2_target_encoding",
    (s, d) => Features.targetEncode(t(s, d, "lineitem"), "l_returnflag",
        "l_quantity", m = 10.0)
      .orderBy("category"),
    Some("""WITH t AS (SELECT sum(l_quantity) AS s, count(l_quantity) AS n
        FROM lineitem),
      g AS (SELECT l_returnflag AS category, sum(l_quantity) AS sy,
          count(l_quantity) AS n FROM lineitem GROUP BY 1)
      SELECT g.category, g.n::BIGINT AS n,
        round((g.sy + 10.0 * (t.s / t.n)) / (g.n + 10.0), 6) AS encoded
      FROM g CROSS JOIN t ORDER BY g.category"""))

  /** Intra-corpus boilerplate fraction per document (3-gram shingles
    * shared with at least one other doc). */
  private[graft] val qBoilerplate = Q("t9_boilerplate",
    (s, d) => TextAnalysis.boilerplate(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents),
      s AS (SELECT doc_id, list_distinct(CASE WHEN len(w) < 3
          THEN [array_to_string(w, ' ')]
          ELSE list_transform(range(1, len(w)-1),
            i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS toks FROM t),
      ds AS (SELECT doc_id, unnest(toks) AS sh FROM s),
      f AS (SELECT sh, count(*) AS df FROM ds GROUP BY 1),
      pd AS (SELECT d.doc_id, count(*) AS n_shingles,
          sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
        FROM ds d JOIN f ON d.sh = f.sh GROUP BY 1)
      SELECT doc.doc_id, pd.n_shingles, pd.n_shared,
        round(pd.n_shared / pd.n_shingles::DOUBLE, 4) AS boilerplate_frac
      FROM documents doc LEFT JOIN pd ON doc.doc_id = pd.doc_id
      ORDER BY doc.doc_id"""))

  /** Grouped mode (non-NULL, ties to smallest value): quantity mode per
    * return flag — the grouped form of the a11 imputation statistic. */
  private[graft] val qGroupedMode = Q("a19_grouped_mode",
    (s, d) => graft.analyze.Olap.modePerGroup(t(s, d, "lineitem"),
        "l_returnflag", "l_quantity")
      .orderBy("l_returnflag"),
    Some("""WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
          ORDER BY n DESC, l_quantity) AS rn FROM c)
      SELECT l_returnflag, l_quantity AS mode, n::BIGINT AS n
      FROM r WHERE rn = 1 ORDER BY l_returnflag"""))

  /** Row-level quarantine: orders violating any row-local expectation,
    * annotated with the name-sorted reason list — every routed row and
    * its evidence hash-compared. */
  private[graft] val qQuarantine = Q("dq3_quarantine_rows",
    (s, d) => {
      import graft.analyze.DataQuality._
      val (_, bad) = quarantine(
        t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority")),
        Seq(InRange("o_totalprice", 1000, 300000),
          InSet("o_orderstatus", Seq("O", "F")),
          Matches("o_orderpriority", "^[1-3]-")))
      bad.orderBy("o_orderkey")
    },
    Some("""WITH f AS (SELECT o_orderkey, o_totalprice, o_orderstatus,
        o_orderpriority,
        concat_ws(';',
          CASE WHEN o_totalprice IS NOT NULL
            AND (o_totalprice < 1000 OR o_totalprice > 300000)
            THEN 'in_range(o_totalprice,1000.0,300000.0)' END,
          CASE WHEN o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O','F') THEN 'in_set(o_orderstatus)' END,
          CASE WHEN o_orderpriority IS NOT NULL
            AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
            THEN 'matches(o_orderpriority)' END) AS violated
        FROM orders)
      SELECT * FROM f WHERE violated <> '' ORDER BY o_orderkey"""))

  /** Gap sessions through Spark's native session_window (the declarative
    * twin of st3's stateful sessionize); epoch-µs bounds so the half-open
    * merge semantics compare exactly against the SQL islands form. */
  private[graft] val qSessionWindow = Q("st5_session_window",
    (s, d) => EventStream.sessionWindows(events(s, d), "user_id", "ts",
        "10 minutes")
      .orderBy("user_id", "session_start_us"),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      l AS (SELECT user_id, t,
          lag(t) OVER (PARTITION BY user_id ORDER BY t) AS p FROM e),
      m AS (SELECT user_id, t, CASE WHEN p IS NULL
          OR t - p > 600000000 THEN 1 ELSE 0 END AS brk FROM l),
      g AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id
          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM m)
      SELECT user_id, min(t) AS session_start_us,
        max(t) + 600000000 AS session_end_us, count(*)::BIGINT AS n_events
      FROM g GROUP BY user_id, sid
      ORDER BY user_id, session_start_us"""))

  /** Higher-moment profile of quantity: skewness/kurtosis from exact
    * integer power sums (builtin skewness/kurtosis are merge-order-
    * dependent — deliberately avoided). */
  private[graft] val qMoments = Q("a20_moments",
    (s, d) => graft.analyze.Moments.profile(t(s, d, "lineitem"), "l_quantity"),
    Some("""WITH s AS (SELECT count(l_quantity)::DOUBLE AS n,
        sum(l_quantity) AS s1, sum(l_quantity*l_quantity) AS s2,
        sum(l_quantity*l_quantity*l_quantity) AS s3,
        sum(l_quantity*l_quantity*l_quantity*l_quantity) AS s4 FROM lineitem),
      m AS (SELECT n, s1/n AS m1, s2/n - (s1/n)*(s1/n) AS mp2,
        s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n) AS mp3,
        s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
          - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n) AS mp4 FROM s)
      SELECT n::BIGINT AS n, round(m1, 6) AS mean, round(mp2, 6) AS var_pop,
        round(mp3 / pow(mp2, 1.5), 6) AS skewness,
        round(mp4 / (mp2*mp2) - 3, 6) AS kurtosis_excess FROM m"""))

  /** Referentially-consistent pseudonymization: customer keys and the
    * orders FK hash identically, so the join still works across the
    * de-identified tables — per-pseudonym order counts hash-compared. */
  private[graft] val qPseudonymize = Q("ps1_pseudonymize",
    (s, d) => {
      val cust = TextAnalysis.pseudonymize(
        t(s, d, "customer").select(col("c_custkey")), Seq("c_custkey"), "42")
      val ords = TextAnalysis.pseudonymize(
        t(s, d, "orders").select(col("o_custkey")), Seq("o_custkey"), "42")
      cust.join(ords, cust("c_custkey") === ords("o_custkey"), "left")
        .groupBy(col("c_custkey").as("pseudonym"))
        .agg(count(col("o_custkey")).as("n_orders"))
        .orderBy("pseudonym")
    },
    Some("""WITH c AS (SELECT sha256('42:' || c_custkey::VARCHAR) AS pseudonym,
        c_custkey FROM customer),
      o AS (SELECT sha256('42:' || o_custkey::VARCHAR) AS p2 FROM orders)
      SELECT c.pseudonym, count(o.p2)::BIGINT AS n_orders
      FROM c LEFT JOIN o ON c.pseudonym = o.p2
      GROUP BY 1 ORDER BY pseudonym"""))

  /** kc1's oracle: the peel unrolled to `rounds` single-pass rounds
    * (exactly [[graft.graph.KCore.vertices]]' round — drop vertices of
    * degree < k, repeat). Rounds past the fixpoint are
    * no-ops (the weak set is empty), so any `rounds` ≥ the actual peel
    * depth restates the fixpoint exactly; sf0.01 converges in 3 rounds
    * (sf0.001 empties in 2), 10 leaves headroom. Pure integer degree
    * counts — no rounding device needed.
    *
    * TRIAGE NOTE (ADVICE r13): the unroll depth is calibrated to the
    * gate SFs above. If the oracle ever runs at a larger SF and kc1
    * alone goes red, check the last Spark job description
    * `KCore.vertices round R` FIRST — round R only confirms the fixpoint,
    * so R − 1 > rounds means the oracle restated a pre-fixpoint state (an
    * oracle-depth shortfall, not a Spark bug); bump `rounds` and re-run. */
  private[graft] def kCoreOracle(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: without it DuckDB inlines each CTE at every use
    // site — e_{i-1} appears 3× per round, so the plan blows up 3^rounds
    // ("Too many open files" on the lineitem scan before it even runs)
    val peels = (1 to rounds).map { i =>
      s"""w$i AS MATERIALIZED (SELECT a FROM e${i - 1} GROUP BY a HAVING count(*) < $k),
      e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
        WHERE e.a NOT IN (SELECT a FROM w$i)
          AND e.b NOT IN (SELECT a FROM w$i))"""
    }.mkString(",\n      ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      de AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey < b.l_partkey),
      e0 AS MATERIALIZED (SELECT u AS a, v AS b FROM de UNION ALL SELECT v, u FROM de),
      $peels
      SELECT a AS id, count(*)::BIGINT AS degree
      FROM e$rounds GROUP BY 1 ORDER BY 1"""
  }

  /** k-core of the part co-purchase graph — iterative peel to the unique
    * fixpoint, fully oracle-checked since round 13 (the peel unrolls into
    * CTEs exactly like pr1's power iteration; see [[kCoreOracle]]).
    * k=70 sits just below this uniform graph's sharp degeneracy
    * transition at sf0.01 (degrees 42-206, median 115; k=70 peels 29
    * vertices, k=90 cascades to empty) so the query exercises a real
    * multi-round peel. The exact fixpoint's round count is data-dependent
    * — at 100 TB prefer kc2's bounded truncated peel and only run the
    * fixpoint on its survivor subgraph. */
  /** The shared co-purchase graph build of kc1/kc2: parts co-occurring
    * on an order, each undirected edge once. */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    coPurchasePairs(
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")))

  private[graft] val qKCore = Q("kc1_kcore",
    (s, d) => graft.graph.KCore.vertices(coPurchaseEdges(s, d), "u", "v", k = 70)
      .orderBy("id"),
    Some(kCoreOracle(70, 10)))

  /** The BOUNDED k-core for the 100 TB path (kc2): the peel truncated at
    * exactly 2 rounds — 2 is below this graph's sf0.01 peel depth (3), so
    * the query exercises genuine truncation semantics (the output is a
    * strict superset of kc1's fixpoint here), and the cost is two degree
    * passes whatever the scale, where kc1's round count (and per-round
    * surviving-edge volume) grows with the data. Large-graph users start
    * here; see [[graft.graph.KCore.truncatedPeel]]. */
  private[graft] val qKCoreBounded = Q("kc2_kcore_rounds",
    (s, d) => graft.graph.KCore.truncatedPeel(coPurchaseEdges(s, d), "u", "v",
        k = 70, rounds = 2)
      .orderBy("id"),
    Some(kCoreOracle(70, 2)))

  // Portable mergeable sketches (round 12) — incremental distinct stats:
  // build tiny register/bottom-k sketches once per shard, merge later
  // without rescanning the data. Every estimator is a pure function of
  // the data (string-only md5 device, exact-integer harmonic sums), so
  // all four queries are fully oracle-checked despite being "approximate".
  // ====================================================================

  /** Shared tokenizer: the freq1 convention (testdata text is single-
    * space separated, so `\s+` and DuckDB's `string_split(_, ' ')`
    * agree). */
  private def langTerms(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(col("text").isNotNull)
      .select(col("lang"), col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))

  private val rhoSql =
    """CASE WHEN st = '' THEN 45
          ELSE (11 - length(st)) * 4
            + CASE WHEN substr(st, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 0
                   WHEN substr(st, 1, 1) IN ('4','5','6','7') THEN 1
                   WHEN substr(st, 1, 1) IN ('2','3') THEN 2
                   ELSE 3 END + 1 END"""

  /** Per-language vocabulary size by portable HLL (m = 256 registers vs
    * the exact distinct) — the register build shuffles at most 256 rows
    * per group after map-side max-combine, where the exact count
    * shuffles every distinct term. Restated register-for-register in
    * DuckDB (see [[graft.analyze.Sketches]] for why the arithmetic is
    * drift-free). */
  private[graft] val qHllVocab = Q("hll1_vocab_est",
    (s, d) => {
      val tok = langTerms(s, d)
      val est = Sketches.hllEstimate(
        Sketches.hllRegisters(tok, Seq("lang"), col("term")), Seq("lang"))
      val exact = tok.groupBy("lang").agg(countDistinct(col("term")).as("n_exact"))
      exact.join(est, Seq("lang")).orderBy("lang")
    },
    Some(s"""WITH tok AS (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS term
          FROM documents WHERE text IS NOT NULL),
        h AS (SELECT lang, substr(md5('hll:' || term), 1, 13) AS h FROM tok),
        parts AS (SELECT lang, substr(h, 1, 2) AS bucket,
            ltrim(substr(h, 3, 11), '0') AS st FROM h),
        rr AS (SELECT lang, bucket, max($rhoSql) AS r FROM parts GROUP BY 1, 2),
        agg AS (SELECT lang, sum((power(2, 45 - r))::BIGINT) AS sp,
            count(*) AS nb FROM rr GROUP BY 1),
        est AS (SELECT lang, 256 - nb AS zeros,
            0.7213 / (1 + 1.079 / 256) * 256 * 256 * power(2, 45)
              / (sp + (256 - nb) * (power(2, 45))::BIGINT) AS raw
          FROM agg),
        ex AS (SELECT lang, count(DISTINCT term) AS n_exact FROM tok GROUP BY 1)
      SELECT ex.lang, n_exact, zeros, round(raw, 4) AS est_raw,
          round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
              THEN 256 * ln(256 / zeros) ELSE raw END, 4) AS estimate
      FROM ex JOIN est ON ex.lang = est.lang ORDER BY ex.lang"""))

  /** The incremental-sketch workflow end-to-end: per-shard registers are
    * MATERIALIZED (parquet, the per-day/per-source layout a 100 TB
    * pipeline persists), re-read, merged by bucket-max, and the merged
    * estimate is checked equal to the direct single-pass estimate —
    * merge is max per bucket, so no merge tree can lose information.
    * The oracle restates the register math once (the two paths are
    * mathematically identical, which is exactly the claim). */
  private[graft] val qHllMerge = Q("hll2_sketch_merge",
    (s, d) => {
      val tok = langTerms(s, d)
      val sharded = tok.withColumn("shard",
        pmod(conv(substring(md5(concat(lit("shard:"),
          col("doc_id").cast("string"))), 1, 4), 16, 10).cast("int"), lit(8)))
      val dir = scratchDir("hll2_registers")
      Sketches.hllRegisters(sharded, Seq("shard"), col("term"))
        .write.mode("overwrite").parquet(dir)
      val merged = Sketches.hllEstimate(
          Sketches.hllMerge(nanosOk(s).read.parquet(dir), Seq.empty), Seq.empty)
      val direct = Sketches.hllEstimate(
          Sketches.hllRegisters(tok, Seq.empty, col("term")), Seq.empty)
        .select(col("zeros").as("zeros_direct"),
          col("est_raw").as("est_raw_direct"),
          col("estimate").as("estimate_direct"))
      merged.crossJoin(direct)
        .withColumn("merge_lossless",
          (col("zeros") === col("zeros_direct") &&
            col("est_raw") === col("est_raw_direct")).cast("int"))
    },
    Some(s"""WITH tok AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS term
          FROM documents WHERE text IS NOT NULL),
        h AS (SELECT substr(md5('hll:' || term), 1, 13) AS h FROM tok),
        parts AS (SELECT substr(h, 1, 2) AS bucket,
            ltrim(substr(h, 3, 11), '0') AS st FROM h),
        rr AS (SELECT bucket, max($rhoSql) AS r FROM parts GROUP BY 1),
        agg AS (SELECT sum((power(2, 45 - r))::BIGINT) AS sp, count(*) AS nb FROM rr),
        est AS (SELECT 256 - nb AS zeros,
            0.7213 / (1 + 1.079 / 256) * 256 * 256 * power(2, 45)
              / (sp + (256 - nb) * (power(2, 45))::BIGINT) AS raw
          FROM agg)
      SELECT zeros, round(raw, 4) AS est_raw,
          round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
              THEN 256 * ln(256 / zeros) ELSE raw END, 4) AS estimate,
          zeros AS zeros_direct, round(raw, 4) AS est_raw_direct,
          round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
              THEN 256 * ln(256 / zeros) ELSE raw END, 4) AS estimate_direct,
          1 AS merge_lossless
      FROM est"""))

  /** Corpus-wide distinct tokens by KMV bottom-k (k = 256): hex string
    * order IS numeric order, so the sketch is a distributed
    * TakeOrderedAndProject over distinct hashes and only the single
    * k-th hash is ever converted to a number. */
  private[graft] val qKmvDistinct = Q("kmv1_distinct_est",
    (s, d) => {
      val tok = langTerms(s, d).select("term")
      val est = Sketches.kmvEstimate(
        Sketches.kmvSketch(tok, col("term"), 256), 256)
      val exact = tok.agg(countDistinct(col("term")).as("n_exact"))
      est.withColumn("saturated", col("saturated").cast("int"))
        .crossJoin(exact)
    },
    Some("""WITH tok AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS term
          FROM documents WHERE text IS NOT NULL),
        hs AS (SELECT DISTINCT substr(md5('kmv:' || term), 1, 13) AS h FROM tok),
        sk AS (SELECT h FROM hs ORDER BY h LIMIT 256),
        top AS (SELECT count(*) AS n_sketch, max(h) AS hk FROM sk),
        iv AS (SELECT n_sketch,
            sum((strpos('0123456789abcdef', substr(hk, j.j, 1)) - 1)
                * power(16, 13 - j.j)) AS v
          FROM top CROSS JOIN (SELECT unnest(generate_series(1, 13)) AS j) j
          GROUP BY n_sketch),
        ex AS (SELECT count(DISTINCT term) AS n_exact FROM tok)
      SELECT n_sketch, (n_sketch = 256)::INT AS saturated,
          round(CASE WHEN n_sketch = 256 THEN 255 * power(2, 52) / v
              ELSE n_sketch::DOUBLE END, 4) AS estimate,
          n_exact
      FROM iv CROSS JOIN ex"""))

  /** Cross-corpus overlap WITHOUT comparing the corpora: Jaccard and
    * intersection size of the en-vs-de vocabularies estimated from one
    * KMV sketch of the union (members carry exact in-both flags) — the
    * sketch-sized form of the contamination-overlap question. Exact
    * values alongside. */
  private[graft] val qKmvJaccard = Q("kmv2_jaccard_est",
    (s, d) => {
      val flags = langTerms(s, d).filter(col("lang").isin("en", "de"))
        .groupBy(col("term")).agg(
          max(when(col("lang") === "en", 1).otherwise(0)).as("in_a"),
          max(when(col("lang") === "de", 1).otherwise(0)).as("in_b"))
      val sk = flags
        .withColumn("h", Sketches.hexHash(col("term"), "kmv"))
        .orderBy("h").limit(256)
      val stats = sk.agg(count(lit(1)).as("n_sketch"),
        sum(col("in_a") * col("in_b")).as("n_both"),
        max(col("h")).as("__hk"))
      val exact = flags.agg(
        sum(col("in_a") * col("in_b")).as("inter_exact"),
        count(lit(1)).as("union_exact"))
      stats.crossJoin(exact).select(
        col("n_sketch"), col("n_both"),
        round(col("n_both").cast("double") / col("n_sketch").cast("double"), 4)
          .as("j_est"),
        round(col("inter_exact").cast("double") /
          col("union_exact").cast("double"), 4).as("j_exact"),
        // Saturation guard mirroring Sketches.kmvEstimate: an unsaturated
        // sketch (fewer than k distinct terms survive) IS the exact term
        // set, so the union estimate is n_sketch and the intersection
        // estimate collapses to n_both — the k-th-hash formula would be
        // wildly wrong there.
        round(when(col("n_sketch") === 256,
          col("n_both").cast("double") / col("n_sketch").cast("double") *
            (lit(255.0 * math.pow(2.0, 52)) /
              conv(col("__hk"), 16, 10).cast("double")))
          .otherwise(col("n_both").cast("double")), 4).as("inter_est"),
        col("inter_exact"), col("union_exact"))
    },
    Some("""WITH tok AS (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS term
          FROM documents WHERE text IS NOT NULL AND lang IN ('en', 'de')),
        flags AS (SELECT term,
            max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS in_a,
            max(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS in_b
          FROM tok GROUP BY 1),
        hs AS (SELECT term, in_a, in_b,
            substr(md5('kmv:' || term), 1, 13) AS h FROM flags),
        sk AS (SELECT * FROM hs ORDER BY h LIMIT 256),
        st AS (SELECT count(*) AS n_sketch, sum(in_a * in_b)::BIGINT AS n_both,
            max(h) AS hk FROM sk),
        iv AS (SELECT n_sketch, n_both,
            sum((strpos('0123456789abcdef', substr(hk, j.j, 1)) - 1)
                * power(16, 13 - j.j)) AS v
          FROM st CROSS JOIN (SELECT unnest(generate_series(1, 13)) AS j) j
          GROUP BY n_sketch, n_both),
        ex AS (SELECT sum(in_a * in_b)::BIGINT AS inter_exact,
            count(*) AS union_exact FROM flags)
      SELECT n_sketch, n_both,
          round(n_both::DOUBLE / n_sketch::DOUBLE, 4) AS j_est,
          round(inter_exact::DOUBLE / union_exact::DOUBLE, 4) AS j_exact,
          round(CASE WHEN n_sketch = 256 THEN n_both::DOUBLE / n_sketch::DOUBLE
              * (255 * power(2, 52) / v) ELSE n_both::DOUBLE END, 4)
            AS inter_est,
          inter_exact, union_exact
      FROM iv CROSS JOIN ex"""))

  /** Quantiles from a bottom-k uniform row sample (k = 256 docs keyed by
    * md5 of doc_id) next to the exact quantiles — the mergeable quantile
    * sketch: per-shard bottom-k samples materialize and re-merge losslessly
    * (SketchesSpec proves union-of-shard-samples ≡ direct sample), so a
    * 100 TB corpus answers quantile questions from k rows per shard
    * without a global sort. Both engines interpolate identically
    * (Spark `percentile` ≡ DuckDB `quantile_cont`, the a13 device). */
  private[graft] val qQuantileSketch = Q("qs1_quantile_sketch",
    (s, d) => {
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      val sample = Sketches.bottomK(docs, col("doc_id"), 256, "qsk")
      val est = sample
        .agg(percentile(col("n_chars"), typedlit(ps)).as("qs"))
        .select(posexplode(col("qs")).as(Seq("i", "__q")))
        .select(element_at(typedlit(ps), col("i").cast("int") + 1).as("p"),
          round(col("__q"), 4).as("q_est"))
      val exact = Quantiles.exact(docs, Seq("n_chars"), ps)
        .select(col("p"), round(col("q"), 4).as("q_exact"))
      est.join(exact, Seq("p")).orderBy("p")
    },
    Some("""WITH s AS (SELECT n_chars,
            substr(md5('qsk:' || doc_id::VARCHAR), 1, 13) AS h FROM documents),
        sk AS (SELECT n_chars FROM s ORDER BY h LIMIT 256),
        est AS (SELECT quantile_cont(n_chars, [0.25,0.5,0.75,0.95]) AS qs FROM sk),
        ex AS (SELECT quantile_cont(n_chars, [0.25,0.5,0.75,0.95]) AS qe
          FROM documents)
      SELECT unnest([0.25,0.5,0.75,0.95])::DOUBLE AS p,
          round(unnest(qs), 4) AS q_est, round(unnest(qe), 4) AS q_exact
      FROM est CROSS JOIN ex ORDER BY p"""))

  /** Grouped quantile estimates from per-group uniform samples: w10's
    * md5-rank sampler takes 64 docs per language, grouped percentile over
    * the sample sits beside the exact grouped quantiles (a18's device) —
    * the per-group form of qs1's sketch economy: at scale the quantile
    * battery runs over |groups|·64 rows, not the corpus. */
  private[graft] val qGroupedQuantileSketch = Q("qs2_grouped_quantile_sketch",
    (s, d) => {
      val ps = Seq(0.25, 0.5, 0.75)
      val docs = t(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val sample = Sampling.topKPerGroup(docs, "lang", "doc_id", 64,
        seed = "qs2")
      val est = sample.groupBy("lang")
        .agg(percentile(col("n_chars"), typedlit(ps)).as("qs"))
        .select(col("lang"), posexplode(col("qs")).as(Seq("i", "__q")))
        .select(col("lang"),
          element_at(typedlit(ps), col("i").cast("int") + 1).as("p"),
          round(col("__q"), 4).as("q_est"))
      val exact = Quantiles.groupedExact(docs, "lang", "n_chars", ps)
        .select(col("lang"), col("p"), round(col("q"), 4).as("q_exact"))
      est.join(exact, Seq("lang", "p")).orderBy("lang", "p")
    },
    Some("""WITH r AS (SELECT lang, n_chars, row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(doc_id::VARCHAR || ':qs2'), doc_id) AS rn
          FROM documents),
        sk AS (SELECT lang, n_chars FROM r WHERE rn <= 64),
        est AS (SELECT lang, quantile_cont(n_chars, [0.25,0.5,0.75]) AS qs
          FROM sk GROUP BY lang),
        el AS (SELECT lang, unnest([0.25,0.5,0.75])::DOUBLE AS p,
            round(unnest(qs), 4) AS q_est FROM est),
        ex AS (SELECT lang, unnest([0.25,0.5,0.75])::DOUBLE AS p,
            round(unnest(quantile_cont(n_chars, [0.25,0.5,0.75])), 4)
              AS q_exact
          FROM documents GROUP BY lang)
      SELECT el.lang, el.p, q_est, q_exact
      FROM el JOIN ex ON el.lang = ex.lang AND el.p = ex.p
      ORDER BY el.lang, el.p"""))

  /** Streaming distinct users per hour, the register way: the SAME
    * register build that lifts to Structured Streaming (one windowed max
    * aggregate — EventStreamSpec drives it as a watermarked stream) next
    * to the exact per-hour distinct. The streaming sink persists 256
    * max-registers per window, not a distinct-set; the estimate is
    * computed at query time over the tiny register table. */
  private[graft] val qStreamDistinct = Q("st6_stream_distinct",
    (s, d) => {
      val ev = events(s, d).select(col("ts"), col("user_id"))
      val regs = EventStream
        .windowedDistinctRegisters(ev, "ts", "user_id", "1 hour")
        .select(unix_timestamp(col("w_start")).as("wstart"),
          col("bucket"), col("r"))
      val est = Sketches.hllEstimate(regs, Seq("wstart"))
      val exact = ev
        .select(unix_timestamp(date_trunc("hour", col("ts"))).as("wstart"),
          col("user_id"))
        .groupBy("wstart").agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, Seq("wstart")).orderBy("wstart")
    },
    Some(s"""WITH e AS (SELECT epoch(date_trunc('hour', ts))::BIGINT AS wstart,
            user_id FROM events),
        h AS (SELECT wstart, substr(md5('hll:' || user_id::VARCHAR), 1, 13) AS h
          FROM e),
        parts AS (SELECT wstart, substr(h, 1, 2) AS bucket,
            ltrim(substr(h, 3, 11), '0') AS st FROM h),
        rr AS (SELECT wstart, bucket, max($rhoSql) AS r FROM parts GROUP BY 1, 2),
        agg AS (SELECT wstart, sum((power(2, 45 - r))::BIGINT) AS sp,
            count(*) AS nb FROM rr GROUP BY 1),
        est AS (SELECT wstart, 256 - nb AS zeros,
            0.7213 / (1 + 1.079 / 256) * 256 * 256 * power(2, 45)
              / (sp + (256 - nb) * (power(2, 45))::BIGINT) AS raw
          FROM agg),
        ex AS (SELECT wstart, count(DISTINCT user_id) AS n_exact FROM e GROUP BY 1)
      SELECT ex.wstart, n_exact, zeros, round(raw, 4) AS est_raw,
          round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
              THEN 256 * ln(256 / zeros) ELSE raw END, 4) AS estimate
      FROM ex JOIN est ON ex.wstart = est.wstart ORDER BY ex.wstart"""))

  /** One persisted DAILY register table answers every coarser grain by
    * register merge alone — day estimates read it as-is, week merges
    * day-buckets by max, the corpus total merges everything; the data is
    * scanned exactly once (the materialize). This is the incremental
    * rollup a 100 TB pipeline runs nightly: append today's registers,
    * never rescan history. The oracle restates the register math at each
    * grain from raw data — equal results ARE the lossless-merge claim. */
  private[graft] val qHllRollup = Q("hll3_rollup_distinct",
    (s, d) => {
      val ev = events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val dir = scratchDir("hll3_registers")
      Sketches.hllRegisters(ev, Seq("day"), col("user_id"))
        .write.mode("overwrite").parquet(dir)
      val regs = nanosOk(s).read.parquet(dir)
      val byDay = Sketches.hllEstimate(regs, Seq("day"))
        .select(lit("day").as("grain"), col("day").cast("string").as("key"),
          col("zeros"), col("est_raw"), col("estimate"))
      val byWeek = Sketches.hllEstimate(
          Sketches.hllMerge(regs.withColumn("week",
            date_trunc("week", col("day")).cast("date")), Seq("week")),
          Seq("week"))
        .select(lit("week").as("grain"), col("week").cast("string").as("key"),
          col("zeros"), col("est_raw"), col("estimate"))
      val total = Sketches.hllEstimate(Sketches.hllMerge(regs, Seq.empty),
          Seq.empty)
        .select(lit("all").as("grain"), lit("all").as("key"),
          col("zeros"), col("est_raw"), col("estimate"))
      byDay.unionByName(byWeek).unionByName(total).orderBy("grain", "key")
    },
    Some(s"""WITH e AS (SELECT ts::DATE AS day, user_id FROM events),
        h AS (SELECT day, date_trunc('week', day)::DATE AS week,
            substr(md5('hll:' || user_id::VARCHAR), 1, 13) AS h FROM e),
        parts AS (SELECT day, week, substr(h, 1, 2) AS bucket,
            ltrim(substr(h, 3, 11), '0') AS st FROM h),
        rho AS (SELECT day, week, bucket, $rhoSql AS rho0 FROM parts),
        gday AS (SELECT 'day' AS grain, day::VARCHAR AS key, bucket,
            max(rho0) AS r FROM rho GROUP BY 1, 2, 3),
        gweek AS (SELECT 'week' AS grain, week::VARCHAR AS key, bucket,
            max(rho0) AS r FROM rho GROUP BY 1, 2, 3),
        gall AS (SELECT 'all' AS grain, 'all' AS key, bucket,
            max(rho0) AS r FROM rho GROUP BY 1, 2, 3),
        rr AS (SELECT * FROM gday UNION ALL SELECT * FROM gweek
          UNION ALL SELECT * FROM gall),
        agg AS (SELECT grain, key, sum((power(2, 45 - r))::BIGINT) AS sp,
            count(*) AS nb FROM rr GROUP BY 1, 2),
        est AS (SELECT grain, key, 256 - nb AS zeros,
            0.7213 / (1 + 1.079 / 256) * 256 * 256 * power(2, 45)
              / (sp + (256 - nb) * (power(2, 45))::BIGINT) AS raw
          FROM agg)
      SELECT grain, key, zeros, round(raw, 4) AS est_raw,
          round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
              THEN 256 * ln(256 / zeros) ELSE raw END, 4) AS estimate
      FROM est ORDER BY grain, key"""))

  /** Self-join output-size estimation by fixed-rate key sampling (the
    * Gibbons distinct-sampling device): keys whose md5 starts with the
    * nibble '0' (rate exactly 1/16 under the hash) are counted, the
    * sampled sum of c(k)² scales by 16, and the exact Σc(k)² sits beside
    * it. At 100 TB the sample predicate is a map-side filter BEFORE any
    * shuffle — the planner answer ("how big would the co-purchase
    * self-join be?") costs a scan plus a 1/16-size aggregate, not the
    * join itself. */
  private[graft] val qJoinSizeEst = Q("jc1_joinsize_est",
    (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_partkey"))
      val sampled = li
        .filter(substring(Sketches.hexHash(col("l_partkey"), "jc"), 1, 1)
          === "0")
        .groupBy("l_partkey").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_sample_keys"),
          sum(col("c") * col("c")).as("j_sample"))
      val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("j_exact"))
      sampled.crossJoin(exact)
        .withColumn("j_est", col("j_sample") * lit(16L))
        .withColumn("rel_err", round(
          (col("j_est") - col("j_exact")).cast("double") /
            col("j_exact").cast("double"), 4))
    },
    Some("""WITH s AS (SELECT l_partkey,
            substr(md5('jc:' || l_partkey::VARCHAR), 1, 1) AS nib
          FROM lineitem),
        samp AS (SELECT l_partkey, count(*) AS c FROM s
          WHERE nib = '0' GROUP BY 1),
        st AS (SELECT count(*) AS n_sample_keys,
            sum(c * c)::BIGINT AS j_sample FROM samp),
        ex AS (SELECT sum(c * c)::BIGINT AS j_exact FROM
          (SELECT count(*) AS c FROM s GROUP BY l_partkey)),
      j AS (SELECT n_sample_keys, j_sample, j_exact,
          j_sample * 16 AS j_est FROM st CROSS JOIN ex)
      SELECT n_sample_keys, j_sample, j_exact, j_est,
        round((j_est - j_exact)::DOUBLE / j_exact::DOUBLE, 4) AS rel_err
      FROM j"""))

  /** Association rules over the co-purchase baskets (order = basket,
    * part = item): frequent pairs at minCount = 3 with support /
    * confidence / lift. The a-priori prune in [[Associations]] is the
    * scale content — items are counted and the basket table reduced to
    * frequent items BEFORE the pair self-join. */
  private[graft] val qAssocRules = Q("mb1_association_rules",
    (s, d) => Associations.frequentPairs(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minCount = 3)
      .orderBy("item_a", "item_b"),
    Some("""WITH li AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
          FROM lineitem),
        cnt AS (SELECT i, count(*) AS n FROM li GROUP BY 1),
        f AS (SELECT li.b, li.i, cnt.n FROM li JOIN cnt ON li.i = cnt.i
          WHERE cnt.n >= 3),
        p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS pair_n,
            min(a.n) AS n_a, min(b.n) AS n_b
          FROM f a JOIN f b ON a.b = b.b AND a.i < b.i
          GROUP BY 1, 2 HAVING count(*) >= 3),
        nb AS (SELECT count(DISTINCT b) AS n_baskets FROM li)
      SELECT item_a, item_b, pair_n, n_a, n_b, n_baskets,
        round(pair_n::DOUBLE / n_baskets::DOUBLE, 4) AS support,
        round(pair_n::DOUBLE / n_a::DOUBLE, 4) AS conf_ab,
        round(pair_n::DOUBLE / n_b::DOUBLE, 4) AS conf_ba,
        round((pair_n * n_baskets)::DOUBLE / (n_a * n_b)::DOUBLE, 4) AS lift
      FROM p CROSS JOIN nb ORDER BY item_a, item_b"""))

  /** BFS shortest-path levels (0..3) from part 1 over the co-purchase
    * graph — the frontier loop restated as DuckDB's bounded recursive
    * closure, so the ITERATIVE operator gets a real oracle (min over all
    * ≤3-hop path lengths ≡ BFS level). */
  private[graft] val qBfsLevels = Q("g1_bfs_levels",
    (s, d) => {
      val e = coPurchasePairs(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")))
      graft.graph.Bfs.levels(e, "u", "v", source = 1L, maxDepth = 3)
        .orderBy("id")
    },
    Some("""WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey
          FROM lineitem),
        e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        d AS (
          SELECT 1::BIGINT AS id, 0 AS dist
          UNION
          SELECT e.v, d.dist + 1 FROM d JOIN e ON e.u = d.id
          WHERE d.dist < 3)
      SELECT id, min(dist) AS dist FROM d GROUP BY 1 ORDER BY id"""))

  // Inferential statistics (round 13) — the audit tests run before
  // trusting a data change. Each reduces to one aggregation pass of
  // exact power sums / contingency counts; the closing arithmetic
  // restates in SQL term for term.
  // ====================================================================

  /** Welch's t-test: did returned line items ship different quantities
    * than never-returned ones? One grouped pass (n, Σx, Σx²) per side;
    * sample variance, t, and Welch–Satterthwaite df from the sums. */
  private[graft] val qWelch = Q("ab1_welch_ttest",
    (s, d) => Stats.welchTTest(t(s, d, "lineitem"), "l_returnflag",
      "l_quantity", "R", "N"),
    Some("""WITH g AS (SELECT l_returnflag AS gg, count(l_quantity) AS n,
          sum(l_quantity::DOUBLE) AS s1,
          sum(l_quantity::DOUBLE * l_quantity::DOUBLE) AS s2
        FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
      j AS (SELECT a.n AS n1, b.n AS n2, a.s1 AS s11, b.s1 AS s12,
          a.s2 AS s21, b.s2 AS s22
        FROM (SELECT * FROM g WHERE gg = 'R') a,
          (SELECT * FROM g WHERE gg = 'N') b),
      m AS (SELECT n1, n2, s11/n1::DOUBLE AS m1, s12/n2::DOUBLE AS m2,
        (s21 - s11*s11/n1::DOUBLE)/(n1::DOUBLE - 1.0) AS v1,
        (s22 - s12*s12/n2::DOUBLE)/(n2::DOUBLE - 1.0) AS v2 FROM j),
      se AS (SELECT *, v1/n1::DOUBLE AS se1, v2/n2::DOUBLE AS se2 FROM m)
      SELECT n1, n2, round(m1, 6) AS mean1, round(m2, 6) AS mean2,
        round((m1 - m2)/sqrt(se1 + se2), 6) AS t_stat,
        round((se1 + se2)*(se1 + se2)/(se1*se1/(n1::DOUBLE - 1.0)
          + se2*se2/(n2::DOUBLE - 1.0)), 6) AS df
      FROM se"""))

  /** Chi-square independence of return flag × line status — the
    * categorical-drift audit. One cell count (cardinality-bounded
    * shuffle); marginals re-aggregated from the cells. TPC-H couples
    * the two columns hard, so the statistic is decisively large. */
  private[graft] val qChi2 = Q("chi1_chi2_independence",
    (s, d) => Stats.chiSquareIndependence(t(s, d, "lineitem"),
      "l_returnflag", "l_linestatus"),
    Some("""WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b,
          count(*) AS o FROM lineitem GROUP BY 1, 2),
      ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
      cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
      tt AS (SELECT sum(o) AS t, count(DISTINCT a) AS ka,
        count(DISTINCT b) AS kb FROM cells),
      grid AS (SELECT ra.a, ra.ra, cb.b, cb.cb,
          coalesce(c.o, 0) AS o
        FROM ra CROSS JOIN cb LEFT JOIN cells c ON ra.a = c.a AND cb.b = c.b),
      x AS (SELECT (o::DOUBLE - ra::DOUBLE*cb::DOUBLE/t::DOUBLE)
          * (o::DOUBLE - ra::DOUBLE*cb::DOUBLE/t::DOUBLE)
          / (ra::DOUBLE*cb::DOUBLE/t::DOUBLE) AS cell, ka, kb
        FROM grid, tt)
      SELECT count(*)::BIGINT AS n_cells, ((ka - 1)*(kb - 1))::BIGINT AS dof,
        round(sum(cell), 6) AS chi2
      FROM x GROUP BY ka, kb"""))

  /** pca1's oracle: the covariance power sums in one aggregate, the d×d
    * covariance entries, then `iters` power-iteration steps unrolled as
    * scalar CTE arithmetic — identical IEEE ops in identical order to
    * [[graft.analyze.Stats.topComponent]]'s driver loop, so the values
    * agree bit-for-bit before the round-6 contract. */
  private[graft] def pcaOracle(iters: Int): String = {
    val d = 4
    def cn(i: Int, j: Int) = if (i <= j) s"c$i$j" else s"c$j$i"
    val sumsSql = (0 until d).map(i => s"sum(x$i) AS s$i").mkString(", ") +
      ", " + (for (i <- 0 until d; j <- i until d)
        yield s"sum(x$i*x$j) AS p$i$j").mkString(", ")
    val covSql = (for (i <- 0 until d; j <- i until d)
      yield s"p$i$j/n - (s$i/n)*(s$j/n) AS c$i$j").mkString(",\n        ")
    val iterChain = (1 to iters).map { k =>
      val ws = (0 until d).map(i =>
        (0 until d).map(j => s"${cn(i, j)}*v.v$j").mkString(" + ") +
          s" AS w$i").mkString(",\n          ")
      val norm = (0 until d).map(i => s"w$i*w$i").mkString(" + ")
      val vs = (0 until d).map(i =>
        s"w$i/sqrt($norm) AS v$i").mkString(",\n          ")
      s"""w$k AS (SELECT c.*, $ws FROM c, v${k - 1} v),
      v$k AS (SELECT $vs FROM w$k)"""
    }.mkString(",\n      ")
    val avs = (0 until d).map(i =>
      (0 until d).map(j => s"${cn(i, j)}*v.v$j").mkString(" + ") +
        s" AS a$i").mkString(",\n          ")
    val lam = (0 until d).map(i => s"v.v$i*a.a$i").mkString(" + ")
    s"""WITH dd AS (SELECT l_quantity::DOUBLE/50 AS x0,
        l_discount::DOUBLE AS x1, l_tax::DOUBLE AS x2,
        l_linenumber::DOUBLE/7 AS x3 FROM lineitem),
      s AS (SELECT count(*)::DOUBLE AS n, $sumsSql FROM dd),
      c AS (SELECT n, $covSql FROM s),
      v0 AS (SELECT ${(0 until d).map(i => s"0.5 AS v$i").mkString(", ")}),
      $iterChain,
      av AS (SELECT $avs FROM c, v$iters v),
      fin AS (SELECT $lam AS lambda,
        ${(0 until d).map(i => s"v.v$i").mkString(", ")},
        CASE WHEN v.v0 < 0 THEN -1.0 ELSE 1.0 END AS sg
        FROM v$iters v, av a)
      SELECT round(lambda, 6) AS eigenvalue,
        ${(0 until d).map(i => s"round(v$i*sg, 6) AS pc${i + 1}").mkString(", ")}
      FROM fin"""
  }

  /** Distributed PCA, top component: the 4×4 covariance of the
    * normalized lineitem features from ONE power-sum aggregate (the data
    * never moves — d(d+3)/2 running sums with map-side combine), then 3
    * fixed power-iteration steps on the driver; Rayleigh eigenvalue,
    * sign fixed by the first coordinate. At 100 TB the cost is one scan;
    * the iteration is d² driver flops per step. */
  private[graft] val qPca = Q("pca1_top_component",
    (s, d) => {
      val li = t(s, d, "lineitem").select(
        (col("l_quantity") / 50).as("x0"), col("l_discount").as("x1"),
        col("l_tax").as("x2"),
        (col("l_linenumber").cast("double") / 7).as("x3"))
      val (_, _, cov) = Stats.covarianceMatrix(li, Seq("x0", "x1", "x2", "x3"))
      val (lambda, v) = Stats.topComponent(cov, iters = 3)
      import s.implicits._
      Seq((lambda, v(0), v(1), v(2), v(3)))
        .toDF("__l", "__v1", "__v2", "__v3", "__v4")
        .select(round(col("__l"), 6).as("eigenvalue"),
          round(col("__v1"), 6).as("pc1"), round(col("__v2"), 6).as("pc2"),
          round(col("__v3"), 6).as("pc3"), round(col("__v4"), 6).as("pc4"))
    },
    Some(pcaOracle(iters = 3)))

  /** The LLM corpus pipeline END-TO-END as one dataflow (the bp11 device
    * applied to data curation): quality gate (T1's token count + punct
    * ratio) → exact dedup keep (D1's min-id representative) → greedy
    * sequence packing (PACK1's per-language prefix sum), reported as
    * per-language sequence/doc/token counts. Each stage is a registered
    * operator; composing them keeps the whole trajectory under the
    * oracle — the "can a user run their actual pipeline" proof, not just
    * its pieces. One scan + one dedup shuffle + one window. */
  private[graft] val qCorpusPipeline = Q("pipe1_corpus_pipeline",
    (s, d) => {
      import graft.text.TextAnalysis
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val q = docs.filter(TextAnalysis.tokenCount(col("text")) >= 5 &&
        TextAnalysis.punctRatio(col("text")) <= 0.2)
      val keep = graft.dedup.Dedup.exactGroups(q, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val surv = q.join(keep, "doc_id")
      val packed = graft.text.Chunker.packGreedy(surv, "doc_id", "text",
        64, "lang")
      packed.groupBy(col("lang"))
        .agg(countDistinct(col("seq_id")).as("n_seqs"),
          count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("lang")
    },
    Some("""WITH q AS (SELECT doc_id, lang, text,
        CASE WHEN length(trim(text)) = 0 THEN 0
          ELSE len(string_split(trim(text), ' ')) END AS n_tokens
      FROM documents WHERE text IS NOT NULL
        AND (CASE WHEN length(trim(text)) = 0 THEN 0
          ELSE len(string_split(trim(text), ' ')) END) >= 5
        AND (CASE WHEN length(text) = 0 THEN 0.0
          ELSE (length(text) - length(translate(text, '.,!?;:''"()-', '')))::DOUBLE
            / length(text) END) <= 0.2),
      k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY lower(trim(text))),
      s AS (SELECT q.* FROM q JOIN k USING (doc_id)),
      c AS (SELECT lang, doc_id, n_tokens,
          (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) AS st
        FROM s)
      SELECT lang, count(DISTINCT st // 64)::BIGINT AS n_seqs,
        count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
      FROM c GROUP BY 1 ORDER BY 1"""))

  /** The pipeline with the model TRAINED INSIDE IT: a logistic quality
    * filter fit by [[graft.pipeline.Blueprint.fitLogisticGD]] (2 GD steps
    * on document features, English-ness as the training signal — the
    * fastText-classifier curation recipe), weights frozen at 6 dp so both
    * engines apply IDENTICAL parameters, then applied to every document in
    * the same dataflow and reported per source. Training is one aggregate
    * pass per step; apply is scan-speed; nothing data-sized leaves the
    * executors. */
  private[graft] val qTrainedFilter = Q("pipe2_trained_filter",
    (s, d) => {
      import graft.pipeline.Blueprint
      import graft.text.TextAnalysis
      val feats = t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          array(TextAnalysis.tokenCount(col("text")).cast("double") / 100.0,
            TextAnalysis.punctRatio(col("text"))).as("feat"),
          (col("lang") === "en").cast("double").as("y"))
      val (w, b) = Blueprint.fitLogisticGD(feats, "feat", "y",
        dim = 2, steps = 2, lr = 0.5)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val margin = element_at(col("feat"), 1) * lit(r6(w(0))) +
        element_at(col("feat"), 2) * lit(r6(w(1))) + lit(r6(b))
      val score = lit(1.0) / (lit(1.0) + exp(-margin))
      feats.withColumn("score", score)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("score") > 0.5).cast("long")).as("n_kept"),
          round(avg(col("score")), 4).as("avg_score"))
        .orderBy("source")
    },
    Some {
      val sig = (w: String) => s"1.0/(1.0+exp(-(x1*$w.w1 + x2*$w.w2 + $w.b)))"
      val chain = (1 to 2).map { i =>
        val p = sig("w")
        s"""g$i AS (SELECT sum(($p - y)*x1) AS g1, sum(($p - y)*x2) AS g2,
            sum($p - y) AS gb FROM d, w${i - 1} w),
          w$i AS (SELECT w.w1 - 0.5*(g.g1/n.n) AS w1, w.w2 - 0.5*(g.g2/n.n) AS w2,
            w.b - 0.5*(g.gb/n.n) AS b FROM w${i - 1} w, g$i g, n)"""
      }.mkString(",\n        ")
      s"""WITH d AS (SELECT doc_id, source,
          (CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split(trim(text), ' ')) END)::DOUBLE / 100.0 AS x1,
          CASE WHEN length(text) = 0 THEN 0.0
            ELSE (length(text) - length(translate(text, '.,!?;:''"()-', '')))::DOUBLE
              / length(text) END AS x2,
          CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents WHERE text IS NOT NULL),
        n AS (SELECT count(*)::DOUBLE AS n FROM d),
        w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS b),
        $chain,
        wf AS (SELECT round(w1, 6) AS w1, round(w2, 6) AS w2,
          round(b, 6) AS b FROM w2),
        sc AS (SELECT source, ${sig("wf")} AS score FROM d, wf wf)
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(CASE WHEN score > 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
          round(avg(score), 4) AS avg_score
        FROM sc GROUP BY 1 ORDER BY 1"""
    })

  /** Benford first-digit audit of order totals — the fabricated-data /
    * unit-mixing smell test. Digits extracted from exact integer CENTS
    * (integer→string is exact cross-engine; float formatting is not). */
  private[graft] val qBenford = Q("dq8_benford",
    (s, d) => Stats.benford(t(s, d, "orders"),
      round(col("o_totalprice") * 100).cast("long")),
    Some("""WITH c AS (SELECT substr(CAST(CAST(round(o_totalprice*100) AS BIGINT)
          AS VARCHAR), 1, 1)::INT AS digit FROM orders),
      g AS (SELECT digit, count(*) AS n_obs FROM c WHERE digit >= 1 GROUP BY 1),
      t AS (SELECT sum(n_obs) AS tt FROM g)
      SELECT digit, n_obs,
        round(n_obs::DOUBLE / tt::DOUBLE, 6) AS obs_ratio,
        round(log10(1.0 + 1.0/digit::DOUBLE), 6) AS exp_ratio
      FROM g, t ORDER BY digit"""))

  // ====================================================================

  private[graft] val all: Seq[Q] = Seq(
    qWelch,
    qChi2,
    qPca,
    qBenford,
    qCorpusPipeline,
    qTrainedFilter,
    qHllVocab,
    qHllMerge,
    qKmvDistinct,
    qKmvJaccard,
    qQuantileSketch,
    qGroupedQuantileSketch,
    qStreamDistinct,
    qAssocRules,
    qBfsLevels,
    qHllRollup,
    qJoinSizeEst,
    qFunnel,
    qCohort,
    qKaplanMeier,
    qBootstrapCi,
    qCuped,
    qKs,
    qScd2,
    qKeyProfile,
    qStratified,
    qContamination,
    qZOrder,
    qTriangles,
    qTrianglesApprox,
    qTrianglesVertexSampled,
    qUpsert,
    qIvm,
    qDataQuality,
    qCorrelation,
    qEqualFreqBins,
    qHeavyHitters,
    qGroupedQuantiles,
    qMmr,
    qMmrAnchor,
    qChunks,
    qRedact,
    qSurprisal,
    qCharEntropy,
    qPack,
    qBalancedShards,
    qLenBatches,
    qTempMix,
    qPii,
    qWinsorize,
    qBloomDedup,
    qInt8,
    qScale,
    qObserved,
    qFuzzy,
    qStreaks,
    qBars,
    qTokEncode,
    qBpeTrain,
    qBpeSegment,
    qBpeTrainAnchor,
    qBpeSegmentAnchor,
    qHashedScore,
    qPsi,
    qWau,
    qInt8TopK,
    qClustCoeff,
    qTargetEnc,
    qBoilerplate,
    qGroupedMode,
    qQuarantine,
    qSessionWindow,
    qMoments,
    qPseudonymize,
    qKCore,
    qKCoreBounded)
}
