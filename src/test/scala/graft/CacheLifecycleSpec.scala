package graft

import graft.dedup.Dedup
import graft.graph.RelGraph
import graft.schema.{ForeignKeyDef, OmitColumnDef, Schema, TableSchema}

import scala.collection.immutable.ListMap

/** Library hygiene: operators that persist working sets internally
  * (shingle sets, per-edge-type counts) must release them before
  * returning — a caller holding a long-lived session accumulates nothing.
  * The returned results are eagerly computed (localCheckpoint), so their
  * storage is result-sized and freed by the ContextCleaner on GC. */
class CacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text with no overlap here at all"))
    .toDF("doc_id", "text")

  test("ngramJaccardPairs leaves no cache entries and still returns pairs") {
    spark.catalog.clearCache()
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    assert(cacheEmpty)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("minhashNearDups and verifyJaccard leave no cache entries") {
    spark.catalog.clearCache()
    Dedup.minhashNearDups(docs, "doc_id", "text", k = 16, bands = 8,
      shingleN = 3, threshold = 0.5).collect()
    assert(cacheEmpty)
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val v = Dedup.verifyJaccard(docs, cands, "doc_id", "text", shingleN = 3,
      threshold = 0.5)
    assert(cacheEmpty)
    assert(v.count() == 1)
  }

  test("RelGraph stats with cached nodes releases everything when told") {
    spark.catalog.clearCache()
    val schema = Schema(ListMap(
      "parent" -> TableSchema(ListMap("pid" -> OmitColumnDef(key = true))),
      "child" -> TableSchema(ListMap(
        "cid" -> OmitColumnDef(key = true), "pid" -> OmitColumnDef()),
        Seq(ForeignKeyDef(Seq("pid"), "parent", Seq("pid"))))))
    val tables = Map(
      "parent" -> Seq(Tuple1(1), Tuple1(2)).toDF("pid"),
      "child" -> Seq((10, 1), (11, 2)).toDF("cid", "pid"))
    val g = RelGraph.build(schema, tables).withCachedNodes
    val out = g.stats(spark, includeReverse = true).localCheckpoint(true)
    g.unpersistNodes()
    assert(cacheEmpty)
    assert(out.count() == 4) // 2 node rows + 1 fwd + 1 rev edge type
  }

  /** The round-10 verdict's task #1: iterative loops must release each
    * superseded localCheckpoint generation as soon as the next one
    * materializes — kc1's official 30 s pass carried 5.1 s of GC and the
    * 30× audit needed a 24 GB heap for exactly these blocks. Unpersist
    * removes the RDD from the persistent registry synchronously, so the
    * post-return registry delta counts surviving generations exactly. */
  private def newlyPersisted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    (sc.getPersistentRDDs.keySet -- before).size
  }

  test("KCore releases superseded peel generations (≤1 frame survives)") {
    // triangle + tail: k=2 peels vertex 5, then 4 — a genuine 2-round peel
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val n = newlyPersisted {
      val out = graft.graph.KCore.vertices(e, "u", "v", k = 2)
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    }
    assert(n <= 1, s"KCore left $n persisted generations (want ≤1: the fixpoint frame)")
  }

  test("connectedComponents releases superseded label generations (≤1 survives)") {
    val vs = (1L to 8L).toDF("id")
    // a path 1-2-3-4-5 plus an isolated pair: several label rounds
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L)).toDF("src", "dst")
    val n = newlyPersisted {
      val out = Dedup.connectedComponents(vs, "id", e)
      assert(out.filter($"component" === 1L).count() == 5)
    }
    assert(n <= 1, s"connectedComponents left $n persisted generations (want ≤1)")
  }

  test("PageRank releases rounds and loop-static inputs (≤1 survives)") {
    val vs = (1L to 4L).toDF("id")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val n = newlyPersisted {
      val r = graft.graph.PageRank.run(vs, "id", e, iters = 4)
      assert(math.abs(r.agg(org.apache.spark.sql.functions.sum($"rank"))
        .head().getDouble(0) - 1.0) < 1e-9)
    }
    assert(n <= 1, s"PageRank left $n persisted frames (want ≤1: the final ranks)")
  }

  test("LabelProp releases superseded rounds and the edge frame (≤1 survives)") {
    val vs = (1L to 5L).toDF("id")
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 5L), (5L, 4L))
      .toDF("src", "dst")
    val n = newlyPersisted {
      val out = graft.graph.LabelProp.run(vs, "id", e, iters = 3)
      assert(out.count() == 5)
    }
    assert(n <= 1, s"LabelProp left $n persisted frames (want ≤1: the final labels)")
  }

  test("a loop that fails at its round cap releases every checkpoint it made") {
    // triangle + tail needs 2 peels; the 5-vertex chain more than 2 label rounds
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val chain = (1L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val rows: Seq[(String, () => Any)] = Seq(
      ("KCore.vertices", () => graft.graph.KCore.vertices(tail, "u", "v", k = 2, maxIter = 1)),
      ("connectedComponents", () =>
        Dedup.connectedComponents((1L to 5L).toDF("id"), "id", chain, maxIter = 2)))
    rows.foreach { case (name, run) =>
      val n = newlyPersisted {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("did not converge within"), s"$name: ${e.getMessage}")
      }
      assert(n == 0, s"$name left $n persisted frames after failing")
    }
  }

  test("every fixpoint loop runs one localCheckpoint per round, names its rounds in job descriptions, and leaves at most one frame") {
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L)).toDF("src", "dst")
    val vs = (1L to 8L).toDF("id")
    val weighted = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 1.0), (1L, 4L, 3.0))
      .toDF("src", "dst", "w")
    val ck = "localCheckpoint"
    // (the loop's name in its job descriptions, the actions it runs
    // before round 1, a run on a tiny fixture)
    val rows: Seq[(String, Seq[String], () => Any)] = Seq(
      ("Dedup.connectedComponents", Seq(ck),
        () => Dedup.connectedComponents(vs, "id", path)),
      ("KCore.vertices", Nil, () => graft.graph.KCore.vertices(tail, "u", "v", k = 2)),
      ("KCore.truncatedPeel", Nil,
        () => graft.graph.KCore.truncatedPeel(tail, "u", "v", k = 2, rounds = 2)),
      ("Bfs.levels", Seq(ck), () => graft.graph.Bfs.levels(path, "src", "dst", 1L, 3)),
      ("PageRank.run", Seq("count", ck, ck, ck),
        () => graft.graph.PageRank.run(vs, "id", path, iters = 3)),
      ("PageRank.runWeighted", Seq("count", "count", ck, ck, ck),
        () => graft.graph.PageRank.runWeighted(vs, "id", weighted, "w", iters = 3)),
      ("LabelProp.run", Seq(ck), () => graft.graph.LabelProp.run(vs, "id", path, iters = 2)))
    rows.foreach { case (op, setup, run) =>
      withClue(s"$op: ") {
        val (actions, jobs, left) = traceOf(run())
        val names = actions.map(_._1)
        val rounds = names.diff(setup)
        assert(names.length - rounds.length == setup.length,
          s"ran $names, missing set-up actions $setup")
        assert(rounds.nonEmpty && rounds.forall(_ == ck),
          s"round actions $rounds must all be $ck")
        val Round = s"${java.util.regex.Pattern.quote(op)} round (\\d+)".r
        val described = jobs.collect { case Round(r) => r.toInt }.toSet
        assert(described == (1 to rounds.length).toSet,
          s"${rounds.length} round checkpoints, job descriptions ${jobs.distinct}")
        assert(left.size <= 1, s"left ${left.size} persisted frames")
      }
    }
  }

  test("Checkpoints.release refuses derived frames and restores the logger") {
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val before = org.apache.logging.log4j.LogManager.getLogger(name).getLevel
    val ck = (1L to 4L).toDF("id").localCheckpoint(true)
    // a frame DERIVED from a checkpoint must be rejected: releasing its
    // leaves would unpersist blocks the caller still owns, and truncated
    // lineage makes that unrecoverable
    val e = intercept[IllegalArgumentException] {
      graft.util.Checkpoints.release(ck.filter($"id" > 1L))
    }
    assert(e.getMessage.contains("bare checkpoint frame"))
    assert(ck.count() == 4) // the refusal left the caller's blocks intact
    graft.util.Checkpoints.release(ck) // the bare leaf itself releases fine
    // the WARN suppression is scoped: the process-wide level is restored
    val after = org.apache.logging.log4j.LogManager.getLogger(name).getLevel
    assert(after == before, s"logger level leaked: $before -> $after")
  }

  test("trainBpe releases every working frame (driver-side result)") {
    val n = newlyPersisted {
      val merges = graft.text.Chunker.trainBpe(docs, "text", nMerges = 4)
      assert(merges.nonEmpty)
    }
    assert(n == 0, s"trainBpe left $n persisted frames (want 0: result is driver-side)")
  }
}
