package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  private def docs = Seq(
    (1L, base),
    (2L, base + " extra"),                       // near-dup of 1
    (3L, base),                                  // exact dup of 1
    (4L, "completely different words about spark sql catalyst optimizer engines"),
    (5L, "another unrelated document mentioning parquet shuffles and joins")
  ).toDF("doc_id", "text")

  test("exactGroups keeps min id with duplicate count") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(1L) == 2L && g(2L) == 1L && g(4L) == 1L && g(5L) == 1L)
    assert(Dedup.exactDedup(docs, "doc_id", "text").count() == 4)
  }

  test("wordShingles produces distinct n-grams; short text falls back to whole string") {
    val out = Seq("a b c d", "x").toDF("t")
      .select(Dedup.wordShingles(col("t"), 3).as("s")).as[Seq[String]].collect()
    assert(out(0).toSet == Set("a b c", "b c d"))
    assert(out(1) == Seq("x"))
  }

  test("minhash+LSH finds planted near-dups and exact dups, verified by true jaccard") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        k = 16, bands = 8, shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 3L)))                       // exact dup always collides
    assert(pairs.filter(p => (p._1, p._2) == ((1L, 3L))).head._3 == 1.0)
    assert(!ids.exists(p => p._2 == 4L || p._1 == 4L))   // unrelated docs never verified in
  }

  test("minhash at threshold 1.0 equals the exact-Jaccard join (the d2b anchor)") {
    // identical shingle sets => identical signatures => every band collides,
    // so the LSH pipeline's output at threshold 1.0 is provably the exact
    // self-join — pin it against ngramJaccardPairs on a corpus with a
    // planted exact-dup pair (1,3) plus whitespace-normalized copies
    val corpus = docs.union(Seq(
      (6L, base.toUpperCase),       // lower(trim()) normalizes case away
      (7L, "  " + base + "  ")      // and surrounding whitespace
    ).toDF("doc_id", "text"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairSet(Dedup.minhashNearDups(corpus, "doc_id", "text",
      k = 16, bands = 4, shingleN = 3, threshold = 1.0))
    val exact = pairSet(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 1.0))
    assert(lsh == exact)
    assert(lsh == Set((1L, 3L), (1L, 6L), (1L, 7L), (3L, 6L), (3L, 7L), (6L, 7L)))
  }

  test("simhash distance 0 for identical docs, large for unrelated") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(3L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(4L)) > 10)
    val nd = Dedup.simhashNearDups(docs, "doc_id", "text", maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.contains((1L, 3L)))
  }

  test("lane-packed simhash equals the per-bit ±1 vote definition (64 and 128 bit)") {
    // the r14 per-bit conditional-sum form, kept here as the REFERENCE the
    // r15 packed bit-count lanes must reproduce bit for bit
    val toks = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("__t"))
      .withColumn("__h0", xxhash64(col("__t")))
      .withColumn("__h1", xxhash64(col("__t"), lit(0x9e3779b97f4a7c15L)))
    val votes = (0 until 128).map { b =>
      val h = if (b < 64) col("__h0") else col("__h1")
      sum(when(shiftright(h, b % 64).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$b")
    }
    val voted = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    def pack(range: Range) = range.map { b =>
      when(col(s"v_$b") > 0, lit(1L << (b % 64))).otherwise(lit(0L))
    }.reduce(_ + _)
    val want = voted
      .select(col("doc_id"), pack(0 until 64).as("lo"), pack(64 until 128).as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got64 = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got128 = Dedup.simhash128(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got64 == want.map { case (k, v) => k -> v._1 })
    assert(got128 == want)
  }

  test("ngramJaccardPairs computes exact jaccard over an inverted index") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 3L)) == 1.0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("ngramJaccardPairs prefix filtering matches brute-force exactly") {
    // corpus with heavy shingle overlap (the hazard case for the inverted
    // index): prefix filtering must still return the EXACT brute-force set
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "alpha beta gamma delta theta iota"),
      (4L, "alpha beta kappa lambda mu nu"),
      (5L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (6L, "xi omicron pi rho sigma tau"),
      (7L, "alpha beta gamma delta epsilon"),
      (8L, "upsilon phi chi psi omega alpha"))
    val df = corpus.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sets = corpus.map { case (id, txt) =>
        val w = txt.split("\\s+")
        id -> (if (w.length < 2) Set(txt) else w.sliding(2).map(_.mkString(" ")).toSet)
      }.toMap
      val want = (for {
        (i, si) <- sets; (j, sj) <- sets if i < j
        inter = (si & sj).size.toDouble
        jac = inter / (si.size + sj.size - inter) if jac >= t
      } yield (i, j) -> jac).toMap
      assert(got == want, s"threshold $t: got ${got.keySet} want ${want.keySet}")
    }
  }

  test("containmentPairs finds subsets Jaccard misses; matches brute force") {
    // doc 2 is a verbatim slice of doc 1: containment(2 in 1) = 1.0 but
    // Jaccard is small — the asymmetric detector's whole point
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta"),
      (3L, "nu xi omicron pi rho"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")) // dup of 1
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", n = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sets = corpus.map { case (id, txt) =>
      id -> txt.split("\\s+").sliding(2).map(_.mkString(" ")).toSet
    }.toMap
    val want = (for {
      (i, si) <- sets; (j, sj) <- sets if i != j
      c = (si & sj).size.toDouble / si.size if c >= 0.8
    } yield (i, j) -> c).toMap
    assert(got == want, s"got ${got.keySet} want ${want.keySet}")
    assert(got((2L, 1L)) == 1.0, "the slice is fully contained")
    assert(!got.contains((1L, 2L)), "containment is directional")
    // the Jaccard detector does NOT pair them at the same bar
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)))
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, "doc_id", "text", n = 2, threshold = 0.0)
    }
    // NULL text never shingles: two NULL docs must NOT pair at 1.0 on the
    // phantom empty-string set (and SQL restatements treat NULL as NULL)
    val withNulls = df.unionAll(
      Seq((8L, null: String), (9L, null: String)).toDF("doc_id", "text"))
    val ids = Dedup.containmentPairs(withNulls, "doc_id", "text", 2, 0.8)
      .select("id_a").collect().map(_.getLong(0)).toSet ++
      Dedup.ngramJaccardPairs(withNulls, "doc_id", "text", 2, 0.8)
        .select("id1").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(8L) && !ids.contains(9L), "NULL docs never pair")
  }

  /** The r12 positional filter prunes candidates via the upper bound
    * |A∩B| ≤ common + min(req−1, |B|−qmax); it must be LOSSLESS — on a
    * dense overlapping corpus (every doc a random-ish slice of one token
    * stream, so prefixes collide heavily) the output must equal brute
    * force at several thresholds, including ones that land req exactly
    * on and just off integer boundaries. */
  test("containmentPairs positional filter is lossless on a dense corpus") {
    val toks = ('a' to 'z').map(_.toString)
    // deterministic overlapping slices: doc i covers [i mod 13, i mod 13 + 6 + i mod 9]
    val corpus = (0 until 40).map { i =>
      val start = i % 13
      val len = 7 + (i % 9)
      (i.toLong, (start until (start + len)).map(k => toks(k % 26)).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val sets = corpus.map { case (id, txt) =>
      id -> txt.split("\\s+").sliding(2).map(_.mkString(" ")).toSet
    }.toMap
    for (t <- Seq(0.5, 0.75, 0.8, 1.0)) {
      val want = (for {
        (i, si) <- sets; (j, sj) <- sets if i != j
        c = (si & sj).size.toDouble / si.size if c >= t
      } yield (i, j) -> c).toMap
      val got = Dedup.containmentPairs(df, "doc_id", "text", n = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == want,
        s"t=$t: missing ${(want.keySet -- got.keySet).toSeq.sorted.take(5)}, " +
          s"extra ${(got.keySet -- want.keySet).toSeq.sorted.take(5)}")
    }
  }

  test("simhashNearDups banding has full recall at the requested distance") {
    // brute-force ground truth over all pairs: banding into maxDistance+1
    // chunks must surface EVERY pair within the distance (pigeonhole), and
    // the popcount verify kills everything beyond it
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (d <- Seq(0, 3, 10, 25)) {
      val want = (for {
        (i, hi) <- sh.toSeq; (j, hj) <- sh.toSeq
        if i < j && java.lang.Long.bitCount(hi ^ hj) <= d
      } yield (i, j)).toSet
      val got = Dedup.simhashNearDups(docs, "doc_id", "text", maxDistance = d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"maxDistance $d: got $got want $want")
    }
  }

  test("multi-table embedding LSH measurably amplifies recall at threshold 0.8") {
    // planted near-dup pairs: base vector + small noise (cos >= 0.8);
    // deterministic generator so the recall comparison is reproducible
    val rnd = new scala.util.Random(7)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    def jitter(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => x + 0.25 * n / math.sqrt(dim.toDouble) * rnd.nextGaussian())
    }
    val planted = (0 until 40).map { i => (i.toLong, vec()) }
    val pairs = planted.map { case (i, v) => (i + 1000L, jitter(v)) }
    val noise = (0 until 100).map { i => (i + 2000L, vec()) }
    val all = planted ++ pairs ++ noise
    val df = all.toDF("id", "v")
    // exhaustive ground truth, brute-forced driver-side
    def cos(a: Array[Double], b: Array[Double]) = {
      val d0 = a.zip(b).map { case (x, y) => x * y }.sum
      d0 / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val truePairs = (for {
      (i, vi) <- all; (j, vj) <- all
      if i < j && cos(vi, vj) >= 0.8
    } yield (i, j)).toSet
    def recall(nTables: Int): Double = {
      val got = Dedup.embeddingNearDups(df, "id", "v", dim, threshold = 0.8,
          nPlanes = 8, seed = 42L, nTables = nTables)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.subsetOf(truePairs)) // exact-cosine verify: precision 1
      if (truePairs.isEmpty) 1.0 else got.size.toDouble / truePairs.size
    }
    val r1 = recall(1)
    val r4 = recall(4)
    assert(truePairs.nonEmpty)
    assert(r4 > r1, s"OR over 4 tables must beat one: $r4 vs $r1")
    assert(r4 >= 0.8, s"4-table recall should be high, got $r4")
  }

  test("simhash128 banding: full recall, chunks stay wide at large distance") {
    // chunk widths: 128 bits over d+1 chunks keeps >= floor(128/(d+1)) bits
    val b128 = Dedup.chunkBounds(128, 11)
    assert(b128.head == 0 && b128.last == 128)
    val w128 = b128.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(w128.min >= 11 && w128.max - w128.min <= 1)
    val w64 = Dedup.chunkBounds(64, 11).sliding(2).map(p => p(1) - p(0)).toSeq
    assert(w64.min == 5) // the 64-bit degeneration the 128-bit variant fixes
    // recall vs brute force over the 128-bit signature, like the 64-bit test
    val sh = Dedup.simhash128(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    for (d <- Seq(0, 10, 30)) {
      val want = (for {
        (i, hi) <- sh.toSeq; (j, hj) <- sh.toSeq
        if i < j && ham(hi, hj) <= d
      } yield (i, j)).toSet
      val got = Dedup.simhashNearDups128(docs, "doc_id", "text", maxDistance = d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"maxDistance $d: got $got want $want")
    }
    // identical docs agree on both words
    assert(sh(1L) == sh(3L))
  }

  test("portable simhash matches an independent driver-side md5 reimplementation") {
    // the d4c oracle device, in miniature: recompute every signature from
    // java.security MD5 with no Spark expressions involved
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def sigOf(text: String): Long = {
      val votes = new Array[Int](64)
      text.trim.toLowerCase.split("\\s+").foreach { tok =>
        val h = md5hex(tok).substring(0, 16)
        for (b <- 0 until 64) {
          val digit = Integer.parseInt(h.charAt(15 - b / 4).toString, 16)
          votes(b) += (if (((digit >> (b % 4)) & 1) == 1) 1 else -1)
        }
      }
      (0 until 64).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    }
    val got = Dedup.simhashPortable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = docs.collect().map(r => r.getLong(0) -> sigOf(r.getString(1))).toMap
    assert(got == want)
    assert(got(1L) == got(3L)) // identical docs, identical signature
  }

  test("portable simhash banded pairs equal brute force (the d4d full-recall claim)") {
    val sh = Dedup.simhashPortable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (d <- Seq(0, 4, 20)) {
      val want = (for {
        (i, hi) <- sh.toSeq; (j, hj) <- sh.toSeq
        if i < j && java.lang.Long.bitCount(hi ^ hj) <= d
      } yield (i, j)).toSet
      val got = Dedup.simhashPortableNearDups(docs, "doc_id", "text", maxDistance = d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"maxDistance $d: got $got want $want")
    }
  }

  test("portable minhash: verified subset of exact pairs, exact dups always found") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.minhashNearDupsPortable(docs, "doc_id", "text",
        k = 8, bands = 4, shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the exact-Jaccard verify makes the output a SUBSET of the true pair
    // set (banding can only lose candidates, never admit false ones) …
    assert(got.map(p => (p._1, p._2)).toSet.subsetOf(exact))
    // … and identical shingle sets give identical signatures, so the
    // planted exact dup collides in every band with jaccard exactly 1
    assert(got.exists(p => (p._1, p._2) == ((1L, 3L)) && p._3 == 1.0))
  }

  test("connectedComponents: min-label propagation over a multi-round chain") {
    // path 1-2-3-4-5 needs several propagation rounds; 6-7 separate; 8 isolated
    val verts = (1L to 8L).map(Tuple1(_)).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val comp = Dedup.connectedComponents(verts, "id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert(comp(6L) == 6L && comp(7L) == 6L)
    assert(comp(8L) == 8L)
  }

  test("connectedComponents fails instead of returning labels cut off at maxIter") {
    // the path 1-2-…-12 is still relabelling after 2 rounds
    val verts = (1L to 12L).map(Tuple1(_)).toDF("id")
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(verts, "id", edges, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge within 2 rounds"), e.getMessage)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "a failed run must release its checkpoints")
    // with rounds to spare, the same path is one component
    val comp = Dedup.connectedComponents(verts, "id", edges).collect().map(_.getLong(1))
    assert(comp.length == 12 && comp.forall(_ == 1L))
  }

  test("connectedComponents matches driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 8) {
      val n = 4 + rnd.nextInt(8)
      val edges = (0 until rnd.nextInt(n * 2)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      // ground truth: plain union-find
      val parent = Array.tabulate(n.toLong.toInt)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val verts = (0L until n).map(Tuple1(_)).toDF("id")
      val edgeDf = if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else edges.toDF("src", "dst")
      val got = Dedup.connectedComponents(verts, "id", edgeDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial (n=$n, edges=$edges)")
    }
  }

  test("dupClusters assigns each doc its minimum-id near-dup representative") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.9)
    val reps = Dedup.dupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 and 3 are exact dups; 2 (base + one word) has unigram J = 14/15
    // with 1 -> all three collapse to rep 1; 4 and 5 stay singletons
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
  }

  test("canonicalPick keeps the highest-quality member, ties to lowest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "rep")
    val quality = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 7L))
      .toDF("doc_id", "q")
    val out = Dedup.canonicalPick(clusters, quality, "doc_id", "q")
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cluster 1: 2 and 3 tie on quality 30 -> 2 (lower id) survives, size 3
    assert(out.toSeq == Seq((1L, 2L, 30L, 3L), (4L, 4L, 7L, 1L)))
  }

  test("embeddingNearDups buckets then verifies exact cosine") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("id", "v")
    val out = Dedup.embeddingNearDups(vecs, "id", "v", dim = 3, threshold = 0.9, nPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // (1,2) are near-identical; whether LSH buckets them together depends on
    // the deterministic planes — but (1,3)/(2,3) (orthogonal) must never pass
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)))
  }

  test("semanticDedup: one-pass keep-min-id prune; separable cells match global") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.95f, 0.3122f, 0.0f, 0.0f)),  // cos(1,2) ~ 0.95
      (3L, Array(0.81f, 0.59f, 0.0f, 0.0f)),    // cos(2,3) ~ 0.95, cos(1,3) ~ 0.81
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),      // far cluster
      (5L, Array(0.0f, 0.0f, 0.98f, 0.2f))      // cos(4,5) ~ 0.98
    ).toDF("id", "v")
    def keeps(nCells: Int) =
      Dedup.semanticDedup(vecs, "id", "v", nCells, threshold = 0.9, iters = 1)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val global = keeps(1)
    // one-pass contract: 3 is dropped because of its smaller-id neighbor 2,
    // even though 2 itself is dropped (keep(i) <=> no j<i with cos >= tau)
    assert(global == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true, 5L -> false))
    // separable clusters: celling cannot change the answer (cross-cluster
    // cosines are all below tau)
    assert(keeps(2) == global)
  }

  test("semanticDedup at nCells=1 matches driver-side brute force on random vectors") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 4) {
      val n = 3 + rnd.nextInt(20)
      val dim = 4
      val vs = (0 until n).map(i =>
        i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
      val tau = 0.3 + rnd.nextDouble() * 0.5
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val d = (0 until dim).map(i => a(i).toDouble * b(i)).sum
        d / math.sqrt(vs.head._2.indices.map(i => a(i).toDouble * a(i)).sum *
          vs.head._2.indices.map(i => b(i).toDouble * b(i)).sum)
      }
      val want = vs.map { case (i, v) =>
        i -> !vs.exists { case (j, w) => j < i && cos(w, v) >= tau }
      }.toMap
      val got = Dedup.semanticDedup(vs.toDF("id", "v"), "id", "v",
          nCells = 1, threshold = tau, iters = 1)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == want, s"trial $trial (n=$n, tau=$tau)")
    }
  }

  test("semanticDedup: zero-norm vectors never pair and are kept") {
    // Spark orders NaN above every number, so an unguarded zero vector's
    // NaN cosine would PASS `>= threshold` and pair with every cellmate.
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),      // zero — must be kept
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),      // cos(2,3)=0 < tau: kept
      (4L, Array(0.0f, 0.0f, 0.0f, 0.0f)),      // second zero — also kept
      (5L, Array(0.97f, 0.243f, 0.0f, 0.0f))    // cos(2,5)~0.97: dropped
    ).toDF("id", "v")
    val got = Dedup.semanticDedup(vecs, "id", "v", nCells = 1,
        threshold = 0.9, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> true, 4L -> true,
      5L -> false))
  }

  test("embeddingNearDups emits no pairs for zero-norm vectors") {
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.99f, 0.141f, 0.0f, 0.0f))
    ).toDF("id", "v")
    // nPlanes=0: every row lands in one bucket, so without the norm guard
    // the zero vector would pair with both others at cos=NaN
    val pairs = Dedup.embeddingNearDups(vecs, "id", "v", dim = 4,
        threshold = 0.9, nPlanes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 3L)))
  }

  test("boundedCells splits a planted hot cell below the bound") {
    val rnd = new scala.util.Random(7)
    // 90% of rows in one tight cluster, 10% scattered: nCells=4 will put
    // the cluster in one hot cell; maxCellSize=25 must break it up
    val clustered = (0 until 180).map { i =>
      i.toLong -> Array(10f + rnd.nextFloat(), 10f + rnd.nextFloat(),
        rnd.nextFloat(), rnd.nextFloat())
    }
    val scattered = (180 until 200).map { i =>
      i.toLong -> Array.fill(4)(rnd.nextGaussian().toFloat * 5f)
    }
    val df = (clustered ++ scattered).toDF("id", "v")
    val cells = Dedup.boundedCells(df, "id", "v", nCells = 4, iters = 1,
        maxCellSize = 25)
      .groupBy("__cell").count().collect().map(_.getLong(1))
    assert(cells.sum == 200L)
    assert(cells.max <= 25L,
      s"hot cell not split below bound: max=${cells.max}")
    // candidate-pair bound follows: sum(c_i^2) << n^2
    val pairBound = cells.map(c => c * c).sum
    assert(pairBound < 200L * 200L / 4,
      s"pair bound not reduced: $pairBound")
    // and the keep output at the same settings is still a valid partition
    val keeps = Dedup.semanticDedup(df, "id", "v", nCells = 4,
        threshold = 0.999, iters = 1, maxCellSize = 25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keeps.size == 200 && keeps.values.exists(identity))
  }

  test("incrementalDedupBloom is bit-identical to the plain anti-join") {
    val incoming = Seq(
      (1L, "seen before"), (2L, "brand new"), (3L, "also seen"),
      (4L, "fresh stuff"), (5L, null: String)) // NULL fp must be kept
      .toDF("id", "fp")
    val history = Seq("seen before", "also seen", "old thing").toDF("fp")
    val expected = incoming.join(history, Seq("fp"), "left_anti")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val viaBloom = Dedup.incrementalDedupBloom(incoming, history, "fp")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaBloom == expected && expected == Seq(2L, 4L, 5L))
    // long-typed fingerprints go through the mightContainLong path
    val incL = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "fp")
    val histL = Seq(10L, 30L).toDF("fp")
    assert(Dedup.incrementalDedupBloom(incL, histL, "fp", expectedItems = 2)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    intercept[IllegalArgumentException] {
      Dedup.incrementalDedupBloom(incL, histL, "fp", fpp = 0.0)
    }
  }

  test("repeatedSpanStats counts positions whose n-gram recurs anywhere in the corpus") {
    // doc 1 and 2 share the 4-gram "a b c d" (cross-doc dup); doc 3 repeats
    // "p q r s" internally at two positions (within-doc dup); doc 4 is all
    // unique; doc 5 is shorter than n and must emit no row.
    val corpus = Seq(
      (1L, "a b c d x1 y1 z1"),
      (2L, "w2 a b c d v2 u2"),
      (3L, "p q r s t3 p q r s"),
      (4L, "m n o m n o m1 n1"), // the 3-gram "m n o" repeats but no 4-gram does
      (5L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpanStats(corpus, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!out.contains(5L))
    assert(out(1L) == ((4L, 1L)))  // 4 spans, only "a b c d" duplicated
    assert(out(2L) == ((4L, 1L)))
    assert(out(3L) == ((6L, 2L)))  // "p q r s" at positions 1 and 6
    assert(out(4L) == ((5L, 0L)))
    val ratio = Dedup.repeatedSpanStats(corpus, "doc_id", "text", n = 4)
      .filter(col("doc_id") === 1L).select("dup_ratio").head.getDouble(0)
    assert(ratio == 0.25)
  }

  test("repeatedSpanStats: hashed-gram scale path matches the exact-string form") {
    // randomized corpus from a small vocabulary so spans genuinely repeat
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val corpus = (1L to 40L).map { id =>
      (id, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val exact = Dedup.repeatedSpanStats(corpus, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashed = Dedup.repeatedSpanStats(corpus, "doc_id", "text", n = 3,
        hashGrams = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact == hashed)
    assert(exact.exists(_._3 > 0)) // the corpus really has duplicated spans
  }

  test("removeRepeatedSpans conserves tokens: kept + removed = original, kept is a subsequence") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("w1", "w2", "w3", "w4")
    val corpus = (1L to 30L).map { id =>
      (id, Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val orig = corpus.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    Dedup.removeRepeatedSpans(corpus, "doc_id", "text", n = 3).collect().foreach { r =>
      val (id, nTok, nRem, clean) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val kept = if (clean.isEmpty) Seq.empty[String] else clean.split(" ").toSeq
      assert(nTok == orig(id).length)
      assert(kept.length == nTok - nRem)
      // kept tokens appear in the original in order (subsequence test)
      val it = orig(id).iterator
      assert(kept.forall(t => it.contains(t)))
    }
  }

  test("removeRepeatedSpans strips non-first occurrences and keeps the first copy") {
    val corpus = Seq(
      (1L, "a b c d tail1 end1"),     // first occurrence of "a b c d": kept whole
      (2L, "head2 a b c d tail2"),    // later occurrence: the 4 tokens vanish
      (3L, "p q r s x p q r s"),      // within-doc repeat: second instance stripped
      (4L, "short one")               // < n tokens: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(corpus, "doc_id", "text", n = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((6L, 0L, "a b c d tail1 end1")))
    assert(out(2L) == ((6L, 4L, "head2 tail2")))
    // doc 3: grams at 0..4; dup instance starts at pos 5 → tokens 5-8 go
    assert(out(3L) == ((9L, 4L, "p q r s x")))
    assert(out(4L) == ((2L, 0L, "short one")))
    // an exact-dup document loses everything (its every gram is non-first)
    val dup = corpus.union(Seq((5L, "a b c d tail1 end1")).toDF("doc_id", "text"))
    val d5 = Dedup.removeRepeatedSpans(dup, "doc_id", "text", n = 4)
      .filter(col("doc_id") === 5L).collect()(0)
    assert(d5.getLong(2) == 6L && d5.getString(3) == "")
    // gram identity is case-normalized, reconstruction keeps original case
    val cased = Seq((1L, "A b C d x y"), (2L, "a B c D z w")).toDF("doc_id", "text")
    val c2 = Dedup.removeRepeatedSpans(cased, "doc_id", "text", n = 4)
      .filter(col("doc_id") === 2L).collect()(0)
    assert(c2.getLong(2) == 4L && c2.getString(3) == "z w")
  }

  test("removeRepeatedSpans: blank docs report 0 tokens; whitespace runs tokenize like \\s+") {
    val corpus = Seq(
      (1L, ""),                    // empty
      (2L, "   \t\n  "),           // whitespace-only
      (3L, "a  b\tc\nd   e"),      // runs of spaces/tabs/newlines = single separators
      (4L, "a b c d e")            // same tokens, single-spaced
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(corpus, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // blank docs: 0 tokens, nothing removed (no phantom "" token —
    // consistent with TextAnalysis.tokenCount)
    assert(out(1L) == ((0L, 0L, "")))
    assert(out(2L) == ((0L, 0L, "")))
    // docs 3 and 4 tokenize identically, so doc 4's every 3-gram is a
    // repeat of doc 3's and is stripped entirely
    assert(out(3L) == ((5L, 0L, "a b c d e")))
    assert(out(4L) == ((5L, 5L, "")))
    // and the stats side agrees on span counts across whitespace runs
    val stats = Dedup.repeatedSpanStats(corpus, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats(3L) == 3L && stats(4L) == 3L && !stats.contains(1L))
  }

  test("topRepeatedSpans returns only recurring grams in (count desc, gram) order") {
    val corpus = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "a b c f"), (4L, "x y z w"))
      .toDF("doc_id", "text")
    val rows = Dedup.topRepeatedSpans(corpus, "doc_id", "text", n = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("a b c", 3L, 3L)))   // the only gram with n_occ > 1
    // k cuts deterministically after the (n_occ desc, gram) total order
    val corpus2 = corpus.union(Seq((5L, "a b c d"), (6L, "b c d e")).toDF("doc_id", "text"))
    val top1 = Dedup.topRepeatedSpans(corpus2, "doc_id", "text", n = 3, k = 1)
      .collect().map(_.getString(0)).toSeq
    assert(top1 == Seq("a b c"))                   // 4 occurrences beats "b c d"'s 3
  }

  private def snpDocs = Seq(
    // prefix-identical near-dups: the sort key (first 20 chars) lands them
    // adjacent, the TAIL mutation is what Jaccard scores
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
    // prefix-MUTATED near-dup of 1: sorts far away, invisible to this key
    (9L, "zulu beta gamma delta epsilon zeta eta theta iota kappa"),
    (4L, "unrelated filler one two three four five six seven eight"),
    (5L, "more filler nine ten eleven twelve thirteen fourteen fifteen")
  ).toDF("doc_id", "text")

  private def snpKey = substring(lower(trim(col("text"))), 1, 20)

  test("sortedNeighborhoodPairs finds prefix-sorted near-dups") {
    val got = Dedup.sortedNeighborhoodPairs(snpDocs, "doc_id", "text",
        snpKey, window = 2, shingleN = 3, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(got.forall { case (a, b) => a < b }) // canonical order
  }

  test("sorted-neighborhood recall is key-bound: a prefix mutation escapes the window") {
    // (1,9) is a genuine near-dup (Jaccard ~0.78 at 3-grams) that d3's
    // inverted index finds, but 'zulu...' sorts away from 'alpha...' —
    // the documented paradigm trade-off, not a bug
    val snp = Dedup.sortedNeighborhoodPairs(snpDocs, "doc_id", "text",
        snpKey, window = 1, shingleN = 3, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!snp.contains((1L, 9L)))
    val full = Dedup.ngramJaccardPairs(snpDocs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(full.contains((1L, 9L)))
  }

  test("sorted-neighborhood candidate budget is exactly n·window") {
    // window=2 over 5 docs: ranks 1..5 pair with up to 2 successors = 7
    // candidate pairs (4th has 1, 5th has 0); verify can only shrink that
    val got = Dedup.sortedNeighborhoodPairs(snpDocs, "doc_id", "text",
        snpKey, window = 2, shingleN = 3, threshold = 0.0)
      .count()
    assert(got == 7, s"expected the full 7-candidate budget, got $got")
  }
}
