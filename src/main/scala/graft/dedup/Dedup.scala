package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** Deduplication operators for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  * (Net-new vs the reference, which has no dedup; its only set-dedup is the
  * BFS row accumulator, data/strategy/bfs.py:46-47.)
  *
  * Scale design notes:
  *  - exact dedup is a single hash-aggregate on the normalized fingerprint
  *    (shuffle of (hash, id) pairs only, never full documents);
  *  - MinHash signatures are computed map-side (explode shingles → one
  *    groupBy(id) with k min() partial aggregates), LSH banding turns the
  *    O(n²) pair search into an equi-join on (band, bucket);
  *  - candidate verification re-checks exact Jaccard so LSH false positives
  *    never survive to the output.
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Exact dedup groups: one row per distinct normalized text with the
    * representative (minimum) id and the duplicate count. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(lower(trim(col(textCol))).as("__norm"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Exact dedup: keep the minimum-id row per distinct text. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, idCol) // keep is small relative to docs; Catalyst broadcasts when it fits
  }

  // ------------------------------------------------------------ shingles

  /** Word n-gram shingles of a text column (distinct), as an array column.
    * Pure expressions: tokenize, then slide a window via `sequence` +
    * `transform` + `slice`. */
  def wordShingles(c: Column, n: Int): Column = {
    val toks = split(lower(trim(c)), "\\s+")
    val count = size(toks) - (n - 1)
    array_distinct(
      when(count <= 0, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(1), count), i =>
          concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** Word n-gram shingles hashed to 64-bit longs: the MinHash-family
    * representation. 8-byte elements instead of ~25-byte strings makes the
    * cached sets ~3x smaller and set-intersection integer-typed; Jaccard
    * over hashed shingles equals string-set Jaccard up to 64-bit collisions
    * (odds ~|union|^2 / 2^64 per pair — negligible), which is within the
    * MinHash pipeline's hash-defined contract. [[ngramJaccardPairs]] keeps
    * string sets: its contract (and DuckDB oracle) is exact. */
  def wordShingleHashes(c: Column, n: Int): Column =
    transform(wordShingles(c, n), s => xxhash64(s))

  // ------------------------------------------------------------- minhash

  /** Deterministic universal-hash parameters (a, b) for k MinHash
    * functions: h_i(x) = ((a_i * x + b_i) mod p), p = 2^61 - 1. */
  private[graft] def hashParams(k: Int, seed: Long): Array[(Long, Long)] =
    Array.tabulate(k) { i =>
      var z = seed + 0x9e3779b97f4a7c15L * (i + 1L)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      val a = (z ^ (z >>> 27)).abs % MersennePrime match { case 0 => 1L; case x => x }
      var w = z * 0x94d049bb133111ebL
      w = (w ^ (w >>> 31))
      (a, w.abs % MersennePrime)
    }

  private val MersennePrime = (1L << 61) - 1

  /** MinHash signatures from precomputed HASHED `(idCol, __set: Array[Long])`
    * shingle sets (see [[wordShingleHashes]]) — the single hashing
    * definition shared by [[minhashSignatures]] and [[minhashNearDups]], so
    * the public signature API and the pipeline can never drift apart. One
    * explode + one groupBy(id) with k partial-aggregable min()s. */
  private[graft] def minhashSignaturesFromSets(sets: DataFrame, idCol: String,
      k: Int, seed: Long): DataFrame = {
    val params = hashParams(k, seed)
    val exploded = sets.select(col(idCol), explode(col("__set")).as("__sh"))
      .withColumn("__h", pmod(col("__sh"), lit(MersennePrime)))
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * lit(a) + lit(b), lit(MersennePrime))).as(s"mh_$i")
    }
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signature per document: k minima over the hashed shingle set. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleN: Int = 3, seed: Long = 42L): DataFrame =
    minhashSignaturesFromSets(
      docs.select(col(idCol), wordShingleHashes(col(textCol), shingleN).as("__set")),
      idCol, k, seed)

  /** LSH banding over a MinHash signature: bands of r rows each; documents
    * agreeing on any whole band become candidate pairs (id1 < id2). */
  def minhashCandidates(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash((b * r until (b + 1) * r).map(i => col(s"mh_$i")): _*).as("bucket")).as(s"__b$b")
    }
    val banded = sigs.select(col(idCol) +: bandCols: _*)
      .select(col(idCol), explode(array((0 until bands).map(b => col(s"__b$b")): _*)).as("__band"))
    val l = banded.select(col("__band"), col(idCol).as("id1"))
    val r2 = banded.select(col("__band"), col(idCol).as("id2"))
    l.join(r2, "__band").filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** Run `pipeline` against persisted per-document shingle sets, then
    * RELEASE the cache before returning. The shingle expression (regex
    * split + sliding concat) is the most expensive scalar computation in
    * the dedup family and every pipeline consumes it from several plan
    * branches (inverted index, document frequencies, verification join), so
    * it is persisted and eagerly materialized (independent racing stages
    * would otherwise each compute a lazily-populated cache). The pipeline
    * result is then eagerly computed via `localCheckpoint` — result-sized
    * (the near-dup pairs), lineage-truncated so it no longer references the
    * cached sets — and the corpus-sized cache is unpersisted before
    * returning: a library caller leaks nothing, and the checkpoint blocks
    * themselves are freed by the ContextCleaner when the returned
    * DataFrame is garbage collected. */
  private def withShingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int, hashed: Boolean = false)(pipeline: DataFrame => DataFrame): DataFrame = {
    val shingleExpr =
      if (hashed) wordShingleHashes(col(textCol), n) else wordShingles(col(textCol), n)
    // NULL text never shingles: concat_ws folds NULL to "", so without the
    // filter two NULL-text docs would pair at similarity 1.0 on the
    // phantom [""] set (and diverge from any SQL restatement, where NULL
    // text stays NULL) — the contamination() device, applied once here
    // for every shingle-set pipeline.
    // Spread.wide: the shingle build (regex split + sliding concat) and
    // the explode feeding the inverted index both run BEFORE the first
    // exchange, so a narrow local scan would serialize them on one core
    // (guide §2.5 input skew: one unsplittable input partition).
    val sets = graft.util.Spread.wide(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), shingleExpr.as("__set"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sets.count()
      // Checkpoints.eager = localCheckpoint(true), except under
      // tools.Explain's -Dgraft.explain.lazyPlans, where the real
      // pre-checkpoint plan is kept visible for the plan dumps
      graft.util.Checkpoints.eager(pipeline(sets))
    } finally { sets.unpersist(); () }
  }

  /** Exact Jaccard verification of candidate pairs (kills LSH false
    * positives): joins each side's distinct-shingle set back in and
    * computes |A∩B| / |A∪B| via array ops. Eagerly computed; no cache
    * entries survive the call. */
  def verifyJaccard(docs: DataFrame, candidates: DataFrame, idCol: String,
      textCol: String, shingleN: Int, threshold: Double): DataFrame =
    withShingleSets(docs, idCol, textCol, shingleN)(sets =>
      verifyJaccardSets(sets, candidates, idCol, threshold))

  /** Verification against precomputed `(idCol, __set)` shingle sets. */
  private def verifyJaccardSets(sets: DataFrame, candidates: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val withSets = candidates
      .join(sets.withColumnRenamed(idCol, "id1").withColumnRenamed("__set", "__s1"), "id1")
      .join(sets.withColumnRenamed(idCol, "id2").withColumnRenamed("__set", "__s2"), "id2")
    val inter = size(array_intersect(col("__s1"), col("__s2"))).cast("double")
    val union = (size(col("__s1")) + size(col("__s2"))).cast("double") - inter
    withSets.withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → signature → band →
    * bucket-join → exact-Jaccard verify. Shingles once (signatures and the
    * verify join share the cached sets, hashed to longs — see
    * [[wordShingleHashes]]); no cache entries survive. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.8, seed: Long = 42L): DataFrame =
    withShingleSets(docs, idCol, textCol, shingleN, hashed = true) { sets =>
      val sigs = minhashSignaturesFromSets(sets, idCol, k, seed)
      val cands = minhashCandidates(sigs, idCol, k, bands)
      verifyJaccardSets(sets, cands, idCol, threshold)
    }

  // ------------------------------------------------------------- simhash

  // ---- packed bit-count vote lanes (r15, guide §2.3 shuffle fewer bytes
  // + codegen §1.2 per-task work) ----
  //
  // SimHash majority votes via packed bit-count lanes instead of one
  // conditional ±1 sum per bit: for n tokens the per-bit vote sum is
  // v_b = 2·c_b − n where c_b counts tokens with bit b set, so only the
  // 64 bit-counts and n are needed — and three 21-bit counts pack into
  // one long. Accumulator a sums `(h >> a) & (1 | 1<<21 | 1<<42)`, whose
  // three lanes count bits a, a+21, a+42 independently (each addend lane
  // is 0/1, so no carry crosses a lane while every count stays below
  // 2²¹). 64 vote columns collapse to 22 + count(1): the aggregation
  // buffer and the partial-aggregate exchange narrow ~65→23 longs per
  // document, and per-token map work drops from 64 conditional sums to
  // 22 shift-and-mask adds. Exact, not approximate — DedupSpec pins the
  // signatures against the ±1-sum definition and (for the portable
  // variant) an independent driver-side md5 reimplementation.
  //
  // Lane bound: counts ≤ n, so any document under 2²¹ = 2,097,151 tokens
  // (≈ 8 MB of text) is exact by construction; past it the packing
  // RAISES (raise_error) instead of silently corrupting a lane — cap or
  // split pathological documents upstream.
  private val laneMask3: Long = 1L | (1L << 21) | (1L << 42)
  private val laneLimit: Long = 1L << 21

  /** The 22 lane accumulators for one 64-bit hash word. */
  private def laneAggs(h: Column, prefix: String): Seq[Column] =
    (0 until 21).map(a =>
      sum(shiftright(h, a).bitwiseAND(laneMask3)).as(s"$prefix$a")) :+
      sum(shiftright(h, 63).bitwiseAND(1L)).as(s"${prefix}21")

  /** Count of tokens with word-bit `b` set, decoded from the lanes. */
  private def laneCount(prefix: String, b: Int): Column =
    if (b == 63) col(s"${prefix}21")
    else shiftright(col(s"$prefix${b % 21}"), 21 * (b / 21))
      .bitwiseAND(laneLimit - 1L)

  /** Majority-vote pack of word bits [0,64) into one signed long: bit b
    * set iff v_b = 2·c_b − n > 0 (a tie stays 0, exactly as the ±1 sum). */
  private def lanePack(prefix: String, n: Column): Column =
    (0 until 64).map { b =>
      when(laneCount(prefix, b) * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Overflow guard: fail loudly past the 2²¹-token lane bound. */
  private def laneGuard(n: Column, packed: Column): Column =
    when(n < laneLimit, packed).otherwise(raise_error(format_string(
      "simhash: document has %d tokens, over the 2097151-token bit-count" +
        " lane bound; split or cap documents upstream", n)).cast("long"))

  /** 64-bit SimHash of the token multiset: per bit, majority vote of token
    * hashes. Expressed as explode → one groupBy(id) with 22 packed
    * bit-count lane sums (all partial-aggregable — see the lane notes
    * above); the majority decode + bit-pack is a final projection. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Spread.wide: tokenize + the partial lane sums run pre-exchange
    val toks = graft.util.Spread.wide(docs).select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val aggs = laneAggs(col("__h"), "__l") :+ count(lit(1)).as("__n")
    val voted = toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    voted.select(col(idCol),
      laneGuard(col("__n"), lanePack("__l", col("__n"))).as("simhash"))
  }

  /** Chunk boundaries for pigeonhole banding: `nChunks` contiguous chunks
    * covering `totalBits`, widths differing by at most one (the first
    * `totalBits % nChunks` chunks get the extra bit). */
  private[graft] def chunkBounds(totalBits: Int, nChunks: Int): Seq[Int] = {
    val base = totalBits / nChunks
    val rem = totalBits % nChunks
    (0 until nChunks).scanLeft(0)((off, i) => off + base + (if (i < rem) 1 else 0))
  }

  /** Hamming-distance near-dup pairs over SimHashes, banded into
    * `maxDistance + 1` bit-chunks: a pair within Hamming distance d differs
    * in at most d bits, so by pigeonhole at least one of d+1 chunks is
    * identical — the chunk equi-join has FULL recall at the requested
    * distance (no recall cliff), then exact popcount verifies.
    *
    * At large maxDistance the 64-bit chunks narrow (d=10 → 11 chunks of
    * 5-6 bits → 32-64 bucket values → candidate blowup); use
    * [[simhashNearDups128]] there, which keeps chunks ≥ 11 bits at d=10. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3): DataFrame =
    bandedHammingPairs(simhash(docs, idCol, textCol), idCol, maxDistance)

  /** Pigeonhole-banded Hamming near-dup pairs over a precomputed
    * `(idCol, simhash: Long)` signature frame — the banding/verify stage
    * shared by [[simhashNearDups]], [[simhashPortableNearDups]] and the
    * image-hash path ([[graft.multimodal.Multimodal.ahashNearDups]]). */
  private[graft] def bandedHammingPairs(sh: DataFrame, idCol: String,
      maxDistance: Int): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 64,
      s"maxDistance=$maxDistance must be in [0, 63] for 64-bit SimHash banding")
    val nChunks = maxDistance + 1
    val bounds = chunkBounds(64, nChunks)
    val chunks = (0 until nChunks).map { i =>
      val off = bounds(i)
      val w = bounds(i + 1) - off
      val mask = if (w == 64) -1L else (1L << w) - 1L
      struct(lit(i).as("chunk"),
        shiftright(col("simhash"), off).bitwiseAND(mask).as("val")).as(s"__c$i")
    }
    val banded = sh.select(col(idCol), col("simhash"),
        explode(array(chunks: _*)).as("__chunk"))
    val l = banded.select(col("__chunk"), col(idCol).as("id1"), col("simhash").as("sh1"))
    val r = banded.select(col("__chunk"), col(idCol).as("id2"), col("simhash").as("sh2"))
    l.join(r, "__chunk").filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), bit_count(col("sh1").bitwiseXOR(col("sh2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** 128-bit SimHash as two packed longs (lo = bits 0-63, hi = 64-127):
    * the second word's per-token hash is seeded independently. Same
    * explode → one groupBy(id) shape as [[simhash]], two 22-lane
    * bit-count blocks (44 + 1 columns instead of 128), all
    * partial-aggregable. */
  def simhash128(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Spread.wide: tokenize + the partial lane sums run pre-exchange
    val toks = graft.util.Spread.wide(docs).select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("__t"))
      .withColumn("__h0", xxhash64(col("__t")))
      .withColumn("__h1", xxhash64(col("__t"), lit(0x9e3779b97f4a7c15L)))
    val aggs = laneAggs(col("__h0"), "__a") ++ laneAggs(col("__h1"), "__b") :+
      count(lit(1)).as("__n")
    val voted = toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    voted.select(col(idCol),
      laneGuard(col("__n"), lanePack("__a", col("__n"))).as("simhash_lo"),
      laneGuard(col("__n"), lanePack("__b", col("__n"))).as("simhash_hi"))
  }

  /** [[simhashNearDups]] over the 128-bit signature — the honest-at-scale
    * variant for large maxDistance: full-recall pigeonhole banding keeps
    * every chunk ≥ ⌊128/(d+1)⌋ bits (≥ 11 at d=10), so bucket value space
    * stays wide and candidates stay selective where the 64-bit banding
    * degenerates. Chunks may straddle the lo/hi word boundary; the bit
    * extraction recombines the two masked parts. */
  def simhashNearDups128(docs: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 10): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 128,
      s"maxDistance=$maxDistance must be in [0, 127] for 128-bit SimHash banding")
    val sh = simhash128(docs, idCol, textCol)
    val nChunks = maxDistance + 1
    val bounds = chunkBounds(128, nChunks)
    def maskOf(n: Int): Long = if (n >= 64) -1L else (1L << n) - 1L
    // arithmetic shiftright sign-fill is cut off by the width mask
    def bitsAt(off: Int, w: Int): Column =
      if (off + w <= 64) shiftright(col("simhash_lo"), off).bitwiseAND(maskOf(w))
      else if (off >= 64) shiftright(col("simhash_hi"), off - 64).bitwiseAND(maskOf(w))
      else { // straddles: low part from lo, high part from hi, disjoint bits
        val loW = 64 - off
        shiftright(col("simhash_lo"), off).bitwiseAND(maskOf(loW)) +
          shiftleft(col("simhash_hi").bitwiseAND(maskOf(w - loW)), loW)
      }
    val chunks = (0 until nChunks).map { i =>
      struct(lit(i).as("chunk"),
        bitsAt(bounds(i), bounds(i + 1) - bounds(i)).as("val")).as(s"__c$i")
    }
    val banded = sh.select(col(idCol), col("simhash_lo"), col("simhash_hi"),
      explode(array(chunks: _*)).as("__chunk"))
    val l = banded.select(col("__chunk"), col(idCol).as("id1"),
      col("simhash_lo").as("lo1"), col("simhash_hi").as("hi1"))
    val r = banded.select(col("__chunk"), col(idCol).as("id2"),
      col("simhash_lo").as("lo2"), col("simhash_hi").as("hi2"))
    l.join(r, "__chunk").filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (bit_count(col("lo1").bitwiseXOR(col("lo2"))) +
          bit_count(col("hi1").bitwiseXOR(col("hi2")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  // ------------------------------------ portable (md5) hash variants

  /** MinHash+LSH near-dups over a CROSS-ENGINE hash family:
    * h_i(shingle) = the first 16 hex chars of `md5(i ":" shingle)`, minima
    * taken in lexicographic order (≡ numeric order at fixed width), band
    * keys the `"|"`-join of each band's minima. md5 + string minima cost
    * more than [[minhashNearDups]]'s xxhash64/universal-hash family — but
    * every stage is expressible in portable SQL, so the d2c oracle checks
    * the ENTIRE pipeline (shingle → signature → band → bucket join → exact
    * Jaccard verify) value-for-value against an independent engine, which
    * no hash-defined fast path can offer. Same plan shape as the fast
    * path: explode → one groupBy(id) with k partial-aggregable min()s,
    * band equi-join, verify join — the 100 TB story is unchanged. */
  def minhashNearDupsPortable(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    withShingleSets(docs, idCol, textCol, shingleN) { sets =>
      val mins = (0 until k).map { i =>
        min(substring(md5(concat(lit(s"$i:"), col("__sh"))), 1, 16)).as(s"mh_$i")
      }
      val sigs = sets.select(col(idCol), explode(col("__set")).as("__sh"))
        .groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      // band key = the band's minima joined verbatim (no re-hash: a hash
      // collision between UNEQUAL band keys would admit a candidate the
      // SQL restatement does not see — correctness over key width here)
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("|", (b * r until (b + 1) * r).map(i => col(s"mh_$i")): _*)
            .as("key")).as(s"__b$b")
      }
      val banded = sigs.select(col(idCol) +: bandCols: _*)
        .select(col(idCol),
          explode(array((0 until bands).map(b => col(s"__b$b")): _*)).as("__band"))
      val l = banded.select(col("__band"), col(idCol).as("id1"))
      val rt = banded.select(col("__band"), col(idCol).as("id2"))
      val cands = l.join(rt, "__band").filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct()
      verifyJaccardSets(sets, cands, idCol, threshold)
    }
  }

  /** 64-bit SimHash over the same cross-engine hash: per token the first
    * 16 hex chars of md5, each hex digit decoded with `conv`, 64
    * majority-vote bits (bit b lives in hex digit `16 - b/4` — 1-based
    * from the left — at in-digit position `b % 4`; a tie votes 0). Output
    * is `(idCol, simhash: Long)` like [[simhash]]; [[simhashPortableNearDups]]
    * reuses the pigeonhole banding unchanged. Same single
    * explode → groupBy(id) shape — one conv decode per token then the
    * shared 22-lane bit-count sums, all partial-aggregable. */
  def simhashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // The 16 md5 hex digits ARE one 64-bit word: digit j (1-based from
    // the left) carries value bits 4·(16−j)..4·(16−j)+3, i.e. bit b
    // lives in digit 16 − b/4 at in-digit position b % 4 — exactly the
    // layout `conv(prefix16, 16, −10)` produces when decoding the prefix
    // as one signed 64-bit value (two's-complement wrap preserves every
    // bit). The r14 form decoded 16 digit columns then ran 64
    // conditional ±1 sums; one conv plus the shared 22-lane bit-count
    // aggregation yields the same signature bit for bit (pinned by the
    // independent driver-side md5 reimplementation in DedupSpec).
    // Spread.wide: the per-token md5 + partial lane sums run
    // pre-exchange — the family's most expensive map side.
    val toks = graft.util.Spread.wide(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("__t"))
      .withColumn("__h",
        conv(substring(md5(col("__t")), 1, 16), 16, -10).cast("long"))
    val aggs = laneAggs(col("__h"), "__l") :+ count(lit(1)).as("__n")
    val voted = toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    voted.select(col(idCol),
      laneGuard(col("__n"), lanePack("__l", col("__n"))).as("simhash"))
  }

  /** [[simhashNearDups]] on the portable signature: full-recall pigeonhole
    * banding + exact popcount verify, every stage restatable in SQL — the
    * d4d oracle checks banded output ≡ the brute-force all-pairs Hamming
    * join, i.e. it PROVES the pigeonhole banding's full-recall claim on
    * real data rather than asserting it. */
  def simhashPortableNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 4): DataFrame =
    bandedHammingPairs(simhashPortable(docs, idCol, textCol), idCol, maxDistance)

  // ------------------------------------------- n-gram Jaccard (exact)

  /** Exact n-gram Jaccard similarity for all pairs above a threshold, via
    * PPJoin-style prefix filtering (exactness-preserving):
    *
    *  1. one groupBy computes each shingle's document frequency (df);
    *  2. each document indexes only its `|s| - ceil(t*|s|) + 1`
    *     globally-rarest shingles (order by (df, shingle) — any total order
    *     works; rarest-first minimizes candidates). The prefix-filtering
    *     lemma guarantees every pair with J >= t shares at least one shingle
    *     inside BOTH prefixes, so the prefix equi-join yields a superset of
    *     the true result;
    *  3. a length filter (`min_size >= t * max_size`, a necessary condition
    *     for J >= t) prunes further;
    *  4. exact set-Jaccard verification restores exactness.
    *
    * Unlike a naive inverted-index self-join (cost Σ df(shingle)², quadratic
    * in any boilerplate shingle shared corpus-wide), candidate cost here is
    * bounded by the df of each document's rarest shingles — the 100 TB-safe
    * shape. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame =
    withShingleSets(docs, idCol, textCol, n) { sets =>
      ngramJaccardFromSets(sets, idCol, threshold)
    }

  /** Asymmetric containment near-dup join: ordered pairs where at least
    * `threshold` of A's shingles appear in B (`|A∩B| / |A| ≥ τ`) — the
    * quote/subset detector Jaccard misses (a paragraph wholly inside a
    * long page has tiny Jaccard but containment 1). Same PPJoin shape as
    * [[ngramJaccardPairs]], with the prefix filter on the CONTAINED side
    * only (any B covering τ of A must share one of A's `|A| − ⌈τ|A|⌉ + 1`
    * rarest shingles; B joins through the full inverted index since
    * containment puts no upper bound on |B|). Candidates are bounded by
    * per-shingle document frequency, then verified with exact set
    * intersection.
    *
    * @return (id_a, id_b, containment): A's shingles covered by B */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    withShingleSets(docs, idCol, textCol, n) { sets =>
      val inv = sets.select(col(idCol), size(col("__set")).as("__sz"),
        explode(col("__set")).as("__sh"))
      val dfreq = inv.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
      val byRarity = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("__sh"))
      // rank EVERY shingle (not only A's prefix): the B side's rank feeds
      // the positional filter below
      val ranked = inv.join(dfreq, "__sh")
        .withColumn("__rn", row_number().over(byRarity))
      // the 1e-9 slack only ever LENGTHENS the prefix (the d3 device)
      val prefix = ranked
        .filter(col("__rn") <=
          col("__sz") - ceil(lit(threshold) * col("__sz") - lit(1e-9)) + 1)
        .select(col("__sh"), col(idCol).as("id_a"),
          col("__sz").as("__szA"), col("__rn").as("__p"))
      // Positional filter, containment form (the d3 exactness-preserving
      // device adapted to the asymmetric bound |A∩B| ≥ ⌈τ|A|⌉ =: req).
      // Per candidate pair the join hits are exactly prefix(A) ∩ B, so
      // __common counts them ALL; every element of A∩B outside prefix(A)
      // has A-rank > prefix length ≥ any hit's __p, hence (ranks are
      // monotone in the global (df, shingle) order) global order after
      // every hit, hence B-rank > max(__q). Those extras therefore number
      // at most min(|A| − prefixLen_A, |B| − max(__q)) = min(req − 1,
      // |B| − max(__q)), giving |A∩B| ≤ __common + min(req−1, |B|−qmax):
      // pairs whose upper bound misses req are pruned BEFORE the
      // set-verify join — same groupBy shuffle the plain `distinct` paid,
      // no extra exchange. ceil(τ|A| − 1e-9) can only UNDERSTATE req by a
      // float hair, which weakens the prune, never the result. The cheap
      // side condition |B| ≥ req rides the same filter (|A∩B| ≤ |B|).
      val full = ranked.select(col("__sh"), col(idCol).as("id_b"),
        col("__sz").as("__szB"), col("__rn").as("__q"))
      val req = ceil(lit(threshold) * col("__szA") - lit(1e-9))
      val cands = prefix.join(full, "__sh")
        .filter(col("id_a") =!= col("id_b"))
        .groupBy(col("id_a"), col("id_b"), col("__szA"), col("__szB"))
        .agg(count(lit(1)).as("__common"), max(col("__q")).as("__qmax"))
        .filter(col("__szB") >= req &&
          col("__common") + least(req - 1, col("__szB") - col("__qmax")) >= req)
        .select(col("id_a"), col("id_b"))
      val a = sets.select(col(idCol).as("id_a"), col("__set").as("__A"))
      val b = sets.select(col(idCol).as("id_b"), col("__set").as("__B"))
      cands.join(a, "id_a").join(b, "id_b")
        .withColumn("containment",
          size(array_intersect(col("__A"), col("__B"))).cast("double")
            / size(col("__A")))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), col("containment"))
    }
  }

  /** Sorted-neighborhood near-dup blocking (Hernández & Stolfo, SIGMOD'95
    * merge/purge): sort the corpus by a blocking key, pair each record
    * with only its `window` successors in that order, verify candidates
    * by exact shingle Jaccard. The complementary paradigm to the hash
    * families: the candidate budget is EXACTLY n·window by construction —
    * no bucket-size skew, no df² growth on shared shingles — at the cost
    * of recall limited to what the key sorts together (near-dups whose
    * mutation hits the key prefix land apart; run multiple passes with
    * different keys for higher recall, as the paper does).
    *
    * Scale shape: one distributed rank over (key, id) — range sort +
    * zipWithIndex, no single-task window — then explode(1..window) and an
    * equi-join on the shifted rank, then the usual verify join. */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      textCol: String, blockKey: Column, window: Int, shingleN: Int,
      threshold: Double): DataFrame =
    verifyJaccard(docs,
      sortedNeighborhoodCandidates(docs, idCol, blockKey, window),
      idCol, textCol, shingleN, threshold)

  /** The merge/purge candidate pairs alone: each record with its `window`
    * successors in (blockKey, id) order — exactly n·window pairs. */
  private def sortedNeighborhoodCandidates(docs: DataFrame, idCol: String,
      blockKey: Column, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val ranked = graft.functions.DistributedRank.withRank(
      docs.select(col(idCol), blockKey.as("__bk")),
      Seq(col("__bk"), col(idCol)), "__rn")
    ranked
      .select(col(idCol).as("id1"), col("__rn"),
        explode(sequence(lit(1), lit(window))).as("__o"))
      .withColumn("__rn2", col("__rn") + col("__o"))
      .join(ranked.select(col(idCol).as("id2"), col("__rn").as("__rn2")),
        Seq("__rn2"))
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"))
  }

  /** Blocking-strategy audit: [[sortedNeighborhoodPairs]]' blocked pairs
    * measured against [[ngramJaccardPairs]]' exhaustive truth at the same
    * τ, sharing ONE shingle-set build — the sets feed both the PPJoin
    * truth and the candidate verify (composing the two public pipelines
    * builds and caches the corpus's shingle sets twice; the shared build
    * cuts roughly a third of the audit's wall-clock at sf0.1). Recall =
    * blocked∩truth / truth; precision is 1 by construction (every blocked
    * pair is verified at the same bar) — emitted so the audit EXPOSES the
    * invariant rather than assuming it. */
  def blockingRecallAudit(docs: DataFrame, idCol: String, textCol: String,
      blockKey: Column, window: Int, shingleN: Int,
      threshold: Double): DataFrame =
    withShingleSets(docs, idCol, textCol, shingleN) { sets =>
      val truth = ngramJaccardFromSets(sets, idCol, threshold)
        .select(col("id1"), col("id2"), lit(1L).as("in_t"))
      val cand = sortedNeighborhoodCandidates(
        docs.filter(col(textCol).isNotNull), idCol, blockKey, window)
      val blocked = verifyJaccardSets(sets, cand, idCol, threshold)
        .select(col("id1"), col("id2"), lit(1L).as("in_b"))
      truth.join(blocked, Seq("id1", "id2"), "full_outer")
        .agg(sum(coalesce(col("in_t"), lit(0L))).as("n_truth"),
          sum(coalesce(col("in_b"), lit(0L))).as("n_blocked"),
          sum(coalesce(col("in_t"), lit(0L)) * coalesce(col("in_b"), lit(0L)))
            .as("n_hit"))
        .withColumn("recall", round(
          col("n_hit").cast("double") / col("n_truth").cast("double"), 4))
        .withColumn("precision", round(
          col("n_hit").cast("double") / col("n_blocked").cast("double"), 4))
    }

  private def ngramJaccardFromSets(sets: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val inv = sets
      .select(col(idCol), size(col("__set")).as("__sz"), explode(col("__set")).as("__sh"))
    val dfreq = inv.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
    // prefix length |s| - ceil(t*|s|) + 1; the 1e-9 slack only ever LENGTHENS
    // the prefix when t*|s| float-lands a hair above an exact integer, so the
    // candidate superset property is preserved under rounding
    val byRarity = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("__sh"))
    val prefix = inv.join(dfreq, "__sh")
      .withColumn("__rn", row_number().over(byRarity))
      .filter(col("__rn") <= col("__sz") - ceil(lit(threshold) * col("__sz") - lit(1e-9)) + 1)
      .select(col("__sh"), col(idCol), col("__sz"), col("__rn"))
    val l = prefix.select(col("__sh"), col(idCol).as("id1"),
      col("__sz").as("__sz1"), col("__rn").as("__p1"))
    val r = prefix.select(col("__sh"), col(idCol).as("id2"),
      col("__sz").as("__sz2"), col("__rn").as("__p2"))
    // PPJoin positional filter (exactness-preserving): replace the plain
    // `distinct` with a groupBy over the same shuffle that also computes,
    // per candidate pair, the count of shingles shared by BOTH prefixes and
    // the pair's deepest shared position. Among a pair's shared prefix
    // shingles the one LAST in the global (df, shingle) order maximizes the
    // within-document rank in BOTH documents simultaneously (ranks are
    // monotone in the global order), so max(__p1) and max(__p2) are
    // attained by the same shingle s°. Every intersection element ordered
    // before s° lies inside both prefixes (rank < rank of s° ≤ prefix
    // length) and is therefore counted in __common; elements after s°
    // number at most min(|A|−p1(s°), |B|−p2(s°)). Hence
    //   |A∩B| ≤ __common + min(sz1−p1max, sz2−p2max)
    // and J ≥ t requires |A∩B| ≥ t/(1+t)·(sz1+sz2): pairs whose upper
    // bound misses that floor are pruned BEFORE the set-verify join (the
    // measured survivor ratio at sf0.1 was 256 of 309k candidates — the
    // verify join was the pipeline's most expensive stage).
    val minOverlap =
      ceil(lit(threshold / (1 + threshold)) * (col("__sz1") + col("__sz2")) - lit(1e-9))
    val cands = l.join(r, "__sh")
      .filter(col("id1") < col("id2"))
      .filter(least(col("__sz1"), col("__sz2")).cast("double") >=
        greatest(col("__sz1"), col("__sz2")) * lit(threshold) - lit(1e-9))
      .groupBy(col("id1"), col("id2"), col("__sz1"), col("__sz2"))
      .agg(count(lit(1)).as("__common"),
        max(col("__p1")).as("__p1m"), max(col("__p2")).as("__p2m"))
      .filter(col("__common") +
        least(col("__sz1") - col("__p1m"), col("__sz2") - col("__p2m")) >= minOverlap)
      .select(col("id1"), col("id2"))
    verifyJaccardSets(sets, cands, idCol, threshold)
  }

  // ------------------------------------------- near-dup clustering

  /** Connected components by iterative min-label propagation: every vertex
    * converges to the MINIMUM id reachable from it (the canonical cluster
    * representative). Per round one join + one groupBy-min (both
    * partial-aggregating, shuffling only (id, label)), run under the
    * [[graft.util.Checkpoints.fixpoint]] loop contract. Rounds needed =
    * graph diameter; near-dup clusters are shallow (dup cliques), so the
    * default bound is generous. Stops once no label changes; a graph still
    * changing after `maxIter` rounds fails rather than return truncated
    * labels.
    *
    * ONE distributed shuffle per round: the previous label rides through
    * the union as a null-padded `__old` column (each vertex contributes
    * exactly one non-null `__old`, from its own labels row, so
    * `max(__old)` recovers it in the same aggregate that takes
    * `min(comp)`). The stop test's count of changed labels,
    * `comp =!= __old`, is observed on the round's checkpoint job.
    *
    * Adaptive pointer jumping: from the third round on, each round also
    * rewrites `comp ← comp(comp)` (one extra self-join on the fresh label
    * map), doubling the label-propagation horizon per round so long chains
    * converge in O(log diameter) rounds instead of O(diameter). The first
    * two rounds skip the jump: a graph whose min-labels fixpoint within
    * two rounds (the near-dup clique case — measured rounds=2 on the d6/d8
    * corpora) never pays the extra join, while a deep graph reaches any
    * label in ~2 + log₂(diameter) rounds. The jump preserves the
    * invariants (labels only decrease; every label is an id inside the
    * vertex's own component): comp(v) is an in-component vertex c, and
    * c's label is again in-component and ≤ c.
    *
    * @param edges    undirected edge list (src, dst) — symmetrized inside
    * @param vertices one id per row; isolated vertices keep their own id
    * @return (id, component) with component = min id in the component
    */
  def connectedComponents(vertices: DataFrame, idCol: String,
      edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val idType = vertices.schema(vertices.schema.fieldIndex(idCol)).dataType
    val sym = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
      .distinct().localCheckpoint(true)
    graft.util.Checkpoints.fixpoint("Dedup.connectedComponents",
        vertices.select(col(idCol).as("a"), col(idCol).as("comp")), maxIter, Seq(sym),
        metric = Some(_ => count_if(col("comp") =!= col("__old"))), done = _ == 0L,
        mustConverge = true) { (prev, round) =>
      val labels = prev.select(col("a"), col("comp"))
      // candidate label for each vertex: min of its own and neighbors'.
      // Neighbor rows carry a null __old; the vertex's own row carries its
      // current label, so one groupBy yields both the new and old label.
      val fromNbr = sym
        .join(labels.select(col("a").as("b"), col("comp").as("__nc")), "b")
        .select(col("a"), col("__nc").as("comp"),
          lit(null).cast(idType).as("__old"))
      val hooked = labels.select(col("a"), col("comp"), col("comp").as("__old"))
        .unionAll(fromNbr)
        .groupBy(col("a")).agg(min(col("comp")).as("comp"),
          max(col("__old")).as("__old"))
      // pointer jump (round 3 on): comp ← comp(comp). Every comp value is
      // itself a vertex id present in `hooked`, so the self-join is total;
      // __old rides through untouched for the stop test.
      if (round <= 2) hooked
      else hooked.join(
          hooked.select(col("a").as("comp"), col("comp").as("__cc")), "comp")
        .select(col("a"), col("__cc").as("comp"), col("__old"))
    }.select(col("a").as(idCol), col("comp").as("component"))
  }

  /** Near-dup CLUSTERS: collapse pairwise near-dup matches into
    * components and assign every document its canonical representative
    * (minimum doc id in the cluster; singletons represent themselves) —
    * what a training-data pipeline actually needs after pair generation:
    * keep one doc per cluster, drop the rest. */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame =
    connectedComponents(docs.select(col(idCol)), idCol,
      pairs.select(col("id1").as("src"), col("id2").as("dst")), maxIter)
      .withColumnRenamed("component", "rep")

  /** Completes the dedup pipeline: given [[dupClusters]] output
    * (id, rep), pick the one document to KEEP per cluster by a quality
    * column (highest quality wins, ties to the lowest id — a policy
    * choice, unlike the structural min-id `rep` label) and report
    * cluster size. One join + one (rank, count) window pair sharing a
    * single shuffle on `rep`; clusters are duplicate groups, so
    * partitions are small by construction — no skew hazard.
    * Output: (cluster_id, keep_id, keep_quality, n_members). */
  def canonicalPick(clusters: DataFrame, docs: DataFrame, idCol: String,
      qualityCol: String): DataFrame = {
    val joined = clusters.join(
      docs.select(col(idCol), col(qualityCol)), idCol)
    val byCluster = Window.partitionBy(col("rep"))
    val rank = byCluster.orderBy(col(qualityCol).desc, col(idCol))
    joined
      .withColumn("__rn", row_number().over(rank))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("__rn") === 1)
      .select(col("rep").as("cluster_id"), col(idCol).as("keep_id"),
        col(qualityCol).as("keep_quality"), col("n_members"))
  }

  // ------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup pairs: LSH-bucketed then exact cosine
    * verify — the embedding analogue of MinHash+verify.
    *
    * Recall amplification (`nTables` > 1): one hyperplane signature is an
    * AND over nPlanes sign bits, so recall at a fixed threshold falls
    * geometrically with nPlanes and is NOT tunable independently of
    * precision. Running L independent signature tables and OR-ing their
    * candidate sets (exactly MinHash's banding trick) makes recall
    * `1 - (1 - p^nPlanes)^L`, tunable via L, while the exact-cosine verify
    * keeps precision at 1. Candidates are deduped across tables BEFORE the
    * verify join so each pair's cosine is computed once. */
  def embeddingNearDups(data: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nPlanes: Int = 12, seed: Long = 42L,
      nTables: Int = 1): DataFrame = {
    require(nTables >= 1, "need at least one signature table")
    // signature per table: distinct seeds derive independent hyperplanes
    val buckets = (0 until nTables).map { t =>
      struct(lit(t).as("table"),
        Similarity.lshSignature(col(vecCol), nPlanes, dim, seed + 1000L * t).as("sig"))
        .as(s"__b$t")
    }
    val banded = data.select(col(idCol) +: buckets: _*)
      .select(col(idCol),
        explode(array((0 until nTables).map(t => col(s"__b$t")): _*)).as("__bucket"))
    val l = banded.select(col("__bucket"), col(idCol).as("id1"))
    val r = banded.select(col("__bucket"), col(idCol).as("id2"))
    val cands = l.join(r, "__bucket").filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    // normalize each vector once; per-pair cosine is then a single dot fold.
    // Zero-norm vectors are excluded: their unit form is all-NaN, and Spark
    // orders NaN above every number, so `NaN >= threshold` would PASS the
    // verify filter and emit cos=NaN pairs. Cosine to a zero vector is
    // undefined; such rows simply produce no pairs.
    val units = data.select(col(idCol),
        col(vecCol), Similarity.norm(col(vecCol)).as("__n"))
      .filter(col("__n") > 0)
      .select(col(idCol), Similarity.unit(col(vecCol), col("__n")).as("__u"))
    cands
      .join(units.select(col(idCol).as("id1"), col("__u").as("__v1")), "id1")
      .join(units.select(col(idCol).as("id2"), col("__u").as("__v2")), "id2")
      .withColumn("cos", Similarity.dot(col("__v1"), col("__v2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space with the IVF
    * trainer's deterministic Lloyd centroids ([[graft.similarity.Ivf]]),
    * generate candidate pairs WITHIN cells only, and drop every vector
    * that has a smaller-id neighbor above the cosine threshold in its
    * cell — the one-pass keep-min-id contract (keep(i) ⟺ no j<i in i's
    * cell with cos(i,j) ≥ τ), deterministic under any partitioning.
    *
    * Scale shape: pair generation is bounded per cell (n/nCells expected
    * members — the SemDeDup device exists precisely because global
    * all-pairs is impossible at 100 TB), the centroid table is a tiny
    * driver-side artifact shipped as literals (the IVF pattern), and the
    * verify dot products stay in codegen. At nCells = 1 the operator
    * provably degenerates to the exact global threshold prune — the
    * oracle anchor (sem1b). Zero-norm vectors never pair (they are
    * filtered from the pair join — see the in-body note) and are kept.
    *
    * Cell-size bound (`maxCellSize > 0`): the within-cell pair join is
    * O(cell²), and nCells is caller-fixed — under real embedding skew
    * (clusters are Zipfian) one hot cell can go quadratic. With a bound,
    * any cell larger than `maxCellSize` is recursively re-clustered
    * (sub-Lloyd on the hot cell's own rows, the IVF device) into
    * `ceil(size/maxCellSize)` sub-cells, to a fixed depth of 4; pairs are
    * then generated within final sub-cells only. This trades recall at
    * sub-cell boundaries for a hard quadratic bound — the standard
    * SemDeDup tradeoff, just applied recursively. Degenerate data (one
    * point repeated > maxCellSize times) cannot be split by ANY
    * partitioner; the depth cap makes that terminate rather than loop,
    * and such a cell stays hot (its pairs are all true dups anyway).
    * `maxCellSize = 0` (default) disables splitting — the sem1b anchor
    * (nCells = 1 ≡ exact global prune) holds only in this mode.
    *
    * @return (id, keep) for every input row */
  def semanticDedup(data: DataFrame, idCol: String, vecCol: String,
      nCells: Int, threshold: Double, iters: Int = 3,
      maxCellSize: Int = 0): DataFrame = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(maxCellSize >= 0, s"maxCellSize must be >= 0, got $maxCellSize")
    val celled = boundedCells(data.select(col(idCol), col(vecCol)),
      idCol, vecCol, nCells, iters, maxCellSize)
    // Zero-norm rows are EXCLUDED from the pair join, not merely expected
    // to fail the threshold: unit() of a zero vector is all-NaN, dot of a
    // NaN vector is NaN, and Spark orders NaN GREATER than every number —
    // so `NaN >= threshold` is TRUE and an unguarded zero vector would
    // pair with every cellmate. Filtered out here, such rows can never
    // appear in `dropped` and fall through the final left join as keep.
    val units = celled.select(col(idCol), col("__cell"),
        Similarity.norm(col(vecCol)).as("__n"), col(vecCol))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__cell"),
        Similarity.unit(col(vecCol), col("__n")).as("__u"))
    val l = units.select(col("__cell"), col(idCol).as("__id1"), col("__u").as("__v1"))
    val r = units.select(col("__cell"), col(idCol).as("__id2"), col("__u").as("__v2"))
    val dropped = l.join(r, "__cell")
      .filter(col("__id1") < col("__id2"))
      .filter(Similarity.dot(col("__v1"), col("__v2")) >= threshold)
      .select(col("__id2").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    data.select(col(idCol)).join(dropped, Seq(idCol), "left")
      .select(col(idCol), coalesce(!col("__dup"), lit(true)).as("keep"))
  }

  /** Cell assignment with the recursive hot-cell split described on
    * [[semanticDedup]]: returns (idCol, vecCol, __cell) where __cell is a
    * string path ("3", "3/1", …) — the root Lloyd cell id, then one
    * segment per split level. Deterministic: root centroids and every
    * sub-Lloyd use the id-ordered deterministic init
    * ([[graft.similarity.Ivf.trainCentroids]]), so the tree of cells is a
    * pure function of the data. Each level re-clusters ONLY the cells
    * still above the bound (expected few — skew is the premise), with the
    * sub-cell count sized ceil(size/maxCellSize) (floor 2, cap 64).
    * Package-private so DedupSpec can assert the post-split bound. */
  private[graft] def boundedCells(data: DataFrame, idCol: String,
      vecCol: String, nCells: Int, iters: Int, maxCellSize: Int): DataFrame = {
    val cents = graft.similarity.Ivf.trainCentroids(data, idCol, vecCol, nCells, iters)
    var celled = graft.similarity.Ivf.withCell(data, vecCol, cents)
      .withColumn("__cell", col("__cell").cast("string"))
    if (maxCellSize > 0) {
      val maxDepth = 4
      var depth = 0
      var hot: Array[(String, Long)] = celled.groupBy(col("__cell")).count()
        .filter(col("count") > maxCellSize)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      while (hot.nonEmpty && depth < maxDepth) {
        val hotPaths = hot.map(_._1).toSeq
        val cool = celled.filter(!col("__cell").isin(hotPaths: _*))
        val resplit = hot.toSeq.map { case (path, size) =>
          // materialize the hot-cell fragment ONCE: the sub-Lloyd scans
          // it 1 + iters times (count + assign/mean passes) and the
          // final assignment once more — without the checkpoint each of
          // those re-executes the whole upstream filter/union lineage of
          // every previous level. Fragment size is bounded (it IS the
          // oversized cell), and the localCheckpoint fault-tolerance
          // tradeoff documented on DistributedRank.withRank applies.
          val rows = celled.filter(col("__cell") === path).drop("__cell")
            .localCheckpoint(true)
          val sub = math.max(2,
            math.min(64, math.ceil(size.toDouble / maxCellSize).toInt))
          val subCents =
            graft.similarity.Ivf.trainCentroids(rows, idCol, vecCol, sub, iters)
          graft.similarity.Ivf.withCell(rows, vecCol, subCents)
            .withColumn("__cell",
              concat_ws("/", lit(path), col("__cell").cast("string")))
        }
        celled = (cool +: resplit).reduce(_.unionByName(_))
        // a sub-Lloyd can fail to separate (e.g. one point repeated
        // beyond the bound — no partitioner can split it): the depth cap
        // turns that from an infinite loop into a documented residual
        depth += 1
        hot = celled.groupBy(col("__cell")).count()
          .filter(col("count") > maxCellSize)
          .collect().map(r => (r.getString(0), r.getLong(1)))
      }
    }
    celled
  }

  /** Bloom-prefiltered incremental dedup — the 100 TB shape of the
    * fingerprint anti-join: build ONE Bloom sketch over the historical
    * fingerprint set (a treeAggregate; the sketch is a reusable artifact —
    * at scale, build it once per ingest epoch, not per batch), probe each
    * incoming row with a codegen bit test
    * ([[graft.functions.BloomMightContain]]), and send ONLY the maybe-dup
    * rows through the exact anti-join. No false negatives, so the output
    * is bit-identical to a plain `left_anti` — but the join's shuffle
    * carries ~(dups + fpp·new) rows instead of the whole incoming batch,
    * and definite-new rows never leave their scan stage.
    *
    * NULL fingerprints are genuinely new (NULL never equals a history
    * key): they bypass the probe and are kept, matching `left_anti`
    * null-key semantics. `expectedItems <= 0` counts the history first
    * (one extra cheap pass; pass the known cardinality to skip it). */
  def incrementalDedupBloom(incoming: DataFrame, history: DataFrame,
      fpCol: String, expectedItems: Long = 0L, fpp: Double = 0.03): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val n = if (expectedItems > 0) expectedItems
      else math.max(history.count(), 1L)
    val bloom = history.stat.bloomFilter(fpCol, n, fpp)
    val probe = graft.functions.BloomMightContain.probe(col(fpCol), bloom)
    val definiteNew = incoming.filter(col(fpCol).isNull || !probe)
    val maybeDup = incoming.filter(probe)
      .join(history.select(col(fpCol)).distinct(), Seq(fpCol), "left_anti")
    definiteNew.unionByName(maybeDup)
  }

  // --------------------------------------- repeated spans (substring dedup)

  /** POSITIONAL word n-grams — one entry per start position, duplicates
    * kept (unlike [[wordShingles]], which is the distinct SET form for
    * Jaccard). Docs shorter than `n` tokens contribute no spans. */
  private[graft] def positionalGrams(c: Column, n: Int): Column = {
    val toks = split(lower(trim(c)), "\\s+")
    val count = size(toks) - (n - 1)
    when(count <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), count), i =>
        concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Substring-level (span) duplication profile — the exact-substring-dedup
    * measurement from "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al., ACL 2022) restated at word-n-gram granularity:
    * a span (a start position's n-gram) is DUPLICATED when the same n-gram
    * occurs anywhere else in the corpus (another doc, or another position
    * of the same doc). Output per doc: `n_spans`, `n_dup_spans`,
    * `dup_ratio` (rounded 4dp) — the per-document figure a span-removal or
    * doc-drop policy thresholds on. Docs with fewer than `n` tokens emit
    * no row (they have no spans).
    *
    * Scale shape: explode is map-side; the (id, gram) pre-aggregate makes
    * the gram-partitioned window input one row per doc-gram (combiner
    * bounded), and the window is PARTITIONED by gram — no funnel. The
    * widest shuffled key is the n-gram string itself; `hashGrams = true`
    * swaps it for `xxhash64(gram)` before anything shuffles — ~25-byte
    * string keys become 8-byte longs, the 100 TB default (counts equal
    * the string form up to 64-bit collisions, odds |grams|²/2⁶⁴; the
    * oracle-checked registry form keeps strings exact). */
  def repeatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, hashGrams: Boolean = false): DataFrame = {
    val grams = positionalGrams(col(textCol), n)
    // Spread.wide: the positional-gram build + explode run pre-exchange
    val keyed = graft.util.Spread.wide(docs).select(col(idCol),
      explode(if (hashGrams) transform(grams, g => xxhash64(g)) else grams)
        .as("__gram"))
    val perDocGram = keyed
      .groupBy(col(idCol), col("__gram")).agg(count(lit(1)).as("__c"))
    val corpusTotal = sum(col("__c")).over(Window.partitionBy(col("__gram")))
    perDocGram.withColumn("__ct", corpusTotal)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_spans"),
        sum(when(col("__ct") > 1, col("__c")).otherwise(lit(0L))).as("n_dup_spans"))
      .withColumn("dup_ratio",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
  }

  /** Repeated-span REMOVAL — the apply side of [[repeatedSpanStats]]
    * (Lee et al. 2022's dedup applied, not just measured): every n-gram
    * instance that is NOT the corpus-first occurrence of its gram (first =
    * minimum (doc, position) in the gram's window) has its n-token range
    * removed; surviving tokens reassemble in order. First occurrences
    * always survive, so shared boilerplate keeps exactly one copy
    * corpus-wide. Docs shorter than `n` tokens pass through untouched.
    * Gram identity is case-normalized (lower), reconstruction keeps the
    * original-case tokens (positions align — lowercasing never changes
    * whitespace).
    *
    * Scale shape: one gram-partitioned window (deterministic
    * (doc, pos) total order inside each gram), then the removal ranges
    * explode to at most n × (duplicated instances) token positions —
    * proportional to the duplication actually found, never to corpus
    * size — and the anti-join back to tokens is an equi-join on
    * (doc, position).
    *
    * Output: (id, n_tokens, n_removed, text_clean). */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    // Spark's split of a trimmed EMPTY string yields [""], which would
    // report n_tokens=1 for a blank document (inconsistent with
    // TextAnalysis.tokenCount's 0) and leave its phantom empty token in
    // the n_removed arithmetic. Dropping empty tokens is a no-op for any
    // non-blank trimmed text (\s+ splitting produces none) and zeroes the
    // blank-doc case; positions still align with positionalGrams' split
    // (identical arrays whenever grams exist at all).
    val toksOrig = filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")
    // Spread.wide: both explodes (grams, tokens) run pre-exchange; the
    // same spread frame feeds both so only one spreading shuffle is paid
    val spread = graft.util.Spread.wide(docs)
    val inst = spread.select(col(idCol),
      posexplode(positionalGrams(col(textCol), n)).as(Seq("__p", "__g")))
    val firstW = Window.partitionBy(col("__g")).orderBy(col(idCol), col("__p"))
    val marked = inst.withColumn("__rn", row_number().over(firstW))
      .filter(col("__rn") >= 2)
      .select(col(idCol),
        explode(sequence(col("__p"), col("__p") + lit(n - 1))).as("__tp"))
      .distinct()
    val toks = spread.select(col(idCol),
      posexplode(toksOrig).as(Seq("__tp", "__tok")))
    val agg = toks.join(marked, Seq(idCol, "__tp"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__tp"), col("__tok")))),
          e => e.getField("__tok"))).as("text_clean"))
    docs.select(col(idCol), size(toksOrig).cast("long").as("n_tokens"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** The `k` most-repeated n-grams corpus-wide (occurrences > 1), with
    * occurrence and containing-doc counts — the boilerplate/template
    * report that guides span-removal thresholds. Deterministic total
    * order (n_occ desc, gram) before the cut; `orderBy + limit` compiles
    * to TakeOrderedAndProject (per-partition heaps + driver merge of k),
    * never a global sort. */
  def topRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, k: Int = 20): DataFrame =
    // Spread.wide: gram build + explode + partial counts run pre-exchange
    graft.util.Spread.wide(docs)
      .select(col(idCol), explode(positionalGrams(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"), count_distinct(col(idCol)).as("n_docs"))
      .filter(col("n_occ") > 1)
      .orderBy(desc("n_occ"), col("gram"))
      .limit(k)
}
