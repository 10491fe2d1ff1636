package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Pinned outputs of the fixture database (perfbench/data/sf0.01): the
  * four FK-connected core tables (3 FKs, 6 directed edge types with the
  * reverse edges) and the 500-document corpus. */
object Expected {
  val TableRows: Map[String, Long] = Map("region" -> 5L, "nation" -> 25L,
    "customer" -> 1500L, "orders" -> 15000L, "documents" -> 500L)
  val NodeRows = 16530L
  val EdgeRows = 33050L
  // pairs, kept clusters, kept after the repetition filter, top-k terms
  val Corpus = Seq(25L, 476L, 199L, 995L)

  def resource(name: String): String = new String(Files.readAllBytes(
    Paths.get(sys.props("perfbench.expected"), name)), StandardCharsets.UTF_8)
}

/** Benchmark main. Usage:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <dir> --out <dir>
  * }}}
  * Prints one environment line, then the result JSON as the last line.
  *
  * Phases: set-up runs `SetupReps` times, each in a fresh SparkSession
  * (setup_s is their median plus the warm-up); warm-up runs at least 3 ops,
  * then until an op is no longer more than 10% faster than the one before;
  * timed ops run for `--seconds`, at least 3. With `--trace 1` timed ops
  * alternate untraced and traced, per-layer metrics come from the traced
  * ones and the spans are written to `--out`. */
object Main {
  private val SetupReps = 3
  // the first op of a fresh JVM runs 2-3x slow (class loading, codegen, JIT)
  // and the second is still 10-20% off, so the steadiness test starts at 3
  private val MinWarm = 3
  private val MaxWarm = 5
  // a median of two is their mean: one straggler would move it
  private val MinTimed = 3

  def session(cpus: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop everything an op left in the block manager, except the set-up
    * state's own frames (`keep` RDD ids): cached tables, persisted RDDs and
    * local checkpoints, so a later op does not inherit block-manager
    * pressure; then two GCs (graft.Bench's between-query sweep: the first
    * only enqueues the cleaners of Spark's direct buffers). Without them
    * an op absorbs its predecessors' collections and op times wander. */
  def release(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
    System.gc()
    System.gc()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Probes in the style of graft.Bench: a CPU+shuffle plan and a disk
    * persist/read-back, one pass each, seconds. Informational. */
  private def probes(spark: SparkSession): (Double, Double) = {
    val t0 = System.nanoTime()
    spark.range(1L << 20)
      .selectExpr("pmod(hash(id), 1000) AS k", "cast(hash(id, 7) AS double) AS v")
      .groupBy("k").agg("v" -> "sum").sort("k").selectExpr("sum(hash(k))").collect()
    val cpu = (System.nanoTime() - t0) / 1e9
    val df = spark.range(1L << 18).selectExpr("id", "cast(hash(id) AS double) AS v")
      .persist(StorageLevel.DISK_ONLY)
    val t1 = System.nanoTime()
    df.count()
    df.selectExpr("sum(hash(id, 3))").collect()
    val io = (System.nanoTime() - t1) / 1e9
    df.unpersist(true)
    (cpu, io)
  }

  private def num(v: Double): String = java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val load0 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = opts("data")
    val out = opts("out")
    val cpus = Runtime.getRuntime.availableProcessors()

    var attempted = 0
    var failed = 0
    def count(phase: String)(body: => Boolean): Unit = {
      val ok = try body catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $phase failed: $e")
          false
      }
      attempted += 1
      if (!ok) failed += 1
    }

    // ---- set-up: fresh session + workload state, SetupReps times; each
    // rep's output check counts as one attempted operation
    var spark: SparkSession = null
    var tr: Tracer = null
    var wl: Workload = null
    val tracers = mutable.ArrayBuffer.empty[Tracer]
    val setupTimes = (0 until SetupReps).map { i =>
      val s0 = if (i == 0) t0 else System.nanoTime()
      if (spark != null) { tr.stop(); spark.stop() }
      spark = session(cpus, out)
      tr = new Tracer(spark.sparkContext)
      tracers += tr
      if (traced) tr.start()
      tr.setPhase(s"setup-$i")
      wl = Workload(name)
      val ctx = Ctx(spark, tr, dir, seed)
      count(s"setup-$i")(tr.span("bench", s"setup-$i")(wl.setup(ctx)))
      (System.nanoTime() - s0) / 1e9
    }
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet

    def runOp(k: Int, phase: String): Double = {
      tr.setPhase(phase)
      val s0 = System.nanoTime()
      count(phase)(tr.span("bench", phase)(wl.op(k)))
      val dt = (System.nanoTime() - s0) / 1e9
      release(spark, keep)
      dt
    }

    // ---- warm-up: at least MinWarm ops, then until an op is no longer
    // more than 10% faster than the one before
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < MinWarm ||
        (warm.size < MaxWarm && warm.last < 0.9 * warm(warm.size - 2))) {
      warm += runOp(-1 - warm.size, s"warmup-${warm.size}")
    }
    val setupS = median(setupTimes) + (System.nanoTime() - w0) / 1e9
    tr.stop()

    // ---- timed ops; traced runs alternate untraced and traced ops
    val poller = new MemoryPoller(spark.sparkContext)
    val gc0 = Tracer.gcSeconds()
    if (traced) poller.start()
    val plain = mutable.ArrayBuffer.empty[Double]
    val withTrace = mutable.ArrayBuffer.empty[Double]
    var gcTraced = 0.0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (k < MinTimed || System.nanoTime() < end) {
      if (traced && k % 2 == 1) {
        tr.start()
        val g = Tracer.gcSeconds()
        withTrace += runOp(k, s"op-$k")
        gcTraced += Tracer.gcSeconds() - g
        tr.stop()
      } else plain += runOp(k, s"op-$k")
      k += 1
    }
    poller.stop()
    val gcS = Tracer.gcSeconds() - gc0

    // ---- deferred output checks, environment probes
    if (traced) tr.start()
    tr.setPhase("check")
    val deferredFailures = try tr.span("bench", "check")(wl.check()) catch {
      case e: Exception => System.err.println(s"[perfbench] check failed: $e"); k
    }
    failed += deferredFailures
    val (cpuProbe, ioProbe) = tr.span("bench", "probes") { probes(spark) }
    tr.stop()
    val load1 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val unattributed = tracers.map(_.unattributedJobs).sum
    val attributed = tracers.map(_.attributedJobs).sum
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(("setup_s", setupS, "s"), ("op_p50_ms", median(plain.toSeq) * 1000, "ms"))
      else {
        val spans = tracers.last.spans
        val setupSpans = spans.filter(_.run == s"setup-${SetupReps - 1}")
        val opSpans = spans.filter(_.run.startsWith("op-"))
        val nOps = withTrace.size
        val layer = LayerStats.metrics(setupSpans, opSpans, nOps, Expected.TableRows)
        def perOp(l: String) = opSpans.filter(_.layer == l).map(_.jobs).sum.toDouble / nOps
        val stages = opSpans.map(_.stages).sum
        val skipped = opSpans.map(_.stagesSkipped).sum
        val mb = 1048576.0
        writeSpans(s"$out/trace/$name-seed$seed.jsonl", tracers.toSeq, t0)
        layer ++ Seq(
          ("sample.jobs_per_request", perOp("sample"), "count"),
          ("pipeline.jobs_per_step", perOp("pipeline"), "count"),
          ("spark.stages_skipped_frac", if (stages == 0) 0.0 else skipped.toDouble / stages, "ratio"),
          ("jvm.gc_s", gcTraced / nOps, "s"),
          ("spark.storage_peak_mb", poller.storagePeak / mb, "MB"),
          ("jvm.heap_peak_mb", poller.heapPeak / mb, "MB"),
          ("trace.overhead_frac", median(withTrace.toSeq) / median(plain.toSeq) - 1, "ratio"),
          ("trace.unattributed_jobs", unattributed.toDouble, "count"))
      }

    val env = Seq("workload" -> s""""$name"""", "nproc" -> cpus.toString,
      "load_avg_start" -> num(load0), "load_avg_end" -> num(load1),
      "cpu_probe_s" -> num(cpuProbe), "io_probe_s" -> num(ioProbe), "gc_s" -> num(gcS),
      "setup_reps_s" -> setupTimes.map(num).mkString("[", ", ", "]"),
      "warmup_ops_s" -> warm.map(num).mkString("[", ", ", "]"),
      "untraced_ops_s" -> plain.map(num).mkString("[", ", ", "]"),
      "traced_ops_s" -> withTrace.map(num).mkString("[", ", ", "]"),
      "jobs_attributed" -> attributed.toString)
    System.out.println(env.map { case (k, v) => s""""$k": $v""" }.mkString("""{"env": {""", ", ", "}}"))
    val correct = failed == 0 && (!traced || unattributed == 0)
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    System.out.println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def writeSpans(path: String, tracers: Seq[Tracer], t0: Long): Unit = {
    def ms(ns: Long) = num((ns - t0) / 1e6)
    val lines = tracers.flatMap(_.spans).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", "name": "${s.name}", """ +
        s""""run": "${s.run}", "start_ms": ${ms(s.start)}, "end_ms": ${ms(s.end)}, """ +
        s""""tables": ${s.tables.map(t => s""""$t"""").mkString("[", ", ", "]")}, """ +
        s""""jobs": ${s.jobs}, "stages": ${s.stages}, "stages_skipped": ${s.stagesSkipped}, """ +
        s""""task_ms": ${s.taskMs}, "shuffle_bytes": ${s.shuffleBytes}, """ +
        s""""spill_bytes": ${s.spillBytes}, "records_read": ${s.recordsRead}}"""
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
