package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into a program layer, opened and closed by the
  * benchmark around the public function it times. Times are
  * `System.nanoTime`; `run` names the phase (`setup-<i>`, `warmup-<i>`,
  * `op-<i>`, `check`). `tables` are the tables the call consumes: the
  * denominator of the layer's scan amplification. */
final class Span(val id: Long, val parent: Long, val layer: String,
    val name: String, val run: String, val tables: Seq[String],
    val start: Long) {
  @volatile var end: Long = -1L
  // Spark work attributed to this span through its local property; written
  // by the listener thread, read after the bus has drained
  var jobs = 0
  var stages = 0
  var stagesSkipped = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Span recorder plus the SparkListener that attributes jobs, stages,
  * tasks and bytes to spans.
  *
  * Attribution rides on a Spark local property set while a span is open.
  * Local properties are inherited by threads created inside the span, so
  * jobs submitted from a pool the call creates (the analyzer's concurrent
  * stats pre-pass) and from Spark's own broadcast/subquery threads carry
  * the span too. A job that arrives without the property while tracing is
  * on is counted in `unattributed`: the self-test requires zero.
  *
  * Spans are opened from the benchmark's main thread only, so the open-span
  * stack needs no locking; the listener's maps are touched only from the
  * listener-bus thread and read after [[stop]] has drained the bus. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Key

  @volatile private var on = false
  private var stack: List[Span] = Nil
  private var phase = "setup-0"
  private val spansById = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val order = mutable.ArrayBuffer.empty[Span]

  // listener-thread state
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val jobRan = mutable.Map.empty[Int, mutable.Set[Int]]
  private val stageSpan = mutable.Map.empty[Int, Span]
  @volatile var unattributedJobs = 0
  @volatile var attributedJobs = 0

  /** Listener events carry wall-clock millis; spans use nanoTime. */
  private val nanoOffset: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def evNanos(ms: Long): Long = ms * 1000000L - nanoOffset

  /** Start recording: register the listener and open spans from now on. */
  def start(): Unit = if (!on) { sc.addSparkListener(this); on = true }

  /** Stop recording: deliver pending events, then detach the listener, so
    * an untraced rep pays none of the tracing cost. */
  def stop(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    on = false
  }

  def setPhase(p: String): Unit = phase = p

  def span[A](layer: String, name: String, tables: Seq[String] = Nil)(body: => A): A = {
    if (!on) return body
    val s = new Span(Tracer.ids.incrementAndGet(), stack.headOption.fold(0L)(_.id), layer,
      name, phase, tables, System.nanoTime())
    spansById.put(s.id, s)
    order += s
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    stack = s :: stack
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  def spans: Seq[Span] = order.toSeq

  private def spanOf(props: Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Key)))
      .flatMap(id => Option(spansById.get(id.toLong)))

  override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties) match {
    case Some(s) =>
      attributedJobs += 1
      s.jobs += 1
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = evNanos(e.time)
      jobStages(e.jobId) = e.stageIds
      jobRan(e.jobId) = mutable.Set.empty
    case None => unattributedJobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    spanOf(e.properties).foreach(s => stageSpan(id) = s)
    jobRan.foreach { case (j, ran) => if (jobStages(j).contains(id)) ran += id }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobSpan.remove(e.jobId).foreach { s =>
    val stages = jobStages.remove(e.jobId).getOrElse(Nil)
    val ran = jobRan.remove(e.jobId).getOrElse(mutable.Set.empty[Int])
    s.stages += stages.size
    // a stage of the job that never ran was skipped: its shuffle output
    // already existed from an earlier job
    s.stagesSkipped += stages.count(st => !ran.contains(st))
    s.jobIntervals += ((jobStart.remove(e.jobId).getOrElse(evNanos(e.time)), evNanos(e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stageSpan.get(e.stageId).foreach { s =>
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Span ids stay unique across the sessions of one run. */
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Cumulative JVM GC seconds across all collectors. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}

/** Samples block-manager storage and JVM heap use every 20 ms while traced
  * reps run; memory is reported, never gated. */
final class MemoryPoller(sc: SparkContext) {
  @volatile private var running = false
  @volatile var storagePeak = 0L
  @volatile var heapPeak = 0L
  private var thread: Thread = _

  private def sample(): Unit = {
    val storage = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (storage > storagePeak) storagePeak = storage
    if (heap > heapPeak) heapPeak = heap
  }

  def start(): Unit = {
    running = true
    thread = new Thread(() => while (running) { sample(); Thread.sleep(20) }, "perfbench-memory")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = if (thread != null) { running = false; thread.join(); thread = null }
}

/** Per-layer roll-up of the spans recorded in timed ops. */
object LayerStats {
  val Layers = Seq("catalog", "analyze", "graph", "convert", "sample", "pipeline", "dedup", "text")

  /** Total length of the union of `xs` clipped to [lo, hi]. */
  private def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The span's own intervals: [start, end] minus its children's spans. */
  private def selfIntervals(s: Span, children: Seq[Span]): Seq[(Long, Long)] = {
    val cs = children.map(c => (c.start, c.end)).sortBy(_._1)
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var cur = s.start
    cs.foreach { case (a, b) =>
      if (a > cur) out += ((cur, math.min(a, s.end)))
      cur = math.max(cur, b)
    }
    if (s.end > cur) out += ((cur, s.end))
    out.toSeq
  }

  /** Seconds of span self time, and of self time no job of the span
    * covers (driver-side planning, collects and loops). */
  def selfAndDriver(s: Span, children: Seq[Span]): (Double, Double) = {
    val own = selfIntervals(s, children)
    val self = own.map { case (a, b) => b - a }.sum
    val busy = own.map { case (a, b) => covered(s.jobIntervals.toSeq, a, b) }.sum
    (self / 1e9, (self - busy) / 1e9)
  }

  /** Per-layer metrics of one set-up plus one timed op: the final set-up
    * rep's spans count once, timed-op spans are averaged over `nOps`.
    * A layer that runs only in set-up (analyze, graph, convert on
    * gnn_train) or only in ops thus reports its cost per unit of that phase.
    * @param rows table -> row count, for the scan-amplification denominator */
  def metrics(setup: Seq[Span], ops: Seq[Span], nOps: Int,
      rows: Map[String, Long]): Seq[(String, Double, String)] = {
    val all = setup ++ ops
    val children = all.groupBy(_.parent)
    def sum(layer: String)(f: Span => Double): Double =
      setup.filter(_.layer == layer).map(f).sum + ops.filter(_.layer == layer).map(f).sum / nOps
    Layers.flatMap { layer =>
      val sd = all.filter(_.layer == layer).map(s => s.id -> selfAndDriver(s, children.getOrElse(s.id, Nil))).toMap
      val ls = all.filter(_.layer == layer)
      val consumed = ls.map(_.tables.map(t => rows.getOrElse(t, 0L)).sum).sum
      val read = ls.map(_.recordsRead).sum
      Seq(
        (s"$layer.self_s", sum(layer)(s => sd(s.id)._1), "s"),
        (s"$layer.calls", sum(layer)(_ => 1.0), "count"),
        (s"$layer.jobs", sum(layer)(_.jobs.toDouble), "count"),
        (s"$layer.task_s", sum(layer)(_.taskMs / 1000.0), "s"),
        (s"$layer.driver_s", sum(layer)(s => sd(s.id)._2), "s"),
        (s"$layer.shuffle_mb", sum(layer)(_.shuffleBytes / 1048576.0), "MB"),
        (s"$layer.spill_mb", sum(layer)(_.spillBytes / 1048576.0), "MB"),
        (s"$layer.scan_amp", if (consumed == 0) 0.0 else read.toDouble / consumed, "ratio"))
    }
  }
}
