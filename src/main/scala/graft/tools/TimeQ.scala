package graft.tools
import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, hash, lit, sum}
/** Fresh-JVM per-query timer: `runMain graft.tools.TimeQ <query>...` —
  * isolates a query's cost from the 55-query sweep's heap/GC pressure.
  * The timed action sums a hash of every output column next to the row
  * count, so no output column is pruned away (a bare `count()` would
  * drop a projection-only query's projection and time its scan).
  * Each query's line also gives the number of Spark jobs it started
  * (counted by a listener on job start, so it includes AQE's stage jobs
  * and broadcasts) and the number of classes codegen compiled for it
  * (the growth of the compilation-time histogram's count; a class found
  * in Spark's codegen cache is not compiled again). */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // scale audits can shrink per-task aggregate hash maps by running
    // MORE, smaller shuffle partitions than concurrent tasks (the kc1
    // 30x execution-memory floor is partition-count-sensitive)
    val shuf = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup + the Bench calibration probe: a TimeQ number is only
    // comparable across runs/rounds relative to the probe (BENCH_NOTES
    // records both) — the box's effective speed drifts 2-3x between
    // measurement windows (judge A/B, round 8)
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    val cal = graft.Bench.calibrate(spark)
    println(f"[cal] probe=$cal%.2f s load=${graft.Bench.loadAvg()}%.2f cpus=$cpus")
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(job: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    for (n <- args) {
      org.apache.spark.sql.GraftListenerProbe.drain(spark)
      jobs.set(0)
      val compiled = METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val q = graft.SparkEntry.queries(n)(spark, sfDir)
      val out = q.toDF(q.columns.indices.map(i => s"c$i"): _*)
      val c = out.agg(count(lit(1)), sum(hash(out.columns.map(col): _*))).head().getLong(0)
      val s = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftListenerProbe.drain(spark)
      println(f"[time] $n rows=$c $s%.1f s jobs=${jobs.get} " +
        s"compiles=${METRIC_COMPILATION_TIME.getCount - compiled}")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
