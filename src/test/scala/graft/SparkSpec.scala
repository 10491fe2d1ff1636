package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftListenerProbe, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** One shared local session for the whole test run (session startup is the
  * dominant cost; Spark sessions are process-global anyway). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def sf(dir: String = "sf0.001") = s"/root/testdata/$dir"

  /** The query executions (actions) `body` runs, and the RDDs it leaves
    * persisted. */
  def actionsOf(body: => Unit): (Seq[QueryExecution], Set[Int]) = {
    val (actions, _, left) = traceOf(body)
    (actions.map(_._2), left)
  }

  /** What `body` runs: each action as (its name, e.g. "localCheckpoint",
    * and its query execution), the description of each Spark job it
    * starts, and the RDDs it leaves persisted. */
  def traceOf(body: => Unit)
      : (Seq[(String, QueryExecution)], Seq[String], Set[Int]) = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val jobs = new ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((funcName, qe))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add((funcName, qe))
    }
    val jl = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(job.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    GraftListenerProbe.drain(spark)
    spark.listenerManager.register(l)
    sc.addSparkListener(jl)
    try {
      body
      GraftListenerProbe.drain(spark)
    } finally {
      spark.listenerManager.unregister(l)
      sc.removeSparkListener(jl)
    }
    (seen.asScala.toSeq, jobs.asScala.toSeq, (sc.getPersistentRDDs.keySet -- before).toSet)
  }
}
