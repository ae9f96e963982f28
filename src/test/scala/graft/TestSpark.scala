package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** What `body` ran, for job-budget specs: the call site of every Spark
    * job it started ("collect at X.scala:N") and the executed plan of every
    * action. Listener delivery is async; all jobs have ended when `body`
    * returns, so a bounded poll until the counts settle drains the bus. */
  def traced(body: => Unit): (Seq[String], Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the result stage (highest id) is named after the job's call site
        jobs.add(js.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
        ()
      }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      body
      val deadline = System.nanoTime() + 5_000_000_000L
      var seen = (-1, -1)
      while (seen != ((jobs.size, plans.size)) && System.nanoTime() < deadline) {
        seen = (jobs.size, plans.size); Thread.sleep(100)
      }
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    (jobs.toArray(Array.empty[String]).toSeq, plans.toArray(Array.empty[String]).toSeq)
  }
}
