package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` is the enclosing span's id (-1 at the root) and
  * `op` the operation it belongs to (-1 outside the measured operations). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept only while `on` is set, so an
  * untraced operation pays one flag test per call site. */
final class Tracer {
  @volatile var on = false
  var op: Int = -1
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { val i = spans.size; spans += null; i }
      val parent = synchronized { stack.headOption.getOrElse(-1) }
      synchronized { stack = id :: stack }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          spans(id) = Span(id, name, parent, op, t0, t1)
          stack = stack.dropWhile(_ != id).drop(1)
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toList)
}

/** Cumulative Spark and Catalyst counters at one instant. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, gcMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, queryExecutions: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs,
    gcMs - o.gcMs, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    queryExecutions - o.queryExecutions, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    queryExecutions + o.queryExecutions, analysisMs + o.analysisMs,
    optimizationMs + o.optimizationMs, planningMs + o.planningMs)
}

/** Listener pair registered from outside the engine: Spark job, stage and
  * task events plus Catalyst phase times of every query execution. Job
  * intervals (epoch ms) are kept so driver-only time can be derived. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private var c = Counters()
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskMs = c.taskMs + m.executorRunTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(n: String) = p.get(n).map(_.durationMs).getOrElse(0L)
    c = c.copy(queryExecutions = c.queryExecutions + 1,
      analysisMs = c.analysisMs + ms("analysis"),
      optimizationMs = c.optimizationMs + ms("optimization"),
      planningMs = c.planningMs + ms("planning"))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  def snapshot: Counters = synchronized(c)

  /** Milliseconds of [t0, t1] covered by at least one job interval that
    * started inside it. */
  def jobCoverMs(t0: Long, t1: Long): Long = synchronized {
    val iv = intervals.filter { case (s, _) => s >= t0 && s <= t1 }
      .map { case (s, e) => (s, math.min(e, t1)) }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

object Probes {
  /** Block until every queued listener event has been delivered, so the
    * counters read after an operation include all of its events. The bus
    * accessor is not public API; it is reached reflectively. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Entries in the session's CacheManager (Dataset.persist/cache). */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }

  /** RDDs currently registered as persisted (persist and localCheckpoint). */
  def persistedRdds(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Hadoop FileSystem statistics summed over every file system class.
    * The local file system counts bytes but not operations. */
  @annotation.nowarn("cat=deprecation")
  def fsStats(): FsStats = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    FsStats(all.map(_.getBytesWritten).sum, all.map(_.getWriteOps.toLong).sum,
      all.map(_.getReadOps.toLong).sum, all.map(_.getBytesRead).sum)
  }
}

final case class FsStats(bytesWritten: Long = 0, writeOps: Long = 0,
                         readOps: Long = 0, bytesRead: Long = 0) {
  def -(o: FsStats): FsStats = FsStats(bytesWritten - o.bytesWritten,
    writeOps - o.writeOps, readOps - o.readOps, bytesRead - o.bytesRead)
  def +(o: FsStats): FsStats = FsStats(bytesWritten + o.bytesWritten,
    writeOps + o.writeOps, readOps + o.readOps, bytesRead + o.bytesRead)
}
