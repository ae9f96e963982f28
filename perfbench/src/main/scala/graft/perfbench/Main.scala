package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One closed-loop operation. `prepare` and `check` serve the output check
  * only: they run off the clock and are skipped in warm-up rounds.
  * `inputBytes` is the changed input a writing operation consumes. */
final case class Op(kind: String, run: () => Unit,
                    prepare: () => Unit = () => (),
                    check: () => Unit = () => (),
                    family: String = "", write: Boolean = false,
                    inputBytes: Long = 0L)

/** A workload drives the engine through its public functions only. */
trait Workload {
  /** Generate the seeded inputs under `dir`; once per run, off the clock. */
  def generate(dir: String): Unit
  /** Build the engine's initial state from the generated inputs under a
    * fresh `dir`. Timed as set-up and called several times; the state of
    * the last call is the one used. */
  def setup(dir: String): Unit
  /** The next round of the closed-loop sequence: the same operations in the
    * same order every round and every run, on seeded inputs, so every run
    * measures the same mix. The first round is the cold pass. Operations
    * are made as the iterator reaches them, so a window that ends inside a
    * round leaves no operation half applied to the workload's state. */
  def round(): Iterator[Op]
  /** Unmeasured rounds between the cold pass and the window, so the window
    * starts where operation times level off. */
  def warmupRounds: Int = 1
  /** Final output checks, off the clock; throws on a wrong result. */
  def finish(): Unit = ()
  /** Layer metrics only the workload can read (index size and the like). */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Workload-specific end-to-end figures for the record. */
  def extraMetrics(samples: Seq[Sample]): Map[String, Double] = Map.empty
}

/** One finished operation of the measured window. */
final case class Sample(index: Int, kind: String, write: Boolean,
                        seconds: Double, ok: Boolean, traced: Boolean,
                        inputBytes: Long, fsBytes: Long)

/** Harness entry point. Arguments: --workload --seed --seconds --trace
  * --cores --work --record (see run.py, which launches it). */
object Main {
  val Families: Seq[String] = Seq("dedup", "similarity", "text", "sampling",
    "events", "media", "relational", "streaming")
  private val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val work = o("work")
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // JVM start to session ready, then the harness phases in order
    phases("jvm_and_session") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var phaseT0 = System.nanoTime()
    def phase(name: String): Unit = {
      val t = System.nanoTime(); phases(name) = (t - phaseT0) / 1e9; phaseT0 = t
    }
    val wl: Workload = name match {
      case "commit_cycles" => new Combined(Seq(
        new SyncCycles(spark, seed, tracer),
        new IndexLifecycle(spark, seed, tracer)))
      case "query_mix" => new QueryMix(spark, seed, tracer, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val failures = ArrayBuffer.empty[Map[String, Any]]
    def failure(phase: String, kind: String, e: Throwable): Unit = {
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      failures += Map("phase" -> phase, "kind" -> kind,
        "class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage)
          .take(500), "root_class" -> root.getClass.getName)
      System.err.println(s"[perfbench] $phase $kind failed: $e")
    }

    // inputs are generated once and stay off the clock; set-up is repeated
    wl.generate(s"$work/inputs")
    phase("generate")
    tracer.on = traced
    val setupTimes = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      wl.setup(s"$work/setup$i")
      (System.nanoTime() - t0) / 1e9
    }
    tracer.on = false
    phase("setup")

    // cold pass: the first round, first use of every operation in this JVM
    var coldS = 0.0
    var coldFailed = 0
    val coldTimes = wl.round().map { op =>
      op.prepare()
      val t0 = System.nanoTime()
      val ok = try { op.run(); true } catch {
        case e: Throwable => failure("cold", op.kind, e); false }
      val dt = (System.nanoTime() - t0) / 1e9
      coldS += dt
      if (ok) try op.check() catch {
        case e: Throwable => failure("check", op.kind, e); coldFailed += 1 }
      else coldFailed += 1
      (op.kind, dt)
    }.toSeq

    phase("cold_pass")
    // warm-up: off the clock and unchecked; a failure still counts
    var warmOps = 0
    var warmFailed = 0
    (1 to wl.warmupRounds).foreach { _ =>
      wl.round().foreach { op =>
        warmOps += 1
        try op.run() catch {
          case e: Throwable => failure("warmup", op.kind, e); warmFailed += 1 }
      }
    }
    phase("warmup")
    // measured window: closed loop, one client
    val probe = new SparkProbe
    val samples = ArrayBuffer.empty[Sample]
    var traceCounters = Counters()
    var driverOnlyMs = 0L
    var leakedEntries = 0L
    var leakedRdds = 0L
    val familyBusy = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    val familyJobs = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val fsWindow0 = Probes.fsStats()
    var fsTraced = FsStats()
    var busy = 0.0
    var i = 0
    var pending = Iterator.empty[Op]
    var rounds = 0
    var tr = false
    // at least one whole round, so every kind of operation is measured; an
    // untraced window then ends with the operation that fills `seconds`, a
    // traced one, which alternates traced and untraced rounds, at the end
    // of a round after at least two
    while (i < coldTimes.size || busy < seconds ||
        (traced && (rounds < 2 || pending.hasNext))) {
      if (!pending.hasNext) {
        pending = wl.round()
        tr = traced && rounds % 2 == 0
        rounds += 1
      }
      val op = pending.next()
      op.prepare()
      val before = if (tr) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
        Probes.drain(spark)
        tracer.op = i; tracer.on = true
        Some((probe.snapshot, Probes.cacheEntries(spark),
          Probes.persistedRdds(spark), Probes.fsStats()))
      } else None
      val fs0 = Probes.fsStats().bytesWritten
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = try { op.run(); true } catch {
        case e: Throwable => failure("window", op.kind, e); false }
      val dt = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      val fsBytes = Probes.fsStats().bytesWritten - fs0
      before.foreach { case (c0, ce0, pr0, f0) =>
        tracer.on = false; tracer.op = -1
        Probes.drain(spark)
        val d = probe.snapshot - c0
        traceCounters = traceCounters + d
        driverOnlyMs += math.max(0L, (ms1 - ms0) - probe.jobCoverMs(ms0, ms1))
        leakedEntries += math.max(0, Probes.cacheEntries(spark) - ce0)
        leakedRdds += math.max(0, Probes.persistedRdds(spark) - pr0)
        fsTraced = fsTraced + (Probes.fsStats() - f0)
        if (op.family.nonEmpty) {
          familyBusy(op.family) += dt
          familyJobs(op.family) += d.jobs
        }
        spark.listenerManager.unregister(probe)
        spark.sparkContext.removeSparkListener(probe)
      }
      busy += dt
      val checked = ok && (try { op.check(); true } catch {
        case e: Throwable => failure("check", op.kind, e); false })
      samples += Sample(i, op.kind, op.write, dt, checked, before.isDefined,
        op.inputBytes, fsBytes)
      i += 1
    }
    val fsWindow = Probes.fsStats() - fsWindow0
    phase("window")
    val finishOk = try { wl.finish(); true } catch {
      case e: Throwable => failure("finish", "finish", e); false }

    // heap retained by the workload's state, after a full collection
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    phase("finish")

    val okS = samples.filter(_.ok)
    val timed = if (traced) okS.filterNot(_.traced) else okS
    val lat = timed.map(_.seconds).sorted
    val (tailP, tailV, tailBeyond) = Stats.tail(lat)
    // one round's operations at each kind's median latency: a stalled
    // operation moves it no further than it moves its kind's median, and a
    // window that ends inside a round does not change the mix
    val kindP50 = timed.groupBy(_.kind).map { case (k, s) =>
      k -> Stats.median(s.map(_.seconds)) }
    val roundS = coldTimes.map { case (k, _) => kindP50.getOrElse(k, Double.NaN) }.sum
    val e2e = Map[String, Double](
      "setup_s" -> Stats.median(setupTimes),
      "cold_pass_s" -> coldS,
      "ops_per_s" -> coldTimes.size / roundS,
      "latency_p50_s" -> Stats.median(lat),
      "retained_heap_mb" -> heapMb)
    val writes = okS.filter(_.write)
    val extra = Map[String, Double](
      "failed_frac" -> (samples.size - okS.size).toDouble / math.max(1, samples.size),
      "latency_tail_s" -> tailV,
      "latency_tail_percentile" -> tailP,
      "latency_tail_samples_beyond" -> tailBeyond.toDouble,
      "latency_samples" -> lat.size.toDouble,
      "ops_per_busy_s" -> (if (lat.isEmpty) 0.0 else lat.size / lat.sum),
      "window_rounds" -> rounds.toDouble,
      "write_p50_s" -> Stats.median(timed.filter(_.write).map(_.seconds)),
      "read_p50_s" -> Stats.median(timed.filterNot(_.write).map(_.seconds)),
      "bytes_written_per_input_byte" -> {
        val in = writes.map(_.inputBytes).sum
        if (in == 0) 0.0 else writes.map(_.fsBytes).sum.toDouble / in
      },
      "window_fs_bytes_written" -> fsWindow.bytesWritten.toDouble,
      "window_fs_bytes_read" -> fsWindow.bytesRead.toDouble
    ) ++ wl.extraMetrics(timed.toSeq)

    val layer: Map[String, Double] = if (!traced) Map.empty else {
      val tOps = samples.filter(_.traced)
      val wallS = tOps.map(_.seconds).sum
      val c = traceCounters
      // spans of traced operations; table loads happen in set-up
      val spans = tracer.all
      def named(n: String) = spans.filter(s => s.name == n &&
        (s.op >= 0 || n == "tables.load"))
      def busyS(n: String) = named(n).map(s => s.endNs - s.startNs).sum / 1e9
      def calls(n: String) = named(n).size.toDouble
      val syncCalls = calls("sync.sync")
      Map[String, Double](
        "sync.calls" -> syncCalls,
        "sync.busy_s" -> busyS("sync.sync"),
        "sync.noop_ratio" -> (if (syncCalls == 0) 0.0
          else tOps.count(_.kind == "noop").toDouble / syncCalls),
        "meta.commit.calls" -> calls("meta.commit"),
        "meta.commit.busy_s" -> busyS("meta.commit"),
        "meta.read.busy_s" -> busyS("meta.read"),
        "spark.jobs" -> c.jobs.toDouble,
        "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.driver_only_s" -> driverOnlyMs / 1000.0,
        "spark.task_s" -> c.taskMs / 1000.0,
        "spark.gc_s" -> c.gcMs / 1000.0,
        "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
        "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
        "spark.spill_bytes" -> c.spillBytes.toDouble,
        "spark.core_busy_frac" ->
          (if (wallS == 0) 0.0 else c.taskMs / 1000.0 / (wallS * cores)),
        "spark.query_executions" -> c.queryExecutions.toDouble,
        "catalyst.analysis_ms" -> c.analysisMs.toDouble,
        "catalyst.optimization_ms" -> c.optimizationMs.toDouble,
        "catalyst.planning_ms" -> c.planningMs.toDouble,
        "index.append.busy_s" -> busyS("index.append"),
        "index.delete.busy_s" -> busyS("index.delete"),
        "index.compact.busy_s" -> busyS("index.compact"),
        "index.probe.busy_s" -> busyS("index.probe"),
        "fs.bytes_written" -> fsTraced.bytesWritten.toDouble,
        "fs.bytes_read" -> fsTraced.bytesRead.toDouble,
        "fs.write_ops" -> fsTraced.writeOps.toDouble,
        "fs.read_ops" -> fsTraced.readOps.toDouble,
        "tables.load.calls" -> calls("tables.load"),
        "tables.load.busy_s" -> busyS("tables.load"),
        "caching.leaked_entries" -> leakedEntries.toDouble,
        "caching.leaked_rdds" -> leakedRdds.toDouble,
        "meta.versions_written" -> 0.0, "meta.files_written" -> 0.0,
        "index.files" -> 0.0, "index.bytes_on_disk" -> 0.0,
        "trace.ops" -> tOps.size.toDouble,
        "trace.wall_s" -> wallS
      ) ++ Families.flatMap(f => Seq(
        s"family.$f.busy_s" -> familyBusy(f),
        s"family.$f.jobs" -> familyJobs(f).toDouble)) ++
        wl.layerMetrics()
    }

    val overhead: Map[String, Any] = if (!traced) Map.empty else {
      val on = okS.filter(_.traced).map(_.seconds)
      val off = okS.filterNot(_.traced).map(_.seconds)
      Map("traced_ops" -> on.size, "untraced_ops" -> off.size,
        "traced_mean_s" -> Stats.mean(on), "untraced_mean_s" -> Stats.mean(off),
        "overhead_s" -> (Stats.mean(on) - Stats.mean(off)),
        "overhead_frac" -> (if (off.isEmpty || Stats.mean(off) == 0) 0.0
          else Stats.mean(on) / Stats.mean(off) - 1),
        "note" -> ("traced and untraced rounds alternate in one window, " +
          "traced first; both rounds hold the same operation mix"))
    }

    val failed = coldFailed + warmFailed + samples.size - okS.size +
      (if (finishOk) 0 else 1)
    val record = Map[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "setup_runs_s" -> setupTimes,
      "cold_ops" -> coldTimes.map { case (k, s) => Map("kind" -> k, "s" -> s) },
      "phase_wall_s" -> phases,
      "correct" -> (failed == 0),
      "attempted" -> (coldTimes.size + warmOps + samples.size), "failed" -> failed,
      "end_to_end" -> e2e, "extra" -> extra, "per_layer" -> layer,
      "tracing_overhead" -> overhead,
      "failures" -> failures.toSeq,
      "ops" -> samples.map(s => Map("i" -> s.index, "kind" -> s.kind,
        "s" -> s.seconds, "ok" -> s.ok, "traced" -> s.traced)).toSeq)
    Files.writeString(Paths.get(o("record")), Json.write(record))
    if (traced) {
      val sb = new StringBuilder
      tracer.all.foreach { s =>
        sb ++= Json.write(Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs)) += '\n'
      }
      Files.writeString(Paths.get(o("record") + ".spans.jsonl"), sb.toString)
    }
    spark.stop()
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: scala.collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples above it:
    * (percentile, value, samples beyond). With ten or fewer samples the
    * maximum is returned with its true count beyond (zero). */
  def tail(sorted: scala.collection.Seq[Double]): (Double, Double, Int) = {
    val n = sorted.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (100.0, sorted.last, 0)
    else {
      val idx = n - 11 // ten samples lie above this one
      (100.0 * (idx + 1) / n, sorted(idx), 10)
    }
  }
}

/** Minimal JSON writer for the record (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
