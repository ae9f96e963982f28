package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.meta.MetaStore
import graft.sync.SyncEngine

/** A MetaStore whose reads and commits are timed from outside the engine:
  * `meta.commit` spans wrap each commit, `meta.read` spans each catalog read
  * made outside a commit. Versions committed while tracing are remembered
  * so their files can be counted off the clock. */
final class TracedMetaStore(spark: SparkSession, root: String, tracer: Tracer)
    extends MetaStore(spark, root) {
  private val depth = new java.util.concurrent.atomic.AtomicInteger(0)
  val tracedVersions: mutable.Buffer[Long] = mutable.Buffer.empty

  private def read[T](body: => T): T =
    if (depth.get > 0) body
    else {
      depth.incrementAndGet()
      try tracer.span("meta.read")(body) finally depth.decrementAndGet()
    }

  override def currentVersion: Long = read(super.currentVersion)
  override def shards: DataFrame = read(super.shards)
  override def placements: DataFrame = read(super.placements)
  override def tables: DataFrame = read(super.tables)

  override private[graft] def commitVersion(newShards: Option[DataFrame],
      newPlacements: Option[DataFrame], newTables: Option[DataFrame],
      expectedVersion: Option[Long], gate: Option[() => Unit]): Long = {
    depth.incrementAndGet()
    val v = try tracer.span("meta.commit")(super.commitVersion(newShards,
      newPlacements, newTables, expectedVersion, gate))
    finally depth.decrementAndGet()
    if (tracer.on) tracedVersions += v
    v
  }

  /** Files under each traced version's directory. */
  def filesWritten(): Long = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    tracedVersions.map { v =>
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/v$v"), true)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }.sum
  }
}

/** The paper's own traffic: a seeded HDFS-block catalog (shard ids,
  * lengths, replica hosts) changes by small deltas, and a long-lived
  * session applies each snapshot with `SyncEngine.sync` against one
  * MetaStore. Cycles are small-delta syncs (blocks added and removed,
  * replicas moved), no-op re-runs of the last snapshot, and
  * `--fetch-min-max` syncs whose stats come from `computeStats`.
  *
  * Checks (off the clock): after every cycle the catalog's placements and
  * shard ids equal the snapshot as sets, a no-op re-run returns the same
  * version, a delta commits a newer one, and new shards carry the min/max
  * of their block data. */
final class SyncCycles(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  private val TableId = 1L
  private val Blocks = 2000
  private val Pool = 3500 // ids the data covers: 50 rounds of adds
  private val RowsPerBlock = 4
  private val hosts = (0 until 12).map(i => f"dn$i%02d.rack${i % 3}")

  private var rnd = new scala.util.Random(seed)
  private var state = mutable.LinkedHashMap.empty[Long, (Long, Vector[String])]
  private var nextId = 0L
  private var store: TracedMetaStore = _
  private var engine: SyncEngine = _
  private var inputs: String = _
  private var blockData: DataFrame = _
  private var minMax = Map.empty[Long, (Int, Int)]
  private var version = -1L
  private var previousIds = Set.empty[Long]

  private def blockId(i: Long): Long = 1073741825L + i

  private def newBlock(): Unit = {
    val id = blockId(nextId); nextId += 1
    state(id) = (1L + rnd.nextInt(134217728),
      rnd.shuffle(hosts).take(3).toVector)
  }

  /** Per-block data rows for the --fetch-min-max path, over every id the
    * run can add. */
  def generate(dir: String): Unit = {
    val r = new scala.util.Random(seed ^ 0xb10cL)
    val rows = (0L until Pool).flatMap { i =>
      Seq.fill(RowsPerBlock)((blockId(i), r.nextInt(1000000)))
    }
    minMax = rows.groupBy(_._1).map { case (id, rs) =>
      id -> (rs.map(_._2).min, rs.map(_._2).max) }
    rows.toDF("shard_id", "value").coalesce(1).write.parquet(s"$dir/blockdata")
    inputs = dir
  }

  def setup(dir: String): Unit = {
    rnd = new scala.util.Random(seed)
    state = mutable.LinkedHashMap.empty
    nextId = 0L
    (0 until Blocks).foreach(_ => newBlock())
    blockData = spark.read.parquet(s"$inputs/blockdata")
    store = new TracedMetaStore(spark, s"$dir/catalog", tracer)
    engine = new SyncEngine(spark, store)
    store.registerTable(TableId, "blocks", Some("value"))
    version = engine.sync(TableId, idsDf(), placementsDf())
    previousIds = state.keySet.toSet
  }

  private def placementRows: Seq[(Long, Long, String)] =
    state.toSeq.flatMap { case (id, (len, hs)) => hs.map(h => (id, len, h)) }
  private def idsDf(): DataFrame = state.keys.toSeq.toDF("shard_id")
  private def placementsDf(): DataFrame =
    placementRows.toDF("shard_id", "shard_length", "hostname")
  private def rowBytes(id: Long, h: String): Long = 16L + h.length

  /** Mutate the snapshot by one small delta; returns the changed input
    * bytes (removed, added and moved placement rows). */
  private def delta(): Long = {
    var bytes = 0L
    val removed = rnd.shuffle(state.keys.toVector).take(5 + rnd.nextInt(11))
    removed.foreach { id =>
      state(id)._2.foreach(h => bytes += rowBytes(id, h)); state.remove(id) }
    (0 until 5 + rnd.nextInt(11)).foreach { _ =>
      newBlock()
      val id = blockId(nextId - 1)
      state(id)._2.foreach(h => bytes += rowBytes(id, h))
    }
    rnd.shuffle(state.keys.toVector).take(5 + rnd.nextInt(11)).foreach { id =>
      val (len, hs) = state(id)
      val from = rnd.nextInt(hs.size)
      val to = rnd.shuffle(hosts.filterNot(hs.contains)).head
      bytes += rowBytes(id, hs(from)) + rowBytes(id, to)
      state(id) = (len, hs.updated(from, to))
    }
    bytes
  }

  private def cycle(kind: String): Op = {
    val bytes = if (kind == "noop") 0L else delta()
    val snapshotIds = state.keySet.toSet
    val snapshot = placementRows.toSet
    val ids = idsDf(); val pls = placementsDf()
    var v = -1L
    var v0 = -1L; var ids0 = Set.empty[Long]
    Op(kind, run = () => {
      val stats = if (kind != "stats") None else
        Some(tracer.span("sync.computeStats")(
          engine.computeStats(TableId, blockData, "shard_id")))
      v0 = version; ids0 = previousIds
      v = tracer.span("sync.sync")(engine.sync(TableId, ids, pls, stats))
      // the next cycle is checked against this one's outcome
      version = v; previousIds = snapshotIds
    }, check = () => check(kind, v0, ids0, v, snapshotIds, snapshot),
      write = kind != "noop", inputBytes = bytes)
  }

  private def check(kind: String, v0: Long, ids0: Set[Long], v: Long,
                    snapshotIds: Set[Long],
                    snapshot: Set[(Long, Long, String)]): Unit = {
    if (kind == "noop" && v != v0)
      throw new AssertionError(s"no-op re-run moved the catalog: $v0 -> $v")
    if (kind != "noop" && v <= v0)
      throw new AssertionError(s"delta sync did not commit: $v0 -> $v")
    val got = store.placements.as[(Long, Long, String)].collect().toSet
    if (got != snapshot)
      throw new AssertionError(s"catalog placements differ from the " +
        s"snapshot: ${(got -- snapshot).size} extra, ${(snapshot -- got).size} missing")
    val shards = store.shards.where(col("table_id") === TableId)
      .select("shard_id", "min_value", "max_value")
      .as[(Long, Option[String], Option[String])].collect()
    if (shards.map(_._1).toSet != snapshotIds)
      throw new AssertionError("catalog shard ids differ from the snapshot")
    if (kind == "stats") {
      val newIds = snapshotIds -- ids0
      shards.filter(s => newIds.contains(s._1)).foreach { case (id, lo, hi) =>
        val (mn, mx) = minMax(id)
        if (lo != Some(mn.toString) || hi != Some(mx.toString))
          throw new AssertionError(s"shard $id stats $lo..$hi, expected $mn..$mx")
      }
    }
  }

  /** A small delta, a no-op re-run of it and a --fetch-min-max sync. */
  private val RoundKinds = Seq("delta", "noop", "stats")
  def round(): Iterator[Op] = RoundKinds.iterator.map(cycle)

  override def extraMetrics(samples: Seq[Sample]): Map[String, Double] = {
    def p50(k: String) = Stats.median(samples.filter(_.kind == k).map(_.seconds))
    Map("noop_sync_p50_s" -> p50("noop"), "delta_sync_p50_s" -> p50("delta"),
      "stats_sync_p50_s" -> p50("stats"))
  }

  override def layerMetrics(): Map[String, Double] = Map(
    "meta.versions_written" -> store.tracedVersions.distinct.size.toDouble,
    "meta.files_written" -> store.filesWritten().toDouble)
}
