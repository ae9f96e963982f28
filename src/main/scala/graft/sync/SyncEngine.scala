package graft.sync

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Caching._
import graft.meta.MetaStore
import graft.ops.CoreOps

/** Snapshot-inconsistency abort, mirroring the reference's global abort
  * conditions (HdfsSynchronizer.java:263-289). */
class SyncAbortException(msg: String) extends RuntimeException(msg)

/** Outcome of a fault-tolerant sync: the committed catalog version plus the
  * per-placement worker operations that failed and were skipped — the
  * set-oriented analog of the reference's log-and-skip accounting
  * (HdfsSynchronizer.java:228-251: `deletedShardPlacementSet` /
  * `insertedShardPlacementSet` track only the successes).
  *
  * `skippedCount` is exact; `skipped` is a driver-side SAMPLE of at most
  * `SyncEngine.maxSkippedSample` rows (op: "drop"|"create", shard_id,
  * shard_length, hostname). Under a systematic failure — one dead host
  * across a huge table — the skipped set is O(table placements); an
  * unbounded collect would OOM the driver where the reference streams one
  * log line per failure. Callers needing the full set re-derive it
  * distributed: diff the committed catalog against the source snapshot.
  */
case class SyncResult(version: Long, skippedCount: Long,
                      skipped: Array[(String, Long, Long, String)])

/** The reference's whole program as one function (SURVEY §3.1):
  * source snapshot → per-shard diff → validate → atomically apply.
  *
  * Where the reference walks O(shards × replicas) sequential RPC/JDBC round
  * trips (HdfsSynchronizer.java:226-318), this engine expresses the diff as
  * ONE group-by on `shard_id` over a tagged union of the four inputs
  * (source ids, this table's catalog ids, source placements, catalog
  * placements — see [[SyncEngine.shardDiff]]): one shuffle keyed on the
  * shard id, whatever the table size, and every later question — no-op?
  * guard violated? which ids are new or old? — is a scan of that per-shard
  * frame. The apply is one atomic two-table commit.
  *
  * Scoping: placements carry no table id (pg_dist_shard_placement has none);
  * the reference scopes them per table by joining through pg_dist_shard on
  * logicalrelid (CitusMasterNode.java:33-37, MASTER_FETCH_TABLE_SHARD_
  * PLACEMENTS). Same here — a shard's catalog placements count only when
  * the shard is in THIS table's catalog, and a commit rewrites only this
  * table's slice, preserving every other table's rows. Shard ids are
  * globally unique across tables (they are HDFS block ids —
  * HdfsSynchronizer.java:136-141), which is what makes the scoping exact.
  *
  * Idempotence (README.md:10-13): sync(sync(s)) == sync(s) — after a sync
  * the catalog equals the source snapshot, so the next diff is empty.
  * Atomicity (README.md:15-19): guards run BEFORE the commit; a violation
  * aborts with the catalog untouched.
  */
class SyncEngine(spark: SparkSession, store: MetaStore) {

  /** The per-shard diff of the source snapshot against this table's
    * catalog slice (HdfsSynchronizer.java:142-205) — see
    * [[SyncEngine.shardDiff]]. `sourceIds` and `sourcePlacements` arrive
    * separately, like the reference's two NameNode scans, so they can
    * disagree; the guards catch that. */
  private def diffOf(tableId: Long, sourceIds: DataFrame,
                     sourcePlacements: DataFrame): DataFrame =
    SyncEngine.shardDiff(sourceIds,
      store.shards.where(col("table_id") === tableId), sourcePlacements,
      store.placements)

  /** Validate + apply (HdfsSynchronizer.java:215-332). Optional `stats`
    * (shard_id, min_value, max_value) attaches min/max statistics to new
    * shards — the --fetch-min-max path (§3.3), computed as ONE distributed
    * aggregation by the caller instead of per-shard round trips.
    * Returns the committed version, or the current one when the snapshot
    * already equals the catalog (nothing is written).
    *
    * The per-shard frame is pinned and read twice:
    *
    *   1. ONE summary aggregate decides everything before the commit:
    *      whether anything changed (the no-op return), and both guards —
    *      J5, a removed shard must have NO placements in the post-apply
    *      set (HdfsSynchronizer.java:263-273), checked first; J6, a new
    *      shard must have at least one (HdfsSynchronizer.java:282-289).
    *      Each reports its smallest violating shard id.
    *   2. The commit reads the id diffs and the post-apply placement set
    *      from it. That set is exactly the deduplicated SOURCE set —
    *      (catalog − old) ∪ new = source — so it is an explode of each
    *      shard's source placements, with no placement-level set
    *      difference anywhere on the apply path.
    *
    * A catalog slice holding duplicate rows reads as changed (its sorted
    * placement list differs from the source's set) and is rewritten
    * deduplicated.
    */
  def sync(tableId: Long, sourceIds: DataFrame, sourcePlacements: DataFrame,
           stats: Option[DataFrame] = None): Long = {
    // the version every diff below is derived from — the commit's
    // optimistic-concurrency token (a rival committing mid-sync makes the
    // commit throw ConcurrentCommitException instead of losing its update)
    val baseVersion = store.currentVersion
    val diff = diffOf(tableId, sourceIds, sourcePlacements).pinned
    try {
      val s = diff.agg(
        count_if(col("is_new") || col("is_old")),
        count_if(col("pl_changed")),
        min(when(col("is_old") && size(col("src_pl")) > 0, col("shard_id"))),
        min(when(col("is_new") && size(col("src_pl")) === 0, col("shard_id"))))
        .head()
      val idsChanged = s.getLong(0) > 0
      if (!idsChanged && s.getLong(1) == 0) return baseVersion
      if (!s.isNullAt(2))
        throw new SyncAbortException(
          s"shard ${s.getLong(2)} was removed but still has placements")
      if (!s.isNullAt(3))
        throw new SyncAbortException(
          s"shard ${s.getLong(3)} is new but has no placements")
      commitState(tableId, diff, diff.select(col("shard_id"),
          inline(col("src_pl"))), stats, baseVersion,
        shardsUnchanged = !idsChanged)
    } finally diff.unpin()
  }

  /** T4 — fault-tolerant apply (HdfsSynchronizer.java:228-251, :339-364,
    * :373-415): per-placement worker failures are logged and SKIPPED, not
    * fatal; only the structural invariants abort:
    *
    *   - a failed drop whose shard survives (replica churn) → the placement
    *     simply stays in the catalog, retried next run;
    *   - a failed drop on a fully-removed shard → that shard still has a
    *     placement in the post-apply set → guard J5 aborts (the reference's
    *     "Could not remove shard placements for shardId");
    *   - a failed create → the placement is not inserted; fatal only if the
    *     shard ends with ZERO placements → guard J6 aborts ("Could not find
    *     shard placement for shardId").
    *
    * `workerApply` is the worker-side DDL stage: it receives the attempted
    * operations (op: "drop"|"create", shard_id, shard_length, hostname) and
    * must return them with an added boolean `ok` column — in a real
    * deployment a mapPartitions that executes DDL against each host and
    * catches per-row failures (the error-column-and-accumulate shape); the
    * default marks everything ok, reducing to the strict path. Unlike the
    * strict `sync`, the post-apply set here is NOT the source snapshot —
    * it is (catalog − successfulDrops) ∪ successfulCreates, the reference's
    * `currentShardPlacementSet` (HdfsSynchronizer.java:253-257).
    */
  def syncTolerant(tableId: Long, sourceIds: DataFrame,
                   sourcePlacements: DataFrame,
                   workerApply: DataFrame => DataFrame = SyncEngine.allOk,
                   stats: Option[DataFrame] = None): SyncResult = {
    val baseVersion = store.currentVersion
    val diff = diffOf(tableId, sourceIds, sourcePlacements).pinned
    // per shard: drops = catalog − source, creates = source − catalog, as
    // array differences of the two sorted placement sets (distinct, like
    // the reference's set differences)
    def ops(op: String, from: String, minus: String): DataFrame =
      diff.select(lit(op).as("op"), col("shard_id"),
        inline(array_except(col(from), col(minus))))
    val plCols = Seq(col("shard_id"), col("shard_length"), col("hostname"))
    val applied = workerApply(
      ops("drop", "cat_pl", "src_pl").unionByName(ops("create", "src_pl", "cat_pl")))
      .persist()
    try {
      // Bounded skipped accounting: exact count + a capped sample. Both
      // actions scan the persisted `applied`; only the sample is collected,
      // so a systematic failure (every op on one host) cannot OOM the
      // driver the way an unbounded collect would.
      val notOk = applied.where(!col("ok")).select(col("op") +: plCols: _*)
      val skipped = notOk.limit(SyncEngine.maxSkippedSample)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      val skippedCount =
        if (skipped.length < SyncEngine.maxSkippedSample) skipped.length.toLong
        else notOk.count()

      // current = (catalog − successfulDrops) ∪ successfulCreates
      // (HdfsSynchronizer.java:253-257) — the guards and the commit all read
      // this set, NOT the source snapshot, because failures make them differ.
      val deleted = applied.where(col("op") === "drop" && col("ok")).select(plCols: _*)
      val inserted = applied.where(col("op") === "create" && col("ok")).select(plCols: _*)
      val catalogPlacements = diff.select(col("shard_id"), inline(col("cat_pl")))
      val current = CoreOps.currentSet(catalogPlacements, deleted, inserted).persist()

      try {
        val idsChanged = !diff.where(col("is_new") || col("is_old"))
          .coalesce(1).limit(1).isEmpty
        val anyApplied = !applied.where(col("ok")).coalesce(1).limit(1).isEmpty
        if (!idsChanged && !anyApplied)
          return SyncResult(baseVersion, skippedCount, skipped)

        // a failed drop can only orphan a REMOVED shard, a failed create
        // only unplace a NEW one — no id change, no failable guard. When
        // they can fail, the guards gate the commit's writes concurrently:
        // a violation still aborts with the catalog untouched.
        val guards = if (!idsChanged) None else Some(() =>
          checkGuards(diff.where(col("is_old")).select("shard_id"),
            diff.where(col("is_new")).select("shard_id"), current,
            orphanMsg = id => s"could not remove shard placements for shard $id",
            unplacedMsg = id => s"could not find shard placement for shard $id"))

        val v = commitState(tableId, diff, current, stats, baseVersion,
          shardsUnchanged = !idsChanged, gate = guards)
        SyncResult(v, skippedCount, skipped)
      } finally current.unpersist()
    } finally { diff.unpin(); applied.unpersist() }
  }

  /** Both structural guards evaluated in one Spark action: violating shard
    * ids arrive tagged, and the first row (orphans first, matching the
    * reference's check order) decides the abort message. */
  private def checkGuards(oldShardIds: DataFrame, newShardIds: DataFrame,
                          postApply: DataFrame,
                          orphanMsg: Long => String,
                          unplacedMsg: Long => String): Unit = {
    val head = CoreOps.orphanPlacements(oldShardIds, postApply, "shard_id")
      .select(col("shard_id"), lit("orphan").as("kind"))
      .unionByName(CoreOps.unplacedShards(newShardIds, postApply, "shard_id")
        .select(col("shard_id"), lit("unplaced").as("kind")))
      .coalesce(1).limit(1).collect()
    head.headOption.foreach { r =>
      throw new SyncAbortException(
        if (r.getString(1) == "orphan") orphanMsg(r.getLong(0))
        else unplacedMsg(r.getLong(0)))
    }
  }

  /** Shared commit tail: build the new shards table (kept + new, stats
    * attached — CitusMasterNode.java:221-242) and rewrite ONLY this table's
    * placement slice, preserving every other table's rows. The id diffs
    * come from the pinned per-shard `diff`.
    *
    * `shardsUnchanged` (both id diffs proven empty — stats attach only to
    * NEW shards, so no row can differ) carries the shards table into the
    * new version as a filesystem copy instead of a scan+anti-join+union
    * rewrite: a placements-only sync writes placements and nothing else.
    */
  private def commitState(tableId: Long, diff: DataFrame,
                          tablePlacements: DataFrame,
                          stats: Option[DataFrame],
                          baseVersion: Long,
                          shardsUnchanged: Boolean,
                          gate: Option[() => Unit] = None): Long = {
    val newShards = if (shardsUnchanged) None else Some {
      val newShardRows = {
        val base = diff.where(col("is_new"))
          .select(lit(tableId).as("table_id"), col("shard_id"),
            lit("f").as("storage"))
        stats match {
          case Some(st) => base.join(st, Seq("shard_id"), "left")
            .select(col("table_id"), col("shard_id"), col("storage"),
              col("min_value").cast("string"), col("max_value").cast("string"))
          case None => base
            .withColumn("min_value", lit(null).cast("string"))
            .withColumn("max_value", lit(null).cast("string"))
        }
      }
      store.shards
        .join(diff.where(col("is_old")).select("shard_id"), Seq("shard_id"),
          "left_anti")
        .select(col("table_id"), col("shard_id"), col("storage"),
          col("min_value"), col("max_value"))
        .union(newShardRows)
    }
    // Other tables' placements pass through untouched: the commit replaces
    // only the slice reachable from THIS table's (pre-sync) catalog ids.
    val otherPlacements = store.placements
      .join(diff.where(col("in_cat")).select("shard_id"), Seq("shard_id"),
        "left_anti")
    store.commitVersion(newShards,
      Some(otherPlacements.union(tablePlacements)), None,
      expectedVersion = Some(baseVersion), gate = gate)
  }

  /** Per-shard min/max of a partition column, as one distributed job —
    * the Spark replacement for the reference's per-shard SELECT min,max
    * loop (§3.3, CitusWorkerNode.java:140-165).
    */
  def computeStats(data: DataFrame, shardCol: String, partitionCol: String): DataFrame =
    CoreOps.minMaxPerGroup(data, shardCol, col(partitionCol))
      .withColumnRenamed(shardCol, "shard_id")

  /** Catalog-resolved stats: the partition column comes from the table's
    * registered metadata — the reference resolves it the same way per sync
    * via `master_get_table_metadata` (CitusMasterNode.java:312-331) rather
    * than requiring callers to know it out-of-band.
    */
  def computeStats(tableId: Long, data: DataFrame, shardCol: String): DataFrame = {
    val partitionCol = store.partitionColumnOf(tableId).getOrElse(
      throw new SyncAbortException(
        s"no partition column registered for table $tableId"))
    computeStats(data, shardCol, partitionCol)
  }
}

object SyncEngine {
  /** Cap on the driver-side skipped-operation sample in SyncResult. */
  val maxSkippedSample = 1000

  private val placementType = StructType(Seq(
    StructField("shard_length", LongType), StructField("hostname", StringType)))

  /** The sync diff as ONE group-by on `shard_id` over a tagged union of
    * its four inputs: source ids, this table's catalog shards, source
    * placements and ALL catalog placements. One row per shard id seen on
    * any side:
    *
    *   - `in_src`, `in_cat`: the id is in the source / this table's catalog;
    *   - `src_pl`: the sorted SET of source placements (shard_length,
    *     hostname) — the deduplicated post-apply placements of the shard;
    *   - `cat_pl`: the sorted LIST of catalog placements, kept only when
    *     `in_cat` (the table scoping; another table's rows never count). A
    *     list, not a set, so a slice with duplicate rows reads as changed;
    *   - `is_new` = in_src ∧ ¬in_cat, `is_old` = in_cat ∧ ¬in_src, and
    *     `pl_changed` = src_pl ≠ cat_pl.
    *
    * At scale this is one shuffle keyed on the (uniform) block id instead
    * of one full-row EXCEPT shuffle per set difference; each shard's
    * arrays are bounded by its replica count. */
  private def shardDiff(sourceIds: DataFrame, catalogShards: DataFrame,
                        sourcePlacements: DataFrame,
                        catalogPlacements: DataFrame): DataFrame = {
    def leg(df: DataFrame, tag: Int, withPl: Boolean): DataFrame =
      df.select(col("shard_id").cast(LongType).as("shard_id"),
        lit(tag).as("tag"),
        (if (withPl) struct(col("shard_length").cast(LongType).as("shard_length"),
          col("hostname").cast(StringType).as("hostname"))
        else lit(null).cast(placementType)).as("pl"))
    def plOf(tag: Int): Column = when(col("tag") === tag, col("pl"))
    leg(sourceIds, 0, withPl = false)
      .union(leg(catalogShards, 1, withPl = false))
      .union(leg(sourcePlacements, 2, withPl = true))
      .union(leg(catalogPlacements, 3, withPl = true))
      .groupBy("shard_id")
      .agg(bool_or(col("tag") === 0).as("in_src"),
        bool_or(col("tag") === 1).as("in_cat"),
        array_sort(collect_set(plOf(2))).as("src_pl"),
        array_sort(collect_list(plOf(3))).as("cat_all"))
      .select(col("shard_id"), col("in_src"), col("in_cat"), col("src_pl"),
        filter(col("cat_all"), _ => col("in_cat")).as("cat_pl"))
      .withColumn("is_new", col("in_src") && !col("in_cat"))
      .withColumn("is_old", col("in_cat") && !col("in_src"))
      .withColumn("pl_changed", col("src_pl") =!= col("cat_pl"))
  }

  /** Default worker stage: every DDL op succeeds (the strict-path limit of
    * the tolerant sync). */
  val allOk: DataFrame => DataFrame =
    _.withColumn("ok", lit(true))

  /** Deterministic failure injection for tests: an op fails iff
    * pred(row) — e.g. hash-based sampling — holds. */
  def failWhere(pred: Column): DataFrame => DataFrame =
    _.withColumn("ok", !pred)
}
