package graft.meta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Two writers raced for the same catalog version; the loser must retry
  * against the new state (the reference surfaces the same condition as a
  * serialization failure of its PostgreSQL transaction block). */
class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** Parquet-backed metadata catalog with atomic multi-table commits.
  *
  * The reference keeps its catalog in PostgreSQL and wraps each sync in one
  * JDBC transaction (CitusMasterNode.java:108-126): observers see the old
  * state or the new state, never a partial apply (README.md:15-19). Here
  * the same contract is a versioned-directory layout with a single pointer
  * file — a minimal Delta-style log:
  *
  *   root/v<N>/shards/…parquet, root/v<N>/placements/…parquet,
  *   root/v<N>/tables/…parquet (absent in old versions → empty)
  *   root/v<N>/_claim              ← created exclusively; writer's lease
  *   root/v<N>/_committed          ← data complete (written pre-flip)
  *   root/_current                 ← contains "<N>"; one-file flip = commit
  *
  * Readers resolve `_current` then read that version's directories, so a
  * crash mid-write leaves a dangling uncommitted v<N+1> and an intact
  * catalog. Re-running sync converges (idempotence, README.md:10-13).
  * At scale the pointer flip is O(1) regardless of table size, and writes
  * are plain distributed parquet jobs.
  *
  * Concurrency: the version number is claimed EXCLUSIVELY before any data
  * is written — `fs.create(v<N+1>/_claim, overwrite=false)` fails for the
  * second writer, which gets a ConcurrentCommitException instead of the
  * two writers' parquet files silently interleaving under one version.
  * This serializes commits; it does NOT retry the loser's work against the
  * winner's state (the reference got that from Postgres transactions) —
  * callers that race must re-read and re-diff, which the sync engine's
  * idempotent re-run does naturally.
  *
  * Committed `placements` are duplicate-free as written by the sync engine
  * (snapshots are deduplicated before commit). An externally seeded
  * catalog with duplicate rows degrades nothing: the sync compares each
  * shard's sorted placement list against the source's set, so the
  * duplicate reads as a change and the next sync rewrites the slice
  * deduplicated.
  */
class MetaStore(spark: SparkSession, root: String) {

  val shardsSchema: StructType = StructType(Seq(
    StructField("table_id", LongType, nullable = false),
    StructField("shard_id", LongType, nullable = false),
    StructField("storage", StringType, nullable = false),
    StructField("min_value", StringType, nullable = true),
    StructField("max_value", StringType, nullable = true)))

  val placementsSchema: StructType = StructType(Seq(
    StructField("shard_id", LongType, nullable = false),
    StructField("shard_length", LongType, nullable = false),
    StructField("hostname", StringType, nullable = false)))

  /** Logical-table metadata — the analog of the partition-column half of
    * `master_get_table_metadata` (CitusMasterNode.java:312-331): which
    * column a table's min/max shard statistics are computed over. */
  val tablesSchema: StructType = StructType(Seq(
    StructField("table_id", LongType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("partition_column", StringType, nullable = true)))

  private val rootPath = new Path(root)
  private def fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val pointer = new Path(rootPath, "_current")

  /** All `v<N>` version directories under the root, as (version, path) —
    * the single parser for the three scans (commit / repair / vacuum). */
  private def versionDirs(): Seq[(Long, Path)] =
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit))
          Some((n.drop(1).toLong, s.getPath))
        else None
      }

  private def isCommitted(p: Path): Boolean = fs.exists(new Path(p, "_committed"))

  def currentVersion: Long = {
    if (!fs.exists(pointer)) -1L
    else {
      val in = fs.open(pointer)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
  }

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def table(name: String, schema: StructType): DataFrame = {
    val v = currentVersion
    if (v < 0 || !fs.exists(new Path(rootPath, s"v$v/$name"))) empty(schema)
    else spark.read.schema(schema).parquet(s"$root/v$v/$name")
  }

  def shards: DataFrame = table("shards", shardsSchema)
  def placements: DataFrame = table("placements", placementsSchema)
  def tables: DataFrame = table("tables", tablesSchema)

  /** Time travel: read a table AT a specific committed version — free with
    * the versioned-directory layout (old versions are immutable until
    * vacuumed). Returns empty for never-written versions, like `table`.
    */
  def tableAt(version: Long, name: String): DataFrame = {
    val schema = name match {
      case "shards" => shardsSchema
      case "placements" => placementsSchema
      case "tables" => tablesSchema
      case other => throw new IllegalArgumentException(s"unknown table $other")
    }
    if (version < 0 || !fs.exists(new Path(rootPath, s"v$version/$name")))
      empty(schema)
    else spark.read.schema(schema).parquet(s"$root/v$version/$name")
  }

  def shardsAt(version: Long): DataFrame = tableAt(version, "shards")
  def placementsAt(version: Long): DataFrame = tableAt(version, "placements")

  /** Roll the catalog back to an earlier committed version — an O(1)
    * pointer flip, exactly like commit; nothing is copied. The abandoned
    * versions' directories stay on disk (auditable) until vacuumed; the
    * next commit claims one PAST the highest existing version, so rolled-
    * back history is never overwritten.
    */
  def rollback(version: Long): Long = {
    require(version >= 0 && fs.exists(new Path(rootPath, s"v$version/_committed")),
      s"version $version was never committed")
    val out = fs.create(pointer, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    version
  }

  /** Audit diff between two committed versions — the complement of time
    * travel: which shard rows were added and which removed, per table.
    * Plain EXCEPTs over the two immutable snapshots (the same diff algebra
    * the sync engine runs against live sources).
    */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val a = shardsAt(fromVersion).select("table_id", "shard_id")
    val b = shardsAt(toVersion).select("table_id", "shard_id")
    b.except(a).withColumn("change", lit("added"))
      .unionByName(a.except(b).withColumn("change", lit("removed")))
  }

  /** Recovery from a writer that died between claiming a version and
    * committing it: such a claim-only directory (no `_committed` marker)
    * blocks every later commit with ConcurrentCommitException — by design,
    * because silently stealing a claim would let a STALLED-not-dead writer
    * and its usurper interleave files under one version. `repair` deletes
    * claim-only versions whose claim is older than `olderThanMs` (default
    * 1 h — far beyond any real commit duration) and returns them; run it
    * from the operational loop the way Delta runs FSCK. Never touches
    * committed versions.
    */
  def repair(olderThanMs: Long = 60L * 60 * 1000): Seq[Long] = {
    val now = System.currentTimeMillis()
    val stale = versionDirs()
      .filter { case (_, p) =>
        val claim = new Path(p, "_claim")
        !isCommitted(p) && fs.exists(claim) &&
          now - fs.getFileStatus(claim).getModificationTime > olderThanMs
      }
      .map(_._1).sorted
    stale.foreach(v => fs.delete(new Path(rootPath, s"v$v"), true))
    stale
  }

  /** Drop version directories older than `keepLast` versions behind the
    * head (never the head itself, never versions ABOVE the head — those are
    * rolled-back-but-preserved history that commit() deliberately skips
    * past). Returns the versions removed. Readers of vacuumed versions fail
    * like any deleted-file read — retention is the caller's contract, the
    * same tradeoff as Delta VACUUM.
    */
  def vacuum(keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val head = currentVersion
    val cutoff = head - keepLast
    val removed = versionDirs().map(_._1)
      .filter(v => v < cutoff && v != head)
      .sorted
    removed.foreach(v => fs.delete(new Path(rootPath, s"v$v"), true))
    removed
  }

  /** Commit statistics of a committed version — the row counts observed
    * during that commit's own write jobs (no scan). Empty for versions
    * written before manifests existed. */
  def manifest(version: Long): Map[String, Long] = {
    val p = new Path(rootPath, s"v$version/_manifest.json")
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      // {"name":count,...} — flat single-level JSON written by commit()
      "\"([a-z]+)\":(\\d+)".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
  }

  /** Typed views — the pipeline's row types as case-class Datasets
    * (SURVEY §1.3: metadata pipeline is typed, user data stays dynamic). */
  def shardsDs: Dataset[ShardInfo] = {
    import spark.implicits._
    shards.as[ShardInfo]
  }
  def placementsDs: Dataset[ShardPlacement] = {
    import spark.implicits._
    placements.as[ShardPlacement]
  }

  /** The partition column registered for a table, if any — what the
    * reference fetches per sync via `master_get_table_metadata` so the
    * stats path knows which column to aggregate (SURVEY §3.3). */
  def partitionColumnOf(tableId: Long): Option[String] =
    tables.where(col("table_id") === tableId)
      .select("partition_column").limit(1).collect()
      .headOption.flatMap(r => Option(r.getString(0)))

  /** Upsert one logical table's metadata row (name + partition column).
    * Shards/placements are carried forward unchanged into the new version.
    */
  def registerTable(tableId: Long, name: String,
                    partitionColumn: Option[String]): Long = {
    import spark.implicits._
    val base = currentVersion
    val updated = tables.where(col("table_id") =!= tableId)
      .unionByName(Seq((tableId, name, partitionColumn))
        .toDF("table_id", "table_name", "partition_column"))
    // only the tiny tables table changes — shards/placements carry forward
    // as filesystem copies, not Spark rewrites
    commitVersion(None, None, Some(updated), expectedVersion = Some(base))
  }

  /** Atomically replace the catalog tables: claim v<N+1> exclusively,
    * write it fully, mark `_committed`, then flip the pointer (single-file
    * overwrite). Old state remains readable until the flip — the
    * observable contract of the reference's master transaction.
    * `newTables` defaults to carrying the current table-metadata forward.
    *
    * `expectedVersion` is the optimistic-concurrency check: pass the version
    * the new state was DERIVED from (the snapshot read at the start of the
    * diff), and the commit aborts if any other writer committed in between —
    * even one that finished long before this commit started. Claiming alone
    * only detects writers racing for the SAME version number; a writer that
    * read v<N>, slept, and committed after a rival's v<N+1> would otherwise
    * silently drop the rival's changes (lost update). With every writer
    * passing its base version, commits are serializable: the claim orders
    * writers, the version check rejects stale derivations. The reference
    * gets the same guarantee from its PostgreSQL transaction block. `None`
    * skips the check — single-writer deployments only.
    *
    * @throws ConcurrentCommitException if another writer claimed v<N+1>
    *         first, or if the catalog advanced past `expectedVersion`;
    *         re-read the catalog and retry the whole operation. A claim
    *         whose writer CRASHED (claim-only dir, never committed) keeps
    *         conflicting until `repair()` clears it — intentionally, since
    *         only an age threshold can distinguish a dead writer from a
    *         stalled one.
    */
  def commit(newShards: DataFrame, newPlacements: DataFrame,
             newTables: Option[DataFrame] = None,
             expectedVersion: Option[Long] = None): Long =
    commitVersion(Some(newShards), Some(newPlacements), newTables,
      expectedVersion)

  /** The general commit: `None` for a table means its content is UNCHANGED
    * from the current version — it is carried into the new version as a
    * filesystem copy (a server-side copy on object stores) instead of a
    * Spark scan+rewrite. An unchanged multi-GB catalog table then costs no
    * job at all — the same design that lets log-structured table formats
    * advance versions without touching unchanged data files. Callers are
    * responsible for the "unchanged" claim (the sync engine derives it
    * from its own diffs).
    *
    * `gate` is a validation action (e.g. the tolerant sync's guards)
    * evaluated CONCURRENTLY with the write jobs: its failure aborts the
    * commit with the catalog untouched — the pointer never flips and the
    * claimed version directory is deleted, exactly like a failed
    * `expectedVersion` check. Overlapping validation with the writes
    * removes a sequential job from every guarded commit while preserving
    * the observable contract (old state or new state, never partial). */
  private[graft] def commitVersion(newShards: Option[DataFrame],
                                   newPlacements: Option[DataFrame],
                                   newTables: Option[DataFrame],
                                   expectedVersion: Option[Long],
                                   gate: Option[() => Unit] = None): Long = {
    // One past BOTH the head and the highest COMMITTED version on disk:
    // after a rollback the head is behind abandoned-but-committed versions,
    // and re-claiming one of those must not conflict spuriously. Only
    // versions bearing the _committed marker are skipped — an in-flight
    // rival has a claim but no marker, so racing writers still serialize
    // through the claim conflict.
    val maxCommitted = versionDirs()
      .collect { case (v, p) if isCommitted(p) => v }
      .foldLeft(-1L)(math.max)
    val next = math.max(currentVersion, maxCommitted) + 1
    val claim = new Path(rootPath, s"v$next/_claim")
    try fs.create(claim, false).close()
    catch {
      // only an actual claim collision is the documented retry condition —
      // a disk-full/permission IOException must surface as itself, or a
      // retry loop spins forever on a persistent fault
      case e: java.io.IOException =>
        if (fs.exists(claim))
          throw new ConcurrentCommitException(
            s"version $next already claimed by another writer (root=$root)")
        else throw e
    }
    // Stale-derivation check, AFTER the claim so it races with nobody: the
    // claim serializes writers, so if the head still equals the base version
    // here, no rival can commit before this writer's flip (any rival targets
    // a later version and will fail ITS check). Abandon the claim on
    // failure — this writer wrote nothing under it.
    expectedVersion.foreach { expected =>
      val head = currentVersion
      if (head != expected) {
        fs.delete(new Path(rootPath, s"v$next"), true)
        throw new ConcurrentCommitException(
          s"catalog advanced to v$head while this writer derived its state " +
            s"from v$expected (root=$root) — re-read and retry")
      }
    }
    // The table writes are independent jobs — run them concurrently
    // (cluster schedulers interleave their stages; the commit is gated on
    // all completing before the pointer flip either way). Each write
    // carries an `observe` so the committed row counts are captured from
    // the write jobs THEMSELVES — commit statistics with zero extra
    // actions (a separate count() would re-run each plan).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.Observation
    implicit val ec: ExecutionContext = ExecutionContext.global
    val head = currentVersion // stable: the claim serializes writers
    // REBALANCE before the write: AQE sizes the output files to its
    // advisory partition size, so a catalog write is a few well-sized
    // files instead of one near-empty file per shuffle partition — at
    // metadata scale that is ONE file (and ~60 fewer committer
    // create/rename round trips per commit on a contended filesystem);
    // at 100 TB catalog scale the same hint splits to ~64 MB files.
    def write(df: DataFrame, name: String): Long = {
      val o = Observation()
      df.hint("rebalance")
        .observe(o, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/v$next/$name")
      o.get("n").asInstanceOf[Long]
    }
    // Unchanged table: filesystem copy of the current version's directory,
    // row count taken from the manifest of the version that actually wrote
    // the data (a read-back count job only for pre-manifest versions). An
    // absent directory (empty catalog) stays absent — readers treat a
    // missing table directory as empty.
    def carry(name: String): Long = {
      val srcDir = new Path(rootPath, s"v$head/$name")
      if (head < 0 || !fs.exists(srcDir)) 0L
      else {
        org.apache.hadoop.fs.FileUtil.copy(fs, srcDir, fs,
          new Path(rootPath, s"v$next/$name"), false,
          spark.sparkContext.hadoopConfiguration)
        manifest(head).getOrElse(name,
          spark.read.parquet(s"$root/v$next/$name").count())
      }
    }
    def put(df: Option[DataFrame], name: String): Future[(String, Long)] =
      Future(name -> df.fold(carry(name))(write(_, name)))
    val gateF = Future(gate.foreach(_.apply()))
    val writesF = Future.sequence(Seq(
      put(newShards, "shards"),
      put(newPlacements, "placements"),
      put(newTables, "tables")))
    // the gate races the writes; its failure aborts BEFORE any visible
    // state change (writes settle first so the delete is clean)
    val writesTry = scala.util.Try(Await.result(writesF, Duration.Inf))
    try Await.result(gateF, Duration.Inf)
    catch {
      case e: Throwable =>
        fs.delete(new Path(rootPath, s"v$next"), true)
        throw e
    }
    // manifest: the observed row counts, written BEFORE the marker so any
    // version bearing _committed also has its stats
    val counts = writesTry.get.toMap
    val mOut = fs.create(new Path(rootPath, s"v$next/_manifest.json"), true)
    try mOut.write(
      counts.toSeq.sortBy(_._1)
        .map { case (n, c) => s""""$n":$c""" }
        .mkString("{", ",", "}").getBytes("UTF-8"))
    finally mOut.close()
    // marker: this version's data is complete (distinguishes abandoned
    // committed versions from in-flight claims after a rollback)
    fs.create(new Path(rootPath, s"v$next/_committed"), true).close()
    val out = fs.create(pointer, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    next
  }
}
