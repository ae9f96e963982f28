package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-gated materialization for multi-consumer intermediate frames.
  *
  * Several operators compute a corpus-derived frame once and feed it to
  * multiple differently-shaped consumers (ReuseExchange only dedupes
  * identical exchange subtrees inside one plan). The default pin is a
  * LAZY `localCheckpoint`: it materializes inside whichever action runs
  * first, adds no extra job, and truncates lineage — but its blocks live
  * only on executor-local storage, so on a real cluster an executor loss
  * or dynamic-allocation decommission makes the query unrecoverable
  * (there is no lineage left to recompute from).
  *
  * Cluster deployments opt into recomputable caching with
  * `spark.graft.reliableCache=true`: the pin becomes
  * `persist(MEMORY_AND_DISK)`, which keeps the full lineage — an
  * executor loss recomputes the lost blocks from the parquet inputs —
  * at the cost of retained plan size (planner time on very wide plans)
  * and the recompute itself. Local/bench runs keep the default: blocks
  * on the one local "executor" are exactly as durable as the driver.
  *
  * Both modes cache only intra-query intermediates computed from the
  * inputs on every run — never results keyed on the input path.
  */
object Caching {
  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf
      .get("spark.graft.reliableCache", "false").toBoolean

  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    /** Lazy pin: materialized by the first consuming action. */
    def pinned: DataFrame =
      if (reliable(df)) df.persist(StorageLevel.MEMORY_AND_DISK)
      else df.localCheckpoint(eager = false)

    /** Eager pin: materialized now (iterative bases that several
      * subsequent rounds/actions consume). In reliable mode persist is
      * lazy by nature; eagerness there is a scheduling nicety, not a
      * correctness need, so the persist is left to the first action. */
    def pinnedEager: DataFrame =
      if (reliable(df)) df.persist(StorageLevel.MEMORY_AND_DISK)
      else df.localCheckpoint(eager = true)

    /** Release a frame returned by `pinned`/`pinnedEager` now rather than
      * when the driver's ContextCleaner next runs — for pins made once per
      * call of a long-lived operation. The mode is read again, so it must
      * not change between the pin and its release. */
    def unpin(): Unit =
      if (reliable(df)) df.unpersist(blocking = false)
      else df.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
  }
}
