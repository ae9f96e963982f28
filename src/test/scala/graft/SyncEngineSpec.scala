package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.{MetaStore, ShardInfo, ShardPlacement}
import graft.sync.{SyncAbortException, SyncEngine}

/** Golden sync scenarios from FIXTURES.md §B (the reference's README
  * contracts: idempotence, atomicity, abort guards). */
class SyncEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(): (MetaStore, SyncEngine) = {
    val root = java.nio.file.Files.createTempDirectory("graft_test_meta_").toString
    val store = new MetaStore(spark, root)
    (store, new SyncEngine(spark, store))
  }

  private def ids(xs: Long*): DataFrame = xs.toDF("shard_id")
  private def pl(xs: (Long, Long, String)*): DataFrame =
    xs.map(x => ShardPlacement(x._1, x._2, x._3)).toDF()
  private def seed(store: MetaStore): Unit = {
    val shards = Seq(ShardInfo(1L, 10L, "f", None, None),
      ShardInfo(1L, 11L, "f", None, None)).toDF()
    store.commit(shards, pl((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a")))
  }

  private def placementSet(store: MetaStore): Set[(Long, Long, String)] =
    store.placements.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
  private def shardIdSet(store: MetaStore): Set[Long] =
    store.shards.collect().map(_.getAs[Long]("shard_id")).toSet

  test("scenario 1: no-op — identical snapshots write nothing") {
    val (store, engine) = freshStore()
    seed(store)
    val v0 = store.currentVersion
    val v1 = engine.sync(1L, ids(10L, 11L),
      pl((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a")))
    assert(v1 == v0, "no-op sync must not commit a new version")
  }

  test("scenario 2: add blocks (including a negative shard id)") {
    val (store, engine) = freshStore()
    seed(store)
    engine.sync(1L, ids(10L, 11L, -5L),
      pl((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a"), (-5L, 7L, "c")))
    assert(shardIdSet(store) == Set(10L, 11L, -5L))
    assert(placementSet(store).contains((-5L, 7L, "c")))
  }

  test("scenario 3: remove blocks") {
    val (store, engine) = freshStore()
    seed(store)
    engine.sync(1L, ids(10L), pl((10L, 100L, "a"), (10L, 100L, "b")))
    assert(shardIdSet(store) == Set(10L))
    assert(placementSet(store) == Set((10L, 100L, "a"), (10L, 100L, "b")))
  }

  test("scenario 4: replica churn — placement diff without shard diff") {
    val (store, engine) = freshStore()
    seed(store)
    engine.sync(1L, ids(10L, 11L),
      pl((10L, 100L, "a"), (10L, 100L, "c"), (11L, 200L, "a")))
    assert(shardIdSet(store) == Set(10L, 11L))
    assert(placementSet(store) == Set((10L, 100L, "a"), (10L, 100L, "c"), (11L, 200L, "a")))
  }

  test("scenario 5: orphan guard — removal leaving a placement aborts, state intact") {
    val (store, engine) = freshStore()
    seed(store)
    val before = (store.currentVersion, placementSet(store), shardIdSet(store))
    // id set says 11 is gone, but the placement snapshot still lists it
    val e = intercept[SyncAbortException] {
      engine.sync(1L, ids(10L),
        pl((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a")))
    }
    assert(e.getMessage.contains("11"))
    assert((store.currentVersion, placementSet(store), shardIdSet(store)) == before,
      "aborted sync must leave the catalog untouched (atomicity)")
  }

  test("scenario 6: unplaced guard — new shard with zero placements aborts") {
    val (store, engine) = freshStore()
    seed(store)
    val before = store.currentVersion
    intercept[SyncAbortException] {
      engine.sync(1L, ids(10L, 11L, 99L),
        pl((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a")))
    }
    assert(store.currentVersion == before)
  }

  test("scenario 7: idempotence — sync(sync(s)) == sync(s)") {
    val (store, engine) = freshStore()
    seed(store)
    val src = pl((10L, 100L, "x"), (12L, 5L, "y"), (12L, 5L, "z"))
    val srcIds = ids(10L, 12L)
    val v1 = engine.sync(1L, srcIds, src)
    val state1 = (placementSet(store), shardIdSet(store))
    val v2 = engine.sync(1L, srcIds, src)
    assert(v2 == v1, "second sync must be a no-op")
    assert((placementSet(store), shardIdSet(store)) == state1)
    assert(placementSet(store) == Set((10L, 100L, "x"), (12L, 5L, "y"), (12L, 5L, "z")),
      "after sync the catalog equals the source snapshot (convergence)")
  }

  test("scenario 8: two tables — syncing one leaves the other's slice intact") {
    val (store, engine) = freshStore()
    // table 1: shards 10, 11; table 2: shards 20, 21 (shard ids globally
    // unique, as in the reference — they are HDFS block ids)
    val shards = Seq(
      ShardInfo(1L, 10L, "f", None, None), ShardInfo(1L, 11L, "f", None, None),
      ShardInfo(2L, 20L, "f", None, None), ShardInfo(2L, 21L, "f", None, None)).toDF()
    store.commit(shards, pl(
      (10L, 100L, "a"), (11L, 200L, "a"), (20L, 300L, "x"), (21L, 400L, "y")))

    // replica churn + shard add on table 1 only
    engine.sync(1L, ids(10L, 12L), pl((10L, 100L, "b"), (12L, 5L, "c")))

    // table 2's shards AND placements are untouched
    assert(store.shards.where(col("table_id") === 2L).count() == 2)
    assert(placementSet(store) ==
      Set((10L, 100L, "b"), (12L, 5L, "c"), (20L, 300L, "x"), (21L, 400L, "y")),
      "table 2's placements must survive a table-1 sync")
    assert(shardIdSet(store) == Set(10L, 12L, 20L, 21L))

    // no-op fast path must hold per table even with the other table present
    val v = store.currentVersion
    assert(engine.sync(1L, ids(10L, 12L), pl((10L, 100L, "b"), (12L, 5L, "c"))) == v,
      "table-scoped re-sync must be a no-op despite table 2's rows")
    assert(engine.sync(2L, ids(20L, 21L), pl((20L, 300L, "x"), (21L, 400L, "y"))) == v,
      "table-2 re-sync must also be a no-op")
  }

  test("min/max stats attach to new shards (--fetch-min-max path)") {
    val (store, engine) = freshStore()
    seed(store)
    val stats = Seq((12L, "1", "9")).toDF("shard_id", "min_value", "max_value")
    engine.sync(1L, ids(10L, 11L, 12L),
      pl((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a"), (12L, 5L, "y")),
      Some(stats))
    val row = store.shards.where(col("shard_id") === 12L).collect().head
    assert(row.getAs[String]("min_value") == "1")
    assert(row.getAs[String]("max_value") == "9")
    // pre-existing shards keep their (null) stats
    val old = store.shards.where(col("shard_id") === 10L).collect().head
    assert(old.getAs[String]("min_value") == null)
  }

  test("a snapshot breaking both guards aborts with the orphan message") {
    val (store, engine) = freshStore()
    seed(store)
    val before = (store.currentVersion, placementSet(store), shardIdSet(store))
    // 11 removed but still placed (J5) AND 99 new but unplaced (J6): the
    // orphan guard is checked first, as in the reference
    val e = intercept[SyncAbortException] {
      engine.sync(1L, ids(10L, 99L),
        pl((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a")))
    }
    assert(e.getMessage == "shard 11 was removed but still has placements")
    assert((store.currentVersion, placementSet(store), shardIdSet(store)) == before)
  }

  test("a re-run over a catalog slice with duplicate rows rewrites it deduplicated") {
    val (store, engine) = freshStore()
    val shards = Seq(ShardInfo(1L, 10L, "f", None, None),
      ShardInfo(1L, 11L, "f", None, None)).toDF()
    // an externally seeded catalog: (10,100,a) twice
    store.commit(shards,
      pl((10L, 100L, "a"), (10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a")))
    val src = pl((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a"))
    val v0 = store.currentVersion
    val v1 = engine.sync(1L, ids(10L, 11L), src)
    assert(v1 > v0, "a duplicate-bearing slice reads as changed")
    assert(store.placements.count() == 3 &&
      placementSet(store) == Set((10L, 100L, "a"), (10L, 100L, "b"), (11L, 200L, "a")),
      "the slice is rewritten without the duplicate")
    assert(engine.sync(1L, ids(10L, 11L), src) == v1, "then the re-run is a no-op")
  }

  test("job budget: a no-op sync runs <= 4 Spark jobs, a delta sync <= 10") {
    // the per-shard diff is one group-by: a no-op is that shuffle, the
    // pin and one summary aggregate; a delta adds only the commit writes.
    // The five except/count probes this replaced ran 15 and 21 jobs.
    val (store, engine) = freshStore()
    val t1 = (0L until 40L).map(i => 1000L + i)
    val t2 = (0L until 40L).map(i => 5000L + i)
    val hosts = Seq("a", "b", "c", "d")
    def placed(xs: Seq[Long]) = xs.flatMap(id =>
      Seq(0, 1).map(r => (id, id % 7, hosts(((id + r) % 4).toInt))))
    store.commit(
      (t1.map(ShardInfo(1L, _, "f", None, None)) ++
        t2.map(ShardInfo(2L, _, "f", None, None))).toDF(),
      pl(placed(t1) ++ placed(t2): _*))
    val v0 = store.currentVersion
    // warm the code paths once (the budget is about steady-state cycles)
    assert(engine.sync(1L, ids(t1: _*), pl(placed(t1): _*)) == v0)

    val (noop, _) = TestSpark.traced {
      assert(engine.sync(1L, ids(t1: _*), pl(placed(t1): _*)) == v0)
    }
    assert(noop.size <= 4, s"no-op sync ran ${noop.size} jobs:\n${noop.mkString("\n")}")

    // delta: 3 shards removed, 3 added, replicas of 3 more moved
    val next = t1.drop(3) ++ (0L until 3L).map(i => 2000L + i)
    val nextPl = placed(next).map {
      case (id, len, h) if id < 1006L => (id, len, "z" + h)
      case p => p
    }
    val (delta, _) = TestSpark.traced {
      assert(engine.sync(1L, ids(next: _*), pl(nextPl: _*)) > v0)
    }
    assert(delta.size <= 10, s"delta sync ran ${delta.size} jobs:\n${delta.mkString("\n")}")
    assert(shardIdSet(store) == (next ++ t2).toSet)
    assert(placementSet(store) == (nextPl ++ placed(t2)).toSet)
  }
}
