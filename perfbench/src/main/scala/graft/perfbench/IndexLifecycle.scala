package graft.perfbench

import scala.collection.immutable.SortedSet

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Similarity

/** A persisted IVF index (`Similarity.ivfIndex*`) over generated
  * `embeddings`, driven by a seeded mix of idempotent appends, deletes,
  * compactions and top-k probes (reads are the largest share). Writes and
  * reads share one on-disk layout, so the files appends leave between
  * compactions show up in probe cost. The text index (`TextIndex.*`)
  * publishes, deletes and compacts through the same layout code and is
  * not driven separately.
  *
  * Checks (off the clock): every probe returns only live ids, probes give
  * identical results before and after each compaction, and at the end the
  * probe's recall against `bruteForceTopK` over the live corpus is at
  * least the 0.6 floor `graft.Bench` uses. */
final class IndexLifecycle(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  import spark.implicits._

  private val Base = 1500L
  private val Pool = 2500L
  private val AppendBatch = 40L
  private val DeleteBatch = 20
  private val Centroids = 8
  private val NProbe = 5
  private val K = 5
  private val RecallFloor = 0.6

  private val rnd = new scala.util.Random(seed ^ 0x5eed)
  private var inputs: String = _
  private var emb: DataFrame = _
  private var path: String = _
  private var live = SortedSet.empty[Long]
  private var nextAppend = Base
  private var tokens = 0
  private var recall = 0.0

  def generate(dir: String): Unit = {
    val gen = new Gen(spark, seed, 1.0)
    gen.write(dir, Seq("embeddings" -> gen.embeddings(0, Pool)))
    inputs = dir
  }

  def setup(dir: String): Unit = {
    emb = tracer.span("tables.load")(Tables.load(spark, inputs, "embeddings"))
    path = s"$dir/ivf"
    tracer.span("index.build")(Similarity.ivfIndexBuild(
      emb.where(col("vec_id") < Base), "vec_id", "embedding", path,
      nCentroids = Centroids))
    live = SortedSet.from(0L until Base)
    nextAppend = Base; tokens = 0
  }

  private def sample(n: Int): Seq[Long] = {
    val v = live.toVector
    Seq.fill(n)(v(rnd.nextInt(v.size))).distinct
  }

  private def probe(ids: Seq[Long]): Array[Row] =
    tracer.span("index.probe")(Similarity.ivfIndexProbe(
      emb.where(col("vec_id").isin(ids: _*)), "vec_id", "embedding", path,
      k = K, nprobe = NProbe).collect())

  private def probeOp(): Op = {
    val ids = sample(8); val alive = live
    var rows: Array[Row] = Array.empty
    Op("index_probe", run = () => rows = probe(ids), check = () =>
      rows.map(_.getAs[Long]("nid")).find(id => !alive.contains(id))
        .foreach(id => throw new AssertionError(s"probe returned deleted id $id")))
  }

  private def append(): Op = {
    val (lo, hi) = (nextAppend, math.min(Pool, nextAppend + AppendBatch))
    nextAppend = hi; tokens += 1
    val tok = s"a$tokens"
    live = live ++ (lo until hi)
    Op("index_append", run = () => tracer.span("index.append") {
      Similarity.ivfIndexAppendIdempotent(
        emb.where(col("vec_id") >= lo && col("vec_id") < hi),
        "vec_id", "embedding", path, tok)
    }, write = true, inputBytes = (hi - lo) * (8L + 64 * 4 + 4))
  }

  private def delete(): Op = {
    val ids = sample(DeleteBatch)
    tokens += 1
    val tok = s"d$tokens"
    live = live -- ids
    val df = ids.toDF("vec_id")
    Op("index_delete", run = () => tracer.span("index.delete") {
      Similarity.ivfIndexDeleteIdempotent(df, "vec_id", path, tok)
    }, write = true, inputBytes = ids.size * 8L)
  }

  private def compact(): Op = {
    val ids = sample(8)
    var before: Seq[Row] = Nil
    Op("index_compact", prepare = () => before = probe(ids).toSeq,
      run = () => tracer.span("index.compact") {
        Similarity.ivfIndexCompact(spark, path)
      },
      check = () =>
        if (probe(ids).toSeq != before)
          throw new AssertionError("probes differ across a compaction"),
      write = true)
  }

  /** Probes after each write, then the periodic compaction. The order is
    * fixed because probe cost depends on the files written since the last
    * compaction: every run pays the same growth, and the seed chooses only
    * the vectors appended, deleted and probed. */
  def round(): Iterator[Op] =
    Iterator("append", "probe", "delete", "probe", "compact").map {
      case "probe" => probeOp()
      case "append" => append()
      case "delete" => delete()
      case "compact" => compact()
    }

  override def finish(): Unit = {
    val ids = sample(50)
    val liveEmb = emb.join(live.toSeq.toDF("vec_id"), Seq("vec_id"), "left_semi")
    val exact = Similarity.bruteForceTopK(liveEmb, "vec_id", "embedding",
      _.isin(ids: _*), k = K)
    val ann = Similarity.ivfIndexProbe(liveEmb.where(col("vec_id").isin(ids: _*)),
      "vec_id", "embedding", path, k = K, nprobe = NProbe)
    recall = Similarity.annHits(ann, exact)
      .agg(avg(col("hits") / K.toDouble)).head.getDouble(0)
    if (recall < RecallFloor)
      throw new AssertionError(f"IVF recall $recall%.3f below the floor $RecallFloor")
  }

  override def layerMetrics(): Map[String, Double] = {
    val dir = new org.apache.hadoop.fs.Path(Similarity.ivfIndexDirs(spark, path)._1)
    val it = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(dir, true)
    var n = 0L; var b = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; b += f.getLen }
    }
    Map("index.files" -> n.toDouble, "index.bytes_on_disk" -> b.toDouble)
  }

  override def extraMetrics(samples: Seq[Sample]): Map[String, Double] = {
    val idx = samples.filter(_.kind.startsWith("index_"))
    Map("ivf_recall" -> recall,
      "index_write_p50_s" -> Stats.median(idx.filter(_.write).map(_.seconds)),
      "index_read_p50_s" -> Stats.median(idx.filterNot(_.write).map(_.seconds)))
  }
}

/** Several workloads in one closed loop: set-ups run in turn, and each
  * round takes one operation from each part's round in turn, keeping every
  * part's own operation order. */
final class Combined(parts: Seq[Workload]) extends Workload {

  def generate(dir: String): Unit =
    parts.zipWithIndex.foreach { case (p, i) => p.generate(s"$dir/part$i") }
  def setup(dir: String): Unit =
    parts.zipWithIndex.foreach { case (p, i) => p.setup(s"$dir/part$i") }

  def round(): Iterator[Op] = {
    val its = parts.map(_.round())
    Iterator.continually(its.iterator.filter(_.hasNext).map(_.next()))
      .takeWhile(_.hasNext).flatten
  }

  override def finish(): Unit = parts.foreach(_.finish())
  override def layerMetrics(): Map[String, Double] =
    parts.map(_.layerMetrics()).reduce(_ ++ _)
  override def extraMetrics(samples: Seq[Sample]): Map[String, Double] =
    parts.map(_.extraMetrics(samples)).reduce(_ ++ _)
}
