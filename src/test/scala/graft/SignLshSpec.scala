package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity

class SignLshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("sign-LSH ANN: valid shape, honest sims, useful quality vs brute force") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val lsh = Similarity.signLshTopK(emb, "vec_id", "embedding",
      _ < 25, k = 3, nBits = 4).cache()
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      _ < 25, k = 3).cache()

    // shape: ≤ k rows per probe, ranks start at 1 and are consecutive
    val badRank = lsh.groupBy("pid")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"), min(col("rank")).as("mn"))
      .where(col("n") > 3 || col("mx") =!= col("n") || col("mn") =!= 1)
    assert(badRank.isEmpty)

    // an approximate neighbor's sim can never exceed the true best
    val joined = lsh.where(col("rank") === 1).select(col("pid"), col("sim").as("lsh_sim"))
      .join(brute.where(col("rank") === 1).select(col("pid"), col("sim").as("true_sim")),
        "pid")
    assert(joined.where(col("lsh_sim") > col("true_sim")).isEmpty)

    // quality: mean best-in-bucket sim within 50% of the true best —
    // loose on purpose (4-bit signatures, synthetic vectors); the operator
    // contract is bucketed search, recall tunes via nBits
    val Array(meanLsh, meanTrue) = joined
      .agg(avg(col("lsh_sim")), avg(col("true_sim"))).collect().head
      .toSeq.map(_.asInstanceOf[Double]).toArray
    assert(meanTrue > 0 && meanLsh >= 0.5 * meanTrue,
      s"mean LSH top-1 sim $meanLsh too far below true $meanTrue")
  }

  test("PQ ANN: recall@5 above a fixed floor vs brute force") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    // the DECLARED tier's parameters (6-bit packed codebooks, refine=16 —
    // the r9 AnnRecall calibration: ≥0.80 recall at every tested scale)
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", _ < 25, k = 5,
      m = 8, kCodes = 64, refine = 16, dim = 64)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 25, k = 5)
    // recallArtifact pins determinism; this pins QUALITY — a silent
    // codebook bug (e.g. all-zero codewords) would still emit rows but
    // collapse the hit rate
    val recall = Similarity.annHits(pq, brute)
      .agg(avg(col("hits") / 5.0)).collect().head.getDouble(0)
    assert(recall >= 0.7, s"PQ recall@5 $recall below floor 0.7")
  }

  test("IVF+PQ ANN: declared-tier defaults clear the raised recall floor") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val ann = Similarity.ivfpqTopK(emb, "vec_id", "embedding", _ < 25, k = 5,
      nprobe = 32, m = 8, kCodes = 64, refine = 16, dim = 64)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 25, k = 5)
    val recall = Similarity.annHits(ann, brute)
      .agg(avg(col("hits") / 5.0)).collect().head.getDouble(0)
    assert(recall >= 0.6, s"IVF+PQ recall@5 $recall below floor 0.6 " +
      "(calibrated 0.74–0.88 across sf0.001–0.1; see tools/AnnRecall)")
  }

  test("PQ ANN: packed-long codes return results identical to array<int> codes") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    def run(packed: Boolean) =
      Similarity.pqTopKImpl(emb, "vec_id", "embedding", _ < 25, k = 5,
        m = 8, kCodes = 16, lloydIters = 1, refine = 8, dim = 64, packed = packed)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    // the packed encode is the same integers OR-folded into one long and
    // the packed ADC is shift-and-mask lookups of the same table — any
    // divergence is a bit-layout bug
    assert(run(packed = true) == run(packed = false))
    // a configuration too wide to pack (16 subspaces x 4 bits... x 16
    // codes = 64 bits > 63) must fall back to array codes and still work
    val wide = Similarity.pqTopK(emb, "vec_id", "embedding", _ < 3, k = 2,
      m = 16, kCodes = 16, refine = 2, dim = 64)
    assert(wide.count() > 0)
  }

  test("PQ ANN: corpus smaller than kCodes clamps the codebook instead of failing") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings").where(col("vec_id") < 10)
    val out = Similarity.pqTopK(emb, "vec_id", "embedding", _ < 3, k = 2,
      m = 8, kCodes = 16, refine = 2, dim = 64)
    assert(out.count() > 0)
  }

  test("IVF+PQ ANN: ADC candidates come ONLY from each probe's nprobe buckets; recall floor") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val (buckets, candidates, result) = Similarity.ivfpqParts(
      emb, "vec_id", "embedding", _ < 25, k = 5,
      nCentroids = 64, nprobe = 4, m = 8, kCodes = 16, lloydIters = 1,
      refine = 8, dim = 64)
    // the scale property: every ADC candidate's bucket id is one of its
    // probe's selected nprobe buckets — nothing outside them was scanned
    val escaped = candidates.join(buckets, Seq("pid", "cid"), "left_anti")
    assert(escaped.isEmpty, "ADC candidate outside its probe's nprobe buckets")
    // each probe selects at most nprobe buckets
    val overWide = buckets.groupBy("pid").agg(count(lit(1)).as("n"))
      .where(col("n") > 4)
    assert(overWide.isEmpty)
    // shape + honesty: ≤ k rows per probe, approximate sim never exceeds
    // the true best
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 25, k = 5)
      .cache()
    val joined = result.where(col("rank") === 1).select(col("pid"), col("sim").as("a"))
      .join(brute.where(col("rank") === 1).select(col("pid"), col("sim").as("t")), "pid")
    assert(joined.where(col("a") > col("t")).isEmpty)
    // quality floor — nprobe=4 of 64 buckets: loose on purpose (the
    // operator contract is confinement; recall tunes via nprobe)
    val recall = Similarity.annHits(result, brute)
      .agg(avg(col("hits") / 5.0)).collect().head.getDouble(0)
    assert(recall >= 0.3, s"IVF+PQ recall@5 $recall below floor 0.3")
  }

  test("IVF ANN: sims bounded by true best, useful quality") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 25, k = 1)
      .select(col("pid"), col("sim").as("ivf_sim"))
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 25, k = 1)
      .select(col("pid"), col("sim").as("true_sim"))
    val joined = ivf.join(brute, "pid").cache()
    assert(joined.where(col("ivf_sim") > col("true_sim")).isEmpty)
    val Array(meanIvf, meanTrue) = joined
      .agg(avg(col("ivf_sim")), avg(col("true_sim"))).collect().head
      .toSeq.map(_.asInstanceOf[Double]).toArray
    assert(meanTrue > 0 && meanIvf >= 0.6 * meanTrue,
      s"mean IVF top-1 sim $meanIvf too far below true $meanTrue")
  }

  test("jlProject: matches an independent md5-parity reimplementation; zero is fixed") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(0.25f, -0.5f, 1.0f, 0.125f)),
      (2L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = graft.ext.Similarity
      .jlProject(emb, "vec_id", "embedding", inDim = 4, outDim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    def sign(j: Int, d: Int): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_${d}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 0) 1 else -1
    }
    val want = (for {
      (id, v) <- rows
      j <- 0 until 2
    } yield {
      val s = (0 until 4).map(d => sign(j, d) * v(d).toDouble).sum
      val y = BigDecimal(s / math.sqrt(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, j.toLong, y)
    }).toSet
    assert(got == want)
    // the zero vector projects to exactly zero in every output dim
    assert(got.filter(_._1 == 3L).forall(_._3 == 0.0))
  }

  test("powerIteration: recovers a planted dominant axis, Rayleigh in its gap") {
    import spark.implicits._
    // 40 vectors hugging axis 1 (amplitude 2), light noise on axes 0/2/3:
    // the top eigenvector of the second moment must point along dim 1.
    val rows = (0 until 40).map { k =>
      val main = if (k % 2 == 0) 2.0f else -2.0f
      (k.toLong, Array(0.1f * (k % 3), main, 0.05f * (k % 5), 0.1f))
    }
    val got = graft.ext.Similarity
      .powerIteration(rows.toDF("vec_id", "embedding"), "embedding",
        inDim = 4, rounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val xs = got.map(_._2)
    assert(math.abs(xs(1)) == xs.map(math.abs).max,
      s"dominant component must be dim 1: ${xs.mkString(",")}")
    // Rayleigh quotient sits between the planted axis power and the trace
    val eig = got.head._3
    val vecs = rows.map(_._2)
    val planted = vecs.map(v => v(1).toDouble * v(1)).sum
    val trace = vecs.flatMap(_.map(x => x.toDouble * x)).sum
    assert(eig >= planted * 0.99 && eig <= trace * 1.01,
      s"eig=$eig outside [$planted, $trace]")
  }

  test("persisted IVF index: probe ≡ in-query IVF; append never rewrites") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_spec_")
      .toString
    Similarity.ivfIndexBuild(emb, "vec_id", "embedding", path,
      nCentroids = 64, lloydIters = 1)
    // bit-identical to the in-query tier at the same configuration: the
    // model round-trips parquet exactly, the ranking math is shared
    val persisted = Similarity.ivfIndexProbe(emb.where(col("vec_id") < 10),
      "vec_id", "embedding", path, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2))
    val inQuery = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 10,
      k = 5, nCentroids = 64, nprobe = 16, lloydIters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2))
    assert(persisted.toSeq == inQuery.toSeq,
      "persisted probe must equal the in-query IVF tier bit-for-bit")

    // incremental append: existing list files are never read or rewritten
    val path2 = java.nio.file.Files.createTempDirectory("graft_idx_spec2_")
      .toString
    val evens = emb.where(col("vec_id") % 2 === 0)
    val odds = emb.where(col("vec_id") % 2 === 1)
    Similarity.ivfIndexBuild(evens, "vec_id", "embedding", path2,
      nCentroids = 64, lloydIters = 1)
    def files(p: String): Set[String] = {
      val base = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(base)
      try {
        val out = scala.collection.mutable.Set.empty[String]
        s.forEach(f => if (f.toString.endsWith(".parquet"))
          out += base.relativize(f).toString)
        out.toSet
      } finally s.close()
    }
    val idx2 = Similarity.ivfIndexDataDir(spark, path2)
    val before = files(idx2)
    Similarity.ivfIndexAppend(odds, "vec_id", "embedding", path2)
    val after = files(idx2)
    assert(before.subsetOf(after) && after.size > before.size,
      s"append must only add files: before=${before.size} after=${after.size}")
    // and the appended index holds the whole corpus exactly once
    val n = spark.read.parquet(idx2).count()
    assert(n == emb.count(), s"index rows $n != corpus ${emb.count()}")
  }

  test("index compaction: fewer files, identical probe; idempotent append replays exactly-once") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_cmp_")
      .toString
    Similarity.ivfIndexBuild(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nCentroids = 64, lloydIters = 1)
    // two idempotent appends under distinct tokens, then a REPLAY of the
    // second token: the replay must retract its prior files, not add to
    // them — row count stays exactly one copy of the corpus
    val b1 = emb.where(col("vec_id") % 4 === 1)
    val b3 = emb.where(col("vec_id") % 4 === 3)
    Similarity.ivfIndexAppendIdempotent(b1, "vec_id", "embedding", path, "b1")
    Similarity.ivfIndexAppendIdempotent(b3, "vec_id", "embedding", path, "b3")
    Similarity.ivfIndexAppendIdempotent(b3, "vec_id", "embedding", path, "b3")
    val nRows = spark.read.parquet(
      Similarity.ivfIndexDataDir(spark, path)).count()
    assert(nRows == emb.count(),
      s"replayed token must not duplicate: $nRows != ${emb.count()}")

    val probeBefore = Similarity.ivfIndexProbe(
        emb.where(col("vec_id") < 10), "vec_id", "embedding", path,
        k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    val (f0, f1) = Similarity.ivfIndexCompact(spark, path)
    assert(f1 < f0, s"compaction must reduce file count: $f0 -> $f1")
    // post-compaction content: same rows, bit-identical probe
    val nAfter = spark.read.parquet(
      Similarity.ivfIndexDataDir(spark, path)).count()
    assert(nAfter == emb.count(), s"compaction lost rows: $nAfter")
    val probeAfter = Similarity.ivfIndexProbe(
        emb.where(col("vec_id") < 10), "vec_id", "embedding", path,
        k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    assert(probeAfter == probeBefore,
      "probe must be bit-identical across compaction")
  }

  test("compaction publishes via pointer flip: the crash window serves the " +
      "old index (never ENOENT), retention keeps a pre-flip reader's files, " +
      "and a post-compaction token replay stays exactly-once") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_ptr_")
      .toString
    Similarity.ivfIndexBuild(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nCentroids = 64, lloydIters = 1)
    Similarity.ivfIndexAppendIdempotent(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, "b1")

    def probe() = Similarity.ivfIndexProbe(emb.where(col("vec_id") < 10),
        "vec_id", "embedding", path, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    val expected = probe()

    // a reader that resolved the pointer (and listed files) BEFORE the flip
    val resolvedBefore = Similarity.ivfIndexDataDir(spark, path)
    val listedBefore = spark.read.parquet(resolvedBefore).inputFiles.toSet
    assert(listedBefore.nonEmpty)

    // crash-inject in the widest window: new version fully staged, flip
    // never happens — the pointer must still name the OLD version and a
    // probe must read it unchanged (old-or-new, never a missing path)
    Similarity.ivfIndexCompact(spark, path, crashBeforeFlip = true)
    assert(Similarity.ivfIndexDataDir(spark, path) == resolvedBefore,
      "pre-flip crash must leave the old version current")
    assert(probe() == expected, "crash-window probe must see the old index")

    // retried compaction recovers: pointer flips to a fresh version
    val (f0, f1) = Similarity.ivfIndexCompact(spark, path)
    assert(f1 < f0, s"compaction must reduce file count: $f0 -> $f1")
    val resolvedAfter = Similarity.ivfIndexDataDir(spark, path)
    assert(resolvedAfter != resolvedBefore,
      "the pointer must name the new version after the flip")
    assert(probe() == expected, "probe must be bit-identical across compaction")
    // retention: every file a pre-flip reader listed still exists — an
    // in-flight scan keeps reading the retired version for a full cycle
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(listedBefore.forall(f =>
        fs.exists(new org.apache.hadoop.fs.Path(f))),
      "the immediately-previous version must survive the vacuum")

    // replay the committed token AFTER compaction: its file prefixes are
    // gone (compaction wrote plain part files), so only the commit marker
    // keeps the replay a no-op — exactly one corpus copy must remain
    Similarity.ivfIndexAppendIdempotent(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, "b1")
    val n = spark.read.parquet(Similarity.ivfIndexDataDir(spark, path)).count()
    assert(n == emb.count(),
      s"post-compaction replay must not duplicate: $n != ${emb.count()}")
    assert(probe() == expected,
      "post-compaction replay must leave the index unchanged")
  }

  test("index delete: retracts ids from only the affected buckets, " +
      "replays exactly-once, repairs a torn state, empties a whole " +
      "bucket, and compaction gates on an unmarked in-flight delete") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_del_")
      .toString
    Similarity.ivfIndexBuild(emb, "vec_id", "embedding", path,
      nCentroids = 16, lloydIters = 1)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = Similarity.ivfIndexDataDir(spark, path)
    def assignments(): Map[Long, String] =
      spark.read.parquet(idx).select("nid", "bucket")
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    def bucketFiles(): Map[String, Set[String]] =
      fs.listStatus(new org.apache.hadoop.fs.Path(idx))
        .filter(_.isDirectory).map { d =>
          d.getPath.getName ->
            fs.listStatus(d.getPath).map(_.getPath.getName)
              .filter(_.endsWith(".parquet")).toSet
        }.toMap
    val beforeAssign = assignments()
    val beforeFiles = bucketFiles()

    val del = emb.where(col("vec_id") % 7 === 0).select("vec_id")
    val delIds = del.collect().map(_.getLong(0)).toSet
    val affectedExpected =
      delIds.map(i => s"bucket=${beforeAssign(i)}")
    Similarity.ivfIndexDeleteIdempotent(del, "vec_id", path, "t1")

    val afterAssign = assignments()
    assert(delIds.forall(i => !afterAssign.contains(i)),
      "retracted ids must leave the index")
    assert(afterAssign == beforeAssign -- delIds,
      "survivors must keep their exact bucket assignment")
    val afterFiles = bucketFiles()
    val changed = beforeFiles.keySet.filter(b =>
      beforeFiles(b) != afterFiles.getOrElse(b, Set.empty))
    assert(changed == affectedExpected,
      s"only the buckets holding retracted ids may change: " +
        s"changed=$changed expected=$affectedExpected")

    // committed replay: byte-level no-op
    Similarity.ivfIndexDeleteIdempotent(del, "vec_id", path, "t1")
    assert(bucketFiles() == afterFiles, "committed replay must be a no-op")

    // torn state: duplicate one affected bucket's file under an original
    // name (what a crash between move-in and snapshot-delete leaves) —
    // the next delete touching that bucket must repair it via the
    // dropDuplicates(nid) rebuild
    val tornBucket = affectedExpected.head
    val tornDir = new org.apache.hadoop.fs.Path(s"$idx/$tornBucket")
    val srcFile = fs.listStatus(tornDir)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, srcFile, fs,
      new org.apache.hadoop.fs.Path(tornDir, "part-torn-copy.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    val tornVal = tornBucket.stripPrefix("bucket=")
    val nextVictim = afterAssign.collectFirst {
      case (nid, b) if b == tornVal => nid }.get
    import spark.implicits._
    Similarity.ivfIndexDeleteIdempotent(
      Seq(nextVictim).toDF("vec_id"), "vec_id", path, "t2")
    val healed = spark.read.parquet(idx).select("nid")
      .collect().map(_.getLong(0)).toSeq
    assert(healed.distinct.size == healed.size,
      "the rebuild must repair torn duplicates")
    assert(healed.toSet == afterAssign.keySet - nextVictim,
      "the torn-state repair must also apply the new retraction")

    // empty a whole bucket: every remaining id of one bucket
    val byBucket = spark.read.parquet(idx).select("nid", "bucket")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (bVal, members) = byBucket.groupBy(_._2).head match {
      case (b, rows) => (b, rows.map(_._1).toSeq)
    }
    Similarity.ivfIndexDeleteIdempotent(
      members.toDF("vec_id"), "vec_id", path, "t3")
    val left = spark.read.parquet(idx).select("nid", "bucket")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(!left.exists(_._2 == bVal), "the emptied bucket must hold no rows")
    assert(left.length == byBucket.length - members.size,
      "other buckets must be untouched by the full-bucket delete")

    // compaction gates on an unmarked in-flight delete, sweeps marked ones
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/delstage/tX/bucket=c0"))
    val e = intercept[IllegalStateException](
      Similarity.ivfIndexCompact(spark, path))
    assert(e.getMessage.contains("tX") && e.getMessage.contains("delete"),
      s"refusal must name the in-flight delete token: ${e.getMessage}")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/tokens/delete"))
    fs.create(new org.apache.hadoop.fs.Path(s"$path/tokens/delete/tX"), true)
      .close()
    Similarity.ivfIndexCompact(spark, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/delstage/tX")),
      "committed delete staging leftovers must be swept by compaction")
    // post-compaction content: survivors only, exactly once
    val finalIds = spark.read.parquet(Similarity.ivfIndexDataDir(spark, path))
      .select("nid").collect().map(_.getLong(0)).toSeq
    assert(finalIds.distinct.size == finalIds.size)
    assert(finalIds.toSet == left.map(_._1).toSet,
      "compaction must preserve the post-delete membership exactly")
  }

  test("legacy pointer-less index layout (pre-versioning on-disk state) " +
      "still probes, appends, deletes, and upgrades via compaction") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val evens = emb.where(col("vec_id") % 2 === 0)
    val odds = emb.where(col("vec_id") % 2 === 1)
    // manufacture the LEGACY layout an r11 build left on disk: lists at
    // $path/index, a FLAT centroids dir beside them, NO index.ptr — by
    // building normally and downgrading the directory by hand
    val path = java.nio.file.Files.createTempDirectory("graft_idx_legacy_")
      .toString
    Similarity.ivfIndexBuild(evens, "vec_id", "embedding", path,
      nCentroids = 16, lloydIters = 1)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/index.v0"),
      new org.apache.hadoop.fs.Path(s"$path/index")))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/centroids.v0"),
      new org.apache.hadoop.fs.Path(s"$path/centroids")))
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/index.ptr"), false)
    assert(Similarity.ivfIndexDataDir(spark, path) == s"$path/index",
      "a pointer-less layout must resolve to the legacy directory")
    assert(Similarity.ivfCentroidsDir(spark, path) == s"$path/centroids",
      "a pointer-less layout must resolve the flat centroids directory")

    // probe + append + idempotent append + delete all work on it
    def probe() = Similarity.ivfIndexProbe(emb.where(col("vec_id") < 10),
        "vec_id", "embedding", path, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(probe().nonEmpty)
    Similarity.ivfIndexAppend(odds.where(col("vec_id") % 4 === 1),
      "vec_id", "embedding", path)
    Similarity.ivfIndexAppendIdempotent(odds.where(col("vec_id") % 4 === 3),
      "vec_id", "embedding", path, "leg1")
    val n = spark.read.parquet(Similarity.ivfIndexDataDir(spark, path)).count()
    assert(n == emb.count(), s"legacy appends must land: $n != ${emb.count()}")
    import spark.implicits._
    Similarity.ivfIndexDeleteIdempotent(Seq(0L, 2L).toDF("vec_id"),
      "vec_id", path, "legdel")
    assert(spark.read.parquet(Similarity.ivfIndexDataDir(spark, path))
      .where(col("nid").isin(0L, 2L)).count() == 0)

    // compaction UPGRADES the layout: publishes index.v0 + pointer, keeps
    // the legacy dir as the retained predecessor, probe unchanged
    val beforeProbe = probe()
    val (f0, f1) = Similarity.ivfIndexCompact(spark, path)
    assert(f1 < f0)
    val resolved = Similarity.ivfIndexDataDir(spark, path)
    assert(resolved.endsWith("/index.v0"),
      s"compaction must upgrade a legacy layout to versioned: $resolved")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/index")),
      "the legacy directory is the retained predecessor for one cycle")
    assert(probe() == beforeProbe,
      "probe must be bit-identical across the layout upgrade")
  }

  test("compaction refuses an unmarked in-flight append and sweeps " +
      "committed staging leftovers") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_ref_")
      .toString
    Similarity.ivfIndexBuild(emb, "vec_id", "embedding", path,
      nCentroids = 16, lloydIters = 1)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manufacture the crashed-mid-publish state: staging exists, no marker
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/stage/bX/bucket=c0"))
    val e = intercept[IllegalStateException](
      Similarity.ivfIndexCompact(spark, path))
    assert(e.getMessage.contains("bX"),
      s"refusal must name the in-flight token: ${e.getMessage}")
    // the same state WITH a commit marker is post-commit garbage: the
    // compaction proceeds and sweeps it
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/tokens/append"))
    fs.create(new org.apache.hadoop.fs.Path(s"$path/tokens/append/bX"), true)
      .close()
    val (f0, f1) = Similarity.ivfIndexCompact(spark, path)
    assert(f1 <= f0 && f1 > 0, s"compaction must publish: $f0 -> $f1")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/stage/bX")),
      "committed staging leftovers must be swept by compaction")
  }

  test("hybrid RRF fusion: hand-computed ranks, fusion beats either " +
      "single leg, vector-only docs still surface") {
    import spark.implicits._
    // probe doc 0; lexical overlaps vs 0: doc1 shares {alpha,beta} (2),
    // doc2 shares {alpha} (1), doc3 shares nothing (lex-absent)
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta delta"),
      (2L, "alpha zeta eta"),
      (3L, "mu nu xi")).toDF("doc_id", "text")
    // cosine vs e0=(1,0): e3 = 0.993884 (rank 1), e2 = 0.6 (rank 2),
    // e1 = 0.0 (rank 3)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val out = Similarity.hybridTopK(docs, "doc_id", "text",
        emb, "vec_id", "embedding", _ < 1, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._2).toSeq
    // RRF(60): doc1 = 1/61 + 1/63 = 0.032266 — lex rank 1 + vec rank 3
    //          doc2 = 1/62 + 1/62 = 0.032258 — middle of both lists
    //          doc3 = 1/61 alone  = 0.016393 — vector-only, still found
    // doc1 > doc2 although doc3 beats both on cosine: fusion rewards
    // agreement across legs, the RRF contract
    assert(out == Seq(
      (0L, 1L, 1L, 0.032266),
      (0L, 2L, 2L, 0.032258),
      (0L, 3L, 3L, 0.016393)),
      s"hand-computed RRF fusion mismatch: $out")
  }

  test("pointer flip is atomic under a concurrent reader, and resolution " +
      "falls back to the highest staged version when the pointer is lost") {
    val path = java.nio.file.Files.createTempDirectory("graft_idx_flip_")
      .toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/index.v1"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/index.v2"))
    Similarity.writeIndexPointer(fs, path, "index.v1", "centroids.v1")

    // hammer the flip from a writer thread while this thread resolves:
    // with the tmp+rename-over flip (never create-overwrite), a reader at
    // ANY instant must see one of the two published versions — never the
    // legacy fallback a missing/truncated pointer would produce, and
    // never an exception from an open() racing a delete. 400 flips is
    // thousands of interleaved reads on a 32-way box.
    val valid = Set(s"$path/index.v1", s"$path/index.v2")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val writer = new Thread(() => {
      try {
        var i = 0
        while (i < 400) {
          val v = if (i % 2 == 0) "index.v2" else "index.v1"
          Similarity.writeIndexPointer(fs, path, v,
            v.replace("index", "centroids"))
          i += 1
        }
      } catch { case t: Throwable => writerErr.set(t) }
      finally stop.set(true)
    })
    writer.start()
    var reads = 0
    while (!stop.get()) {
      val resolved = Similarity.ivfIndexDataDir(spark, path)
      assert(valid(resolved),
        s"reader observed a torn/missing pointer after $reads reads: $resolved")
      reads += 1
    }
    writer.join()
    assert(writerErr.get() == null, s"flip failed: ${writerErr.get()}")
    assert(reads > 0, "the reader must have raced at least one flip")

    // lost-pointer ladder: an EMPTY pointer and an ABSENT pointer both
    // resolve to the highest staged version, not the legacy dir
    val ptr = new org.apache.hadoop.fs.Path(s"$path/index.ptr")
    fs.create(ptr, true).close()
    assert(Similarity.ivfIndexDataDir(spark, path) == s"$path/index.v2",
      "an empty pointer must resolve to the highest staged version")
    fs.delete(ptr, false)
    assert(Similarity.ivfIndexDataDir(spark, path) == s"$path/index.v2",
      "an absent pointer must resolve to the highest staged version")
    // and only a layout with no versions at all resolves to the legacy dir
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/index.v1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/index.v2"), true)
    assert(Similarity.ivfIndexDataDir(spark, path) == s"$path/index")
  }

  test("a rebuild is staged: a crash before the flip leaves the old index " +
      "fully probeable, and the retry publishes the new model atomically") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_reb_")
      .toString
    Similarity.ivfIndexBuild(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nCentroids = 16, lloydIters = 1)
    Similarity.ivfIndexAppendIdempotent(emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path, "b1")
    def probe() = Similarity.ivfIndexProbe(emb.where(col("vec_id") < 10),
        "vec_id", "embedding", path, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    val expected = probe()
    val listsBefore = Similarity.ivfIndexDataDir(spark, path)
    val centBefore = Similarity.ivfCentroidsDir(spark, path)

    // crash-inject the REBUILD in its widest window: new model and lists
    // fully staged, flip never happens — the old pair must stay current
    // and a probe must be bit-identical (the round-12 build deleted old
    // state first, leaving nothing resolvable across this window)
    Similarity.ivfIndexBuild(emb, "vec_id", "embedding", path,
      nCentroids = 8, lloydIters = 1, crashBeforeFlip = true)
    assert(Similarity.ivfIndexDataDir(spark, path) == listsBefore &&
        Similarity.ivfCentroidsDir(spark, path) == centBefore,
      "a crashed rebuild must leave the old index current")
    assert(probe() == expected, "crash-window probe must see the old index")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/tokens/append/b1")),
      "a crashed rebuild must not wipe the old lifecycle's markers")

    // the retried rebuild publishes: full corpus under the NEW model,
    // old lifecycle vacuumed (markers gone — the documented
    // fresh-streaming-checkpoint contract), predecessor pair retained
    Similarity.ivfIndexBuild(emb, "vec_id", "embedding", path,
      nCentroids = 8, lloydIters = 1)
    val listsAfter = Similarity.ivfIndexDataDir(spark, path)
    assert(listsAfter != listsBefore, "the retry must publish a new version")
    assert(spark.read.parquet(listsAfter).count() == emb.count())
    assert(probe().nonEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tokens")),
      "a published rebuild resets the token namespace")
    assert(fs.exists(new org.apache.hadoop.fs.Path(listsBefore)),
      "the immediately-previous lists survive the rebuild's vacuum")
    assert(fs.exists(new org.apache.hadoop.fs.Path(centBefore)),
      "the immediately-previous centroids survive the rebuild's vacuum")
  }

  test("append and delete replay tokens cannot cross-talk: an append " +
      "token shaped like a delete token replays without touching the " +
      "delete's survivors or its commit marker") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_tok_")
      .toString
    Similarity.ivfIndexBuild(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nCentroids = 16, lloydIters = 1)
    import spark.implicits._
    // the round-12 advisory's collision: delete token "1" publishes
    // survivor files that, under the old flat prefixes, an append token
    // "del1" would retract on replay (its retract pass looked for
    // "del1-"); and append token "del-1" would share the old "del-1"
    // marker with delete token "1", turning the delete's commit into a
    // silent no-op for that append. The disjoint tokens/append|delete
    // namespaces + A./D. prefixes make both impossible.
    Similarity.ivfIndexDeleteIdempotent(Seq(0L, 14L).toDF("vec_id"),
      "vec_id", path, "1")
    val afterDelete = spark.read.parquet(
      Similarity.ivfIndexDataDir(spark, path)).count()
    val b1 = emb.where(col("vec_id") % 4 === 1)
    val b3 = emb.where(col("vec_id") % 4 === 3)
    Similarity.ivfIndexAppendIdempotent(b1, "vec_id", "embedding", path,
      "del1")
    Similarity.ivfIndexAppendIdempotent(b3, "vec_id", "embedding", path,
      "del-1")
    val n1 = spark.read.parquet(
      Similarity.ivfIndexDataDir(spark, path)).count()
    assert(n1 == afterDelete + b1.count() + b3.count(),
      "both appends must land exactly once beside the delete")
    // replay all three tokens — every replay must be a no-op
    Similarity.ivfIndexAppendIdempotent(b1, "vec_id", "embedding", path,
      "del1")
    Similarity.ivfIndexAppendIdempotent(b3, "vec_id", "embedding", path,
      "del-1")
    Similarity.ivfIndexDeleteIdempotent(Seq(0L, 14L).toDF("vec_id"),
      "vec_id", path, "1")
    val n2 = spark.read.parquet(
      Similarity.ivfIndexDataDir(spark, path)).count()
    assert(n2 == n1, s"replays must be no-ops: $n1 -> $n2")
    assert(spark.read.parquet(Similarity.ivfIndexDataDir(spark, path))
        .where(col("nid").isin(0L, 14L)).count() == 0,
      "the delete's retraction must survive every replay")
  }

  private def probeRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq

  test("IVF model cache: an index rebuilt at the same path (centroids.v0 " +
      "reused) probes like a cold cache, also after a compaction and an append") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val probes = emb.where(col("vec_id") < 10)
    def build(p: String) = Similarity.ivfIndexBuild(
      emb.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding", p,
      nCentroids = 8, lloydIters = 1)
    def probe(p: String) = probeRows(Similarity.ivfIndexProbe(probes,
      "vec_id", "embedding", p, k = 5, nprobe = 2))
    val reused = java.nio.file.Files.createTempDirectory("graft_idx_reuse_")
      .toString
    // first life: different vectors, probed so its model is cached
    Similarity.ivfIndexBuild(emb.where(col("vec_id") % 3 === 0), "vec_id",
      "embedding", reused, nCentroids = 8, lloydIters = 1)
    probe(reused)
    Similarity.hfs(spark, reused).delete(new org.apache.hadoop.fs.Path(reused), true)
    build(reused)
    assert(Similarity.ivfCentroidsDir(spark, reused).endsWith("centroids.v0"))
    // the cold reference: the same build at a path never seen before
    val cold = java.nio.file.Files.createTempDirectory("graft_idx_cold_")
      .toString
    build(cold)
    assert(probe(reused) == probe(cold))
    Seq(reused, cold).foreach(Similarity.ivfIndexCompact(spark, _))
    assert(probe(reused) == probe(cold), "after a compaction")
    Seq(reused, cold).foreach(Similarity.ivfIndexAppendIdempotent(
      emb.where(col("vec_id") % 3 === 0), "vec_id", "embedding", _, "a1"))
    assert(probe(reused) == probe(cold), "after an append")
  }

  test("IVF probe: zero-norm and NaN probe vectors pick the buckets of " +
      "the window ranking") {
    // cosine against a zero-norm probe divides by zero: ANSI mode (the
    // default) raises, as the window ranking did; otherwise it is NULL.
    // A NaN component makes it NaN. Both must rank like the window
    // ranking (csim DESC — NaN first, NULL last — then cid ASC). A child
    // session keeps the ANSI setting local.
    val emb0 = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_nan_")
      .toString
    Similarity.ivfIndexBuild(emb0, "vec_id", "embedding", path,
      nCentroids = 8, lloydIters = 1)
    val dim = emb0.select(size(col("embedding"))).head.getInt(0)
    def vecs(s: org.apache.spark.sql.SparkSession, xs: (Long, Float)*) =
      s.createDataFrame(xs.map { case (id, x) => (id, Array.fill(dim)(x)) })
        .toDF("vec_id", "embedding")
    val e = intercept[ArithmeticException] {
      Similarity.ivfIndexProbe(vecs(spark, (-1L, 0f)), "vec_id", "embedding",
        path, k = 4, nprobe = 3).collect()
    }
    assert(e.getMessage.contains("DIVIDE_BY_ZERO"))
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    GraftExtensions.ensure(s)
    val probes = vecs(s, (-1L, 0f), (-2L, Float.NaN), (-3L, 0.5f))
    val (idxDir, centDir) = Similarity.ivfIndexDirs(s, path)
    val pv = probes.select(col("vec_id").as("pid"), col("embedding").as("pv"))
      .withColumn("pn", Similarity.norm(col("pv")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
      .orderBy(col("csim").desc, col("cid").asc)
    val buckets = pv.crossJoin(s.read.parquet(centDir))
      .withColumn("csim", Similarity.dot(col("pv"), col("cv")) /
        (col("pn") * col("cn")))
      .withColumn("crank", row_number().over(w))
      .where(col("crank") <= 3)
      .select(col("pid"), col("pv"), col("pn"),
        concat(lit("c"), col("cid")).as("bucket"))
    val w2 = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val expected = buckets.join(s.read.parquet(idxDir), Seq("bucket"))
      .withColumn("sim", round(Similarity.dot(col("pv"), col("nv")) /
        (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w2))
      .where(col("rank") <= 4)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
    // NULL and NaN sims compared as strings
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        String.valueOf(r.get(3)))).sortBy(x => (x._1, x._2)).toSeq
    val got = rows(Similarity.ivfIndexProbe(probes, "vec_id", "embedding",
      path, k = 4, nprobe = 3))
    assert(got.exists(_ == ((-1L, 1, got.find(_._1 == -1L).get._3, "null"))))
    assert(got.exists(r => r._1 == -2L && r._4 == "NaN"))
    assert(got == rows(expected))
  }

  test("job budget: a second ivfIndexProbe on an unchanged index runs no " +
      "parquet schema inference and no centroid collect") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_budget_")
      .toString
    Similarity.ivfIndexBuild(emb, "vec_id", "embedding", path,
      nCentroids = 8, lloydIters = 1)
    val probes = emb.where(col("vec_id") < 10)
    def probe() = Similarity.ivfIndexProbe(probes, "vec_id", "embedding",
      path, k = 5, nprobe = 2).collect()
    val first = probe()
    var second: Array[org.apache.spark.sql.Row] = null
    val (jobs, plans) = TestSpark.traced { second = probe() }
    assert(second.toSeq == first.toSeq)
    assert(!jobs.exists(_.startsWith("parquet at")),
      s"schema inference re-ran:\n${jobs.mkString("\n")}")
    assert(!plans.exists(_.contains("centroids.v")),
      s"the centroid model was re-collected:\n${plans.mkString("\n\n")}")
  }
}
