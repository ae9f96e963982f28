package graft.ext

import graft.Caching._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (SURVEY §2.9 X2).
  *
  * Vectors are `array<float>`; all math is done after casting elements to
  * double with higher-order functions (`zip_with` + `aggregate`) — codegen
  * paths, no UDF. The fold is left-to-right in index order, so the oracle
  * (DuckDB `list_dot_product` on `DOUBLE[]`) reproduces the result
  * bit-for-bit before rounding.
  *
  * Scale ladder: brute-force is the correctness baseline (probes ×
  * corpus, fine when the probe set is bounded); `ivfTopK` prunes WHICH
  * vectors a probe scans (nprobe of nCentroids buckets); `signLshTopK`
  * is the alternative bucketing (OR-amplified random hyperplanes);
  * `pqTopK` compresses WHAT is scanned (sub-codes packed into one long
  * when they fit, ADC lookups + exact re-rank); `ivfpqTopK` composes the
  * last two — bucket-confined ADC over the compressed index, the
  * 100 TB configuration. All fitted models are bounded by construction
  * and ship as plan literals/broadcasts, exactly as a real deployment
  * would.
  */
object Similarity {

  /** Native codegen'd dot product (graft.functions.DotProduct): double
    * accumulation over float/double arrays, bit-identical to the
    * higher-order `aggregate(zip_with(...))` form but ~an order of
    * magnitude faster (tight loop over ArrayData inside whole-stage
    * codegen vs. per-element lambda interpretation). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** The higher-order-function form — kept as the portability fallback and
    * as the differential-testing reference for DotProduct. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(transform(a, _.cast(DoubleType)),
        transform(b, _.cast(DoubleType)), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Pairwise cosine of two vector-bearing frames; `sim` rounded to 6 dp
    * for cross-engine hash stability. */
  private def cosineJoin(probes: DataFrame, corpus: DataFrame): DataFrame =
    probes.join(corpus, col("nid") =!= col("pid"))
      .withColumn("sim", round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))

  private def prep(emb: DataFrame, idCol: String, vecCol: String,
                   idAs: String, vAs: String, nAs: String): DataFrame = {
    graft.GraftExtensions.ensure(emb.sparkSession)
    emb.select(col(idCol).as(idAs), col(vecCol).as(vAs))
      .withColumn(nAs, norm(col(vAs)))
  }

  /** X70 — per-class embedding centroids, the mean-pooling prototype
    * operator (nearest-class-mean classifiers, SemDeDup/IVF centroid
    * seeding, class-drift monitoring). Emitted in LONG form — one row
    * per (label, dimension) with the SUM as DECIMAL(38,6) and the count
    * as a separate integer — because decimal sums are order-independent
    * (exact in any partitioning; a double sum would drift by
    * accumulation order) and the division is left to the consumer, so
    * two engines can never disagree on a rounded quotient.
    *
    * Scale shape: one posexplode (nDims rows per vector) into one
    * (label, dim)-keyed aggregation with map-side partials — output is
    * |labels|×nDims rows regardless of corpus size.
    */
  def classCentroids(emb: DataFrame, vecCol: String,
                     labelCol: String): DataFrame = {
    val dec = DecimalType(38, 6)
    emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col("label"), col("dim").cast(LongType).as("dim"))
      // float → DOUBLE → decimal: the float widens exactly, and both
      // engines then round the SAME binary double to 6 dp (a float→
      // decimal cast would round the float's shortest decimal repr —
      // engine-dependent). A dyadic double can never land on a half-tie
      // at scale 6 (10⁻⁷ has a factor 5⁷), so the rounding rule can't
      // diverge either.
      .agg(sum(col("__v").cast(DoubleType).cast(dec)).cast(dec).as("s"),
        count(lit(1)).as("n"))
  }

  /** X71 — symmetric int8 quantization per vector (q = round(v·127/max|v|),
    * scale = max|v|) — the 4× ANN memory compression step (an int8 ADC
    * or dot kernel reads a quarter of the bytes; recall loss is the
    * documented trade). Entirely ROW-LOCAL: the max-abs reduction is an
    * order-independent fold over the one vector, so no shuffle at all.
    * Zero vectors quantize to all-zero (guarded divide). Long-form
    * output (vec_id, dim, q, scale) with the scale through the
    * float→DOUBLE→DECIMAL(38,6) chain ([[classCentroids]]' rounding
    * argument); q itself is exact: both engines round the same IEEE
    * double v·127/mx.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("__e"))
      .withColumn("__mx",
        array_max(transform(col("__e"), x => abs(x.cast(DoubleType)))))
      .select(col("vec_id"), col("__mx"),
        posexplode(col("__e")).as(Seq("dim", "__v")))
      .select(col("vec_id"), col("dim").cast(LongType).as("dim"),
        when(col("__mx") === 0.0, 0L)
          .otherwise(round(col("__v").cast(DoubleType) * 127.0 / col("__mx"))
            .cast(LongType)).as("q"),
        col("__mx").cast(DecimalType(38, 6)).as("scale"))

  /** X103 — Johnson–Lindenstrauss sign projection: reduce each embedding
    * to `outDim` coordinates y_j = (Σ_d s(j,d)·x_d) / √outDim with a
    * dense ±1 (Achlioptas/Rademacher) matrix — the cheap dimensionality
    * cut in front of ANN indexing and dedup clustering (pairwise
    * distances are preserved in expectation; the ±1 matrix needs no
    * float random projection and keeps the sum EXACT on dyadic inputs).
    *
    * The sign matrix is pinned to md5 PARITY — s(j,d) = +1 iff the first
    * hex digit of md5("j_d") is even — computed driver-side into plan
    * literals (outDim·dim coefficients, the bounded-fit-artifact rule)
    * and replayed verbatim in SQL by the oracle, the established
    * md5-determinism discipline (no rand(), no seed drift). Each ±x_d
    * term is an exact double (fixture floats are dyadic), so the 64-term
    * sum is exact in ANY association order; the finish is one
    * correctly-rounded division by √outDim (IEEE sqrt is exact-rounded
    * in both engines) and the pinned 6-dp round.
    *
    * Scale shape: a pure map-side projection — per row, `outDim` literal-
    * coefficient sums inside whole-stage codegen; no shuffle, no state.
    * Output long-form (vec_id, j, y): N·outDim rows.
    */
  def jlProject(emb: DataFrame, idCol: String, vecCol: String,
                inDim: Int, outDim: Int = 8): DataFrame = {
    require(inDim > 0 && outDim > 0, "dims must be positive")
    def sign(j: Int, d: Int): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_${d}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 0) 1 else -1
    }
    val scale = math.sqrt(outDim.toDouble)
    val parts = (0 until outDim).map { j =>
      val s = (0 until inDim).map { d =>
        val x = element_at(col("__e"), d + 1).cast(DoubleType)
        if (sign(j, d) > 0) x else -x
      }.reduce(_ + _)
      struct(lit(j.toLong).as("j"), s.as("s"))
    }
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("__e"))
      .select(col("vec_id"), explode(array(parts: _*)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"),
        round(col("p.s") / lit(scale), 6).as("y"))
  }

  /** X104 — dominant eigenvector of the embedding second-moment (Gram)
    * matrix by fixed-round power iteration — the first principal
    * direction of the corpus (uncentred PCA): spectral embedding-drift
    * monitoring, whitening seeds, and the one-dimension summary a
    * centroid can't give (X70 is the mean; this is the spread's axis).
    *
    * Exactness: coordinates quantize ONCE to `qScale` fixed point (the
    * X94 micro-unit discipline — round is half-away-from-zero in both
    * engines), making the Gram an exact INTEGER matrix G (PSD by
    * construction: it is the Gram of the quantized vectors). The
    * iteration then runs in pure integer arithmetic — y = G·x,
    * x' = y intdiv max(⌊max|y|/xScale⌋, 1) — so every round is
    * engine-replayable bit-exactly (integer division TRUNCATES toward
    * zero in both engines: DuckDB's integer `//` and BigInt `/` — NOT
    * floor; a floorDiv here diverges by one on every negative
    * component); the single float finish is
    * the Rayleigh quotient xᵀGx / (xᵀx·qScale²): two exact integers,
    * one correctly-rounded division, one pinned 6-dp round.
    *
    * Scale shape: ONE corpus pass builds G via the X78 row-local
    * upper-triangle expansion collapsing into map-side partials
    * (DECIMAL(38,0) sums of row-local long products — order-independent,
    * overflow-safe); the d(d+1)/2-row result is a bounded fit artifact
    * (the IVF-centroid rule) collected to the driver, where the
    * `rounds`-step d-dimensional iteration is O(rounds·d²) integer work
    * in BigInt — corpus-size-independent. Output d rows.
    *
    * The oracle replays the iteration as `rounds` unrolled MATERIALIZED
    * CTE levels over the same integer Gram (the X97 k-core discipline —
    * materialization load-bearing against exponential inlining).
    */
  def powerIteration(emb: DataFrame, vecCol: String, inDim: Int,
                     rounds: Int = 6, qScale: Int = 256,
                     xScale: Long = 1000000L): DataFrame = {
    require(rounds >= 1 && inDim >= 1 && qScale >= 1 && xScale >= 1)
    val spark = emb.sparkSession
    import spark.implicits._
    val q = lit(qScale.toDouble)
    val upper = emb.select(col(vecCol).as("__e"))
      .select(col("__e"), posexplode(col("__e")).as(Seq("i", "__vi")))
      .select(col("i"), col("__vi"),
        posexplode(slice(col("__e"), col("i") + 1,
          size(col("__e")) - col("i"))).as(Seq("__jr", "__vj")))
      .select(col("i"), (col("i") + col("__jr")).as("j"),
        (round(col("__vi").cast(DoubleType) * q).cast(LongType) *
          round(col("__vj").cast(DoubleType) * q).cast(LongType)).as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast(DecimalType(38, 0))).as("g"))
    val G = Array.ofDim[BigInt](inDim, inDim)
    for (i <- 0 until inDim; j <- 0 until inDim) G(i)(j) = BigInt(0)
    upper.collect().foreach { r =>   // ≤ d(d+1)/2 rows — bounded artifact
      val (i, j) = (r.getInt(0), r.getInt(1))
      val g = BigInt(r.getDecimal(2).toBigInteger)
      G(i)(j) = g
      G(j)(i) = g
    }
    var x = Array.tabulate(inDim)(i => BigInt(xScale + i))
    for (_ <- 1 to rounds) {
      val y = Array.tabulate(inDim)(i =>
        (0 until inDim).map(j => G(i)(j) * x(j)).sum)
      val mx = y.map(_.abs).max
      val denom = (mx / xScale).max(BigInt(1))
      x = y.map(_ / denom)   // BigInt / truncates toward zero == DuckDB //
    }
    val num = (for (i <- 0 until inDim; j <- 0 until inDim)
      yield x(i) * G(i)(j) * x(j)).sum
    val den = x.map(v => v * v).sum * (BigInt(qScale) * BigInt(qScale))
    val eig =
      if (den.signum == 0) 0.0
      else BigDecimal(num.toDouble / den.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (0 until inDim).map(i => (i.toLong, x(i).toLong, eig))
      .toDF("d", "x", "eig")
  }

  /** X78 — embedding Gram matrix (uncentred second-moment sums): per
    * upper-triangle dimension pair (i ≤ j) the DECIMAL(38,12) sum of
    * vᵢ·vⱼ plus the vector count — the PCA / whitening seed artifact
    * (covariance = S/n − mean·meanᵀ with the X70 centroid sums; division
    * and centring left to the consumer, [[classCentroids]] policy).
    *
    * Exactness: each float widens to DOUBLE exactly and the product is
    * ONE correctly-rounded IEEE op, so both engines hold the same
    * binary double; the decimal cast then rounds the double's SHORTEST
    * decimal representation (Double.toString semantics — what Spark's
    * Decimal(double) and DuckDB's cast agree on; pinned by the oracle
    * and by the valueOf-based differential spec, which also documents
    * that rounding the exact binary expansion instead disagrees by
    * 1 ulp of scale 12). The DECIMAL sum is order-independent under
    * any partitioning (a double Σ would drift by accumulation order).
    *
    * Scale shape: the d(d+1)/2 products are expanded ROW-LOCALLY by two
    * CHAINED generators — posexplode the vector, then posexplode its
    * i-offset slice — and collapse into map-side HashAggregate partials
    * IN THE SAME STAGE: the one shuffle carries ≤ d(d+1)/2 rows per map
    * partition regardless of corpus rows, and the output is d(d+1)/2
    * rows total. No self-join, no vec_id exchange. The generator chain
    * stays inside whole-stage codegen (a nested transform+flatten
    * expansion is CodegenFallback — interpreted per element).
    *
    * Cost honesty (measured at sf0.1): the dominant cost is the
    * per-product double→DECIMAL(38,12) conversion + wide-decimal adds
    * in the partial aggregate (~10× a double sum). That price buys
    * sums that are EXACT and order-independent — rerun-stable and
    * engine-replayable at any cluster size, which a double Σ is not;
    * narrower long-backed decimals would silently null on overflow
    * under non-ANSI semantics, the one failure mode this engine never
    * accepts.
    */
  def gramMatrix(emb: DataFrame, vecCol: String): DataFrame = {
    val dec = DecimalType(38, 12)
    emb.select(col(vecCol).as("__e"))
      .select(col("__e"), posexplode(col("__e")).as(Seq("i", "__vi")))
      // slice start is 1-based: elements i..d-1 (0-based) of the vector
      .select(col("i"), col("__vi"),
        posexplode(slice(col("__e"), col("i") + 1,
          size(col("__e")) - col("i"))).as(Seq("__jr", "__vj")))
      .groupBy(col("i").cast(LongType).as("i"),
        (col("i") + col("__jr")).cast(LongType).as("j"))
      .agg(sum((col("__vi").cast(DoubleType) * col("__vj").cast(DoubleType))
          .cast(dec)).cast(dec).as("s"),
        count(lit(1)).as("n"))
  }

  /** Brute-force cosine top-k: every probe vs the whole corpus, ranked by
    * (sim DESC, neighbor id ASC) — the deterministic tiebreak keeps the
    * oracle hash stable. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     probePred: Column => Column, k: Int): DataFrame = {
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol, "pid", "pv", "pn")
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("nid").asc)
    cosineJoin(broadcast(probes), corpus)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
  }

  /** X113 — HYBRID lexical+vector retrieval with reciprocal-rank fusion
    * (RRF, Cormack/Clarke/Buettcher 2009): per probe document, a lexical
    * candidate list (corpus docs ranked by DISTINCT-token overlap with
    * the probe's text — the integer-scored set-intersection retrieval, so
    * both engines rank identically with no FP in the leg) and a vector
    * candidate list (exact cosine top-kVec) are fused by
    * `score = Σ 1/(rrfK + rank)` over the lists containing the doc, and
    * the fused top-k is returned. RRF is THE standard hybrid-search
    * combiner precisely because it consumes only RANKS — no score
    * normalization across incomparable scales — which also makes the
    * whole operator oracle-replayable: ranks are integers, the fusion
    * arithmetic is two double divisions and one add, identical IEEE in
    * any engine.
    *
    * Scale shape: the probe token set is bounded (|probes| docs) and
    * BROADCAST into the token join — the lexical leg is then a
    * posting-list probe of the corpus's inverted index (shuffle keys on
    * the token, the X52 keyword-search shape), never corpus × probes.
    * The vector leg here is the exact brute-force tier (the bounded-probe
    * contract); at 100 TB it swaps 1:1 for `ivfIndexProbe` against the
    * persisted partition-pruned index — [[hybridTopKIndexed]], pinned
    * equal at nprobe = nCentroids — because fusion only consumes
    * (pid, id, rank) triples. The fusion join itself is
    * |probes| × (kLex + kVec) rows — plan metadata scale.
    *
    * Returns (pid, rank, id, score): the fused top-k per probe, rank by
    * (score DESC, id ASC), score rounded to 6 (tie-free: the rank pair
    * space is tiny and discrete). */
  def hybridTopK(docs: DataFrame, docIdCol: String, textCol: String,
                 emb: DataFrame, embIdCol: String, vecCol: String,
                 probePred: Column => Column, k: Int,
                 kLex: Int = 20, kVec: Int = 20, rrfK: Int = 60)
      : DataFrame = {
    val vec = bruteForceTopK(emb, embIdCol, vecCol, probePred, kVec)
      .select(col("pid"), col("nid").as("id"), col("rank").as("vec_rank"))
    rrfFuse(lexicalTopK(docs, docIdCol, textCol, probePred, kLex),
      vec, k, rrfK)
  }

  /** X113 (index leg) — [[hybridTopK]] with the vector leg served by the
    * persisted partition-pruned IVF index at `indexPath` instead of the
    * brute-force scan: the 100 TB form the docstring above promises.
    * Fusion consumes only (pid, id, rank) tuples, so at
    * nprobe = nCentroids this equals the brute-force form exactly
    * (spec-pinned, RetrievalOpsSpec). The index must cover the same
    * corpus as `emb`. */
  def hybridTopKIndexed(docs: DataFrame, docIdCol: String, textCol: String,
                        emb: DataFrame, embIdCol: String, vecCol: String,
                        indexPath: String, probePred: Column => Column,
                        k: Int, kLex: Int = 20, kVec: Int = 20,
                        rrfK: Int = 60, nprobe: Int = 3): DataFrame = {
    val vec = ivfIndexProbe(emb.where(probePred(col(embIdCol))), embIdCol,
        vecCol, indexPath, kVec, nprobe)
      .select(col("pid"), col("nid").as("id"), col("rank").as("vec_rank"))
    rrfFuse(lexicalTopK(docs, docIdCol, textCol, probePred, kLex),
      vec, k, rrfK)
  }

  /** The lexical leg: per probe, corpus docs ranked by distinct-token
    * overlap — bounded probe terms broadcast into the inverted-index
    * probe, shuffle keys on the token only. */
  private def lexicalTopK(docs: DataFrame, docIdCol: String,
                          textCol: String, probePred: Column => Column,
                          kLex: Int): DataFrame = {
    val toks = docs.select(col(docIdCol).cast(LongType).as("id"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
      .where(col("tok") =!= "")
    val probeToks = toks.where(probePred(col("id")))
      .select(col("id").as("pid"), col("tok"))
    val wLex = Window.partitionBy(col("pid"))
      .orderBy(col("n_shared").desc, col("id").asc)
    broadcast(probeToks).join(toks, Seq("tok"))
      .where(col("id") =!= col("pid"))
      .groupBy(col("pid"), col("id")).agg(count(lit(1)).as("n_shared"))
      .withColumn("lex_rank", row_number().over(wLex))
      .where(col("lex_rank") <= kLex)
      .select(col("pid"), col("id"), col("lex_rank"))
  }

  /** RRF fusion over two rank-tuple lists — leg-agnostic by design:
    * consumes (pid, id, lex_rank) and (pid, id, vec_rank) only, so the
    * brute-force and persisted-index legs swap 1:1 above it. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int,
                      rrfK: Int): DataFrame = {
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("score").desc, col("id").asc)
    lex.join(vec, Seq("pid", "id"), "full_outer")
      .withColumn("score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank").cast(LongType).as("rank"),
        col("id"), col("score"))
  }

  /** Embedding-cosine near-duplicate pairs: sim ≥ threshold, a < b. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   probePred: Column => Column, threshold: Double): DataFrame = {
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol, "pid", "pv", "pn")
    broadcast(probes).join(corpus, col("nid") > col("pid"))
      .withColumn("sim", round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .where(col("sim") >= threshold)
      .select(col("pid").as("da"), col("nid").as("db"), col("sim"))
  }

  /** X114 — k-NN classification over embeddings: each probe vector is
    * labeled by MAJORITY VOTE of its k nearest (cosine) neighbors among
    * the labeled rows — the standard embedding-space quality/topic
    * classifier a training-data pipeline runs when it has a small labeled
    * seed set and a large unlabeled corpus (fastText-style quality
    * filtering, topic bucketing for mixture weights). Probe rows are
    * EXCLUDED from the training side (the held-out split), so the
    * operator doubles as leave-out evaluation: the output carries the
    * probe's true label and a correctness flag.
    *
    * Determinism: neighbor rank ties break (sim DESC, nid ASC); vote
    * ties break (votes DESC, best_rank ASC, label ASC) — all integer
    * comparisons plus the round-6 cosine, so the oracle replays exactly.
    *
    * Scale shape: the bounded probe batch broadcasts against the
    * distributed labeled corpus (the bruteForceTopK contract); at 100 TB
    * the neighbor leg swaps 1:1 for [[ivfIndexProbe]] against the
    * persisted partition-pruned index ([[knnClassifyIndexed]], pinned
    * equal at nprobe = nCentroids) — the vote only consumes
    * (pid, nid, rank, label) tuples. */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, probePred: Column => Column,
                  k: Int): DataFrame = {
    graft.GraftExtensions.ensure(emb.sparkSession)
    val base = emb.select(col(idCol).cast(LongType).as("nid"),
        col(vecCol).as("nv"), col(labelCol).cast(LongType).as("nlabel"))
      .withColumn("nn", norm(col("nv")))
    val train = base.where(!probePred(col("nid")))
    val probes = base.select(col("nid").as("pid"), col("nv").as("pv"),
        col("nn").as("pn"), col("nlabel").as("true_label"))
      .where(probePred(col("pid")))
    val wN = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val topk = broadcast(probes).join(train, col("nid") =!= col("pid"))
      .withColumn("sim",
        round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(wN))
      .where(col("rank") <= k)
    majorityVote(topk)
  }

  /** X114 (index leg) — [[knnClassify]] with the neighbor leg served by
    * a persisted IVF index at `indexPath` that was BUILT OVER THE TRAIN
    * SIDE ONLY (`emb.where(!probePred)`) — the held-out contract the
    * brute-force form enforces by filtering. The vote consumes only
    * (pid, nid, rank, label) tuples, so at nprobe = nCentroids this
    * equals the brute-force form exactly (spec-pinned). */
  def knnClassifyIndexed(emb: DataFrame, idCol: String, vecCol: String,
                         labelCol: String, probePred: Column => Column,
                         k: Int, indexPath: String,
                         nprobe: Int = 3): DataFrame = {
    val probes = emb.where(probePred(col(idCol)))
    // per-probe true label: bounded (the probe batch), broadcast
    val trueLab = broadcast(probes
      .select(col(idCol).cast(LongType).as("pid"),
        col(labelCol).cast(LongType).as("true_label")))
    val labels = emb.select(col(idCol).cast(LongType).as("nid"),
      col(labelCol).cast(LongType).as("nlabel"))
    val topk = ivfIndexProbe(probes, idCol, vecCol, indexPath, k, nprobe)
      .join(labels, Seq("nid"))
      .join(trueLab, Seq("pid"))
    majorityVote(topk)
  }

  /** The majority vote over a (pid, true_label, nlabel, rank) top-k
    * frame — leg-agnostic: rank tuples only, so brute-force and
    * persisted-index neighbor legs swap 1:1 above it. */
  private def majorityVote(topk: DataFrame): DataFrame = {
    val wV = Window.partitionBy(col("pid"))
      .orderBy(col("votes").desc, col("best_rank").asc, col("label").asc)
    topk.groupBy(col("pid"), col("true_label"), col("nlabel").as("label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
      .withColumn("__vr", row_number().over(wV))
      .where(col("__vr") === 1)
      .select(col("pid"), col("label").as("pred_label"), col("votes"),
        col("true_label"), (col("label") === col("true_label")).as("correct"))
  }

  /** X115 — mutual k-NN pairs (reciprocal nearest neighbors): (a, b)
    * such that b is in a's cosine top-k AND a is in b's — the
    * high-precision edge set used for near-dup verification, bitext /
    * cross-corpus alignment, and kNN-graph clustering (a one-sided
    * neighbor is often a hub artifact; a RECIPROCAL one almost never
    * is). Computed over a caller-bounded subset: top-k within the
    * subset (rank ties sim DESC, id ASC), then the kNN list self-joined
    * on the reversed (pid, nid) pair — k·|subset| rows a side, keyed on
    * the pair, so the reciprocal check is a hash join, never all-pairs.
    * At 100 TB the top-k leg swaps for the persisted-index probe
    * ([[mutualKnnPairsIndexed]], pinned equal at nprobe = nCentroids)
    * and the self-join shape is unchanged (it only sees rank tuples).
    *
    * Output (da < db): both directions' ranks and the shared sim. */
  def mutualKnnPairs(emb: DataFrame, idCol: String, vecCol: String,
                     subsetPred: Column => Column, k: Int): DataFrame = {
    val sub = emb.where(subsetPred(col(idCol)))
    val corpus = prep(sub, idCol, vecCol, "nid", "nv", "nn")
    val probes = prep(sub, idCol, vecCol, "pid", "pv", "pn")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val topk = cosineJoin(broadcast(probes), corpus)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("nid"), col("sim"), col("rank"))
    reciprocalPairs(topk)
  }

  /** X115 (index leg) — [[mutualKnnPairs]] with the top-k leg served by
    * a persisted IVF index at `indexPath` that was BUILT OVER THE SAME
    * SUBSET the predicate selects (the within-subset contract). The
    * reciprocal self-join consumes only rank tuples, so at
    * nprobe = nCentroids this equals the brute-force form exactly
    * (spec-pinned). */
  def mutualKnnPairsIndexed(emb: DataFrame, idCol: String, vecCol: String,
                            subsetPred: Column => Column, k: Int,
                            indexPath: String,
                            nprobe: Int = 3): DataFrame =
    reciprocalPairs(
      ivfIndexProbe(emb.where(subsetPred(col(idCol))), idCol, vecCol,
        indexPath, k, nprobe)
        .select(col("pid"), col("nid"), col("sim"), col("rank")))

  /** The reciprocal check over a (pid, nid, sim, rank) top-k frame:
    * k·|subset| rows a side, hash-joined on the reversed pair — leg-
    * agnostic, so brute-force and persisted-index legs swap 1:1. */
  private def reciprocalPairs(topk: DataFrame): DataFrame =
    topk.as("a").join(topk.as("b"),
        col("a.pid") === col("b.nid") && col("a.nid") === col("b.pid"))
      .where(col("a.pid") < col("a.nid"))
      .select(col("a.pid").as("da"), col("a.nid").as("db"),
        col("a.sim").as("sim"),
        col("a.rank").cast(LongType).as("rank_ab"),
        col("b.rank").cast(LongType).as("rank_ba"))

  /** X134 — kNN-DISTANCE OUTLIER SCORE: each probe vector's mean and
    * k-th cosine similarity to its k nearest corpus neighbors — the
    * embedding-space anomaly signal (Ramaswamy et al. 2000's kNN-distance
    * outlier criterion, cosine form): a LOW kth_sim means the vector
    * sits in no neighborhood at all (corrupt embedding, mis-encoded
    * modality, off-distribution content) and a curation pipeline gates
    * on it exactly like a quality score. The complement of X114's
    * classifier: same neighbor leg, but the artifact is the
    * neighborhood's DENSITY, not its label.
    *
    * Scoring is integer-exact: each round-6 sim becomes 1e-6 units
    * (round-then-cast — the X125 discipline), the per-probe k-row SUM
    * is an exact integer at any partitioning, and the mean is ONE
    * pinned IEEE division rounded to 6 dp; kth_sim is the min over the
    * kept top-k frame (already round-6). Output (pid, n_neighbors,
    * kth_sim, mean_sim), n_neighbors < k only when the corpus itself
    * has fewer than k other rows.
    *
    * Bounded probe batch broadcast against the distributed corpus; at
    * 100 TB the neighbor leg swaps 1:1 for the persisted
    * partition-pruned IVF probe ([[knnOutlierIndexed]], spec-pinned
    * equal at nprobe = nCentroids) — the score consumes only
    * (pid, nid, sim) triples. */
  def knnOutlier(emb: DataFrame, idCol: String, vecCol: String,
                 probePred: Column => Column, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol,
      "pid", "pv", "pn")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val topk = cosineJoin(broadcast(probes), corpus)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    outlierScore(topk)
  }

  /** X134 (index leg) — [[knnOutlier]] with the neighbor leg served by a
    * persisted IVF index over the corpus; the score is leg-agnostic, so
    * at nprobe = nCentroids this equals the brute-force form exactly
    * (spec-pinned). */
  def knnOutlierIndexed(emb: DataFrame, idCol: String, vecCol: String,
                        probePred: Column => Column, k: Int,
                        indexPath: String, nprobe: Int = 3): DataFrame =
    outlierScore(
      ivfIndexProbe(emb.where(probePred(col(idCol))), idCol, vecCol,
        indexPath, k, nprobe))

  /** X136 — TRIPLET MINING (anchor, positive, hard/semi-hard negative):
    * the contrastive-training-data operator (Schroff et al. 2015,
    * FaceNet) — for each labeled anchor, the most similar SAME-label
    * candidate in its cosine top-k becomes the positive and the most
    * similar DIFFERENT-label candidate the hard negative
    * (`semiHard = true` restricts negatives to sim_neg < sim_pos — the
    * FaceNet semi-hard band that skips already-violated triplets);
    * margin = round6(sim_pos − sim_neg), the quantity a triplet loss
    * trains against, ready for filtering/curriculum sorting. Anchors
    * whose top-k holds no positive or no eligible negative are DROPPED
    * — mining is defined WITHIN the retrieved candidate list (k is part
    * of the contract), which is exactly what makes the brute-force and
    * persisted-index legs interchangeable.
    *
    * Shape: one bounded-anchor-batch broadcast against the distributed
    * corpus for the top-k leg (at 100 TB it swaps 1:1 for the
    * partition-pruned IVF probe — [[tripletMineIndexed]], spec-pinned
    * equal at nprobe = nCentroids, selection consumes only
    * (pid, nid, sim) triples), label joins are candidates-sized, and
    * the two selection windows partition by anchor (≤ k rows each).
    * All tiebreaks (sim DESC, nid ASC) and the one subtraction are
    * round-6-pinned — oracle-replayable. */
  def tripletMine(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, probePred: Column => Column, k: Int,
                  semiHard: Boolean = false): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol,
      "pid", "pv", "pn")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val topk = cosineJoin(broadcast(probes), corpus)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("nid"), col("sim"))
    tripletsFromTopK(topk, emb, idCol, labelCol, semiHard)
  }

  /** X136 (index leg) — [[tripletMine]] with the candidate leg served by
    * a persisted IVF index over the corpus; equal at
    * nprobe = nCentroids (spec-pinned). */
  def tripletMineIndexed(emb: DataFrame, idCol: String, vecCol: String,
                         labelCol: String, probePred: Column => Column,
                         k: Int, indexPath: String, nprobe: Int = 3,
                         semiHard: Boolean = false): DataFrame =
    tripletsFromTopK(
      ivfIndexProbe(emb.where(probePred(col(idCol))), idCol, vecCol,
        indexPath, k, nprobe).select(col("pid"), col("nid"), col("sim")),
      emb, idCol, labelCol, semiHard)

  /** The selection over a (pid, nid, sim) candidate frame — leg-agnostic.
    * Output (pid, anchor_label, pos_id, neg_id, sim_pos, sim_neg,
    * margin). */
  private def tripletsFromTopK(topk: DataFrame, emb: DataFrame,
                               idCol: String, labelCol: String,
                               semiHard: Boolean): DataFrame = {
    val labels = emb.select(col(idCol).cast(LongType).as("nid"),
      col(labelCol).cast(LongType).as("nlabel"))
    val anchorLab = labels.select(col("nid").as("pid"),
      col("nlabel").as("anchor_label"))
    val cand = topk.join(labels, Seq("nid"))
      .join(anchorLab, Seq("pid"))
    val wSel = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    val pos = cand.where(col("nlabel") === col("anchor_label"))
      .withColumn("__r", row_number().over(wSel)).where(col("__r") === 1)
      .select(col("pid"), col("anchor_label"), col("nid").as("pos_id"),
        col("sim").as("sim_pos"))
    val negCand0 = cand.where(col("nlabel") =!= col("anchor_label"))
    val negCand =
      if (semiHard)
        negCand0.join(pos.select(col("pid"), col("sim_pos").as("__sp")),
            Seq("pid"))
          .where(col("sim") < col("__sp")).drop("__sp")
      else negCand0
    val neg = negCand
      .withColumn("__r", row_number().over(wSel)).where(col("__r") === 1)
      .select(col("pid"), col("nid").as("neg_id"), col("sim").as("sim_neg"))
    pos.join(neg, Seq("pid"))
      .select(col("pid"), col("anchor_label"), col("pos_id"),
        col("neg_id"), col("sim_pos"), col("sim_neg"),
        round(col("sim_pos") - col("sim_neg"), 6).as("margin"))
  }

  /** The density rollup over a (pid, nid, sim) top-k frame — exact
    * integer sum in 1e-6 units, one pinned division, round-6 mean. */
  private def outlierScore(topk: DataFrame): DataFrame =
    topk
      .withColumn("__u", round(col("sim") * 1000000).cast(LongType))
      .groupBy(col("pid"))
      .agg(count(lit(1)).as("n_neighbors"),
        min(col("sim")).as("kth_sim"),
        sum(col("__u")).as("__su"))
      .select(col("pid"), col("n_neighbors"), col("kth_sim"),
        round(col("__su").cast(DoubleType) /
          (col("n_neighbors") * lit(1000000L)), 6).as("mean_sim"))

  /** Cross-side cosine top-k: every `src` row against the whole `tgt`
    * frame, rank by (sim DESC, nid ASC). The two sides are distinct
    * frames (two languages, two snapshots), so no self-pair exists and
    * no id-inequality filter is needed — ids may even collide across
    * sides without harm. */
  private def crossSideTopK(src: DataFrame, tgt: DataFrame, idCol: String,
                            vecCol: String, k: Int): DataFrame = {
    val probes = prep(src, idCol, vecCol, "pid", "pv", "pn")
    val corpus = prep(tgt, idCol, vecCol, "nid", "nv", "nn")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    broadcast(probes).crossJoin(corpus)
      .withColumn("sim",
        round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("nid"), col("sim"))
  }

  /** The margin scoring + best-match selection over two directed top-k
    * frames (fwd: src→tgt, bwd: tgt→src), leg-agnostic so brute-force
    * and persisted-index legs swap 1:1 (they only hand over
    * (pid, nid, sim) triples).
    *
    * margin(x,y) = sim(x,y) / (Σ_{z∈NNk(x)} sim/2k + Σ_{z∈NNk(y)} sim/2k)
    * — the RATIO margin of Artetxe & Schwenk ("Margin-based Parallel
    * Corpus Mining with Multilingual Sentence Embeddings", ACL 2019).
    * Determinism: sims are round-6, the per-id neighborhood sums are
    * exact integers in 1e-6 units (round-then-cast — order-independent
    * in any engine or partitioning), and the margin is ONE double
    * division of those two exactly-agreed operands, rounded to 6. */
  private def marginFromTopK(fwd: DataFrame, bwd: DataFrame, k: Int,
                             threshold: Double): DataFrame = {
    def denom(topk: DataFrame, as: String) =
      topk.groupBy(col("pid").as(as))
        .agg(sum(round(col("sim") * 1e6).cast(LongType)).as(s"__$as"))
    val dSrc = denom(fwd, "sid")
    val dTgt = denom(bwd, "tid")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("margin").desc, col("nid").asc)
    fwd.join(dSrc, col("pid") === col("sid"))
      .join(dTgt, col("nid") === col("tid"))
      .withColumn("margin", round(
        col("sim") / ((col("__sid") + col("__tid")) / lit(2.0 * k * 1e6)),
        6))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") === 1 && col("margin") > threshold)
      .select(col("pid").as("src_id"), col("nid").as("tgt_id"),
        col("sim"), col("margin"))
  }

  /** X125 — margin-based BITEXT MINING (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix criterion): given two embedding sides (source and
    * target language corpora), score each source row's top-k target
    * candidates by cosine NORMALIZED by both endpoints' average-kNN
    * similarity, and keep the best target per source when that ratio
    * margin clears `threshold` (margin > 1 = "closer than either side's
    * typical neighborhood" — the standard mining bar). Raw cosine
    * ranking over-selects hub sentences whose neighborhoods are densely
    * similar to everything; the margin divides that hubness out, which
    * is why parallel-corpus pipelines mine with it rather than cosine.
    *
    * Shape: two directed cross-side top-k legs (src→tgt for candidates
    * and the src denominators, tgt→src for the tgt denominators), then
    * per-id k-row sum aggregates and two hash joins keyed on the id —
    * everything after the legs is |side|·k rows. This exact leg is the
    * caller-bounded brute-force tier (the [[bruteForceTopK]] contract);
    * at 100 TB both legs swap 1:1 for partition-pruned persisted-index
    * probes — [[marginMineIndexed]], spec-pinned equal at
    * nprobe = nCentroids — because the margin step only consumes
    * (pid, nid, sim) triples. */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, k: Int, threshold: Double = 1.0)
  : DataFrame =
    marginFromTopK(
      crossSideTopK(src, tgt, idCol, vecCol, k),
      crossSideTopK(tgt, src, idCol, vecCol, k),
      k, threshold)

  /** X125 (index leg) — [[marginMine]] with each direction's top-k leg
    * served by a persisted IVF index over the OPPOSITE side
    * (`tgtIndexPath` built over tgt, probed by src rows, and vice
    * versa). Margin consumes only (pid, nid, sim) triples, so at
    * nprobe = nCentroids this equals the brute-force form exactly
    * (spec-pinned); at production nprobe the legs are partition-pruned
    * probes and nothing downstream is corpus-sized. */
  def marginMineIndexed(src: DataFrame, tgt: DataFrame, idCol: String,
                        vecCol: String, k: Int,
                        srcIndexPath: String, tgtIndexPath: String,
                        threshold: Double = 1.0, nprobe: Int = 3)
  : DataFrame =
    marginFromTopK(
      ivfIndexProbe(src, idCol, vecCol, tgtIndexPath, k, nprobe)
        .select(col("pid"), col("nid"), col("sim")),
      ivfIndexProbe(tgt, idCol, vecCol, srcIndexPath, k, nprobe)
        .select(col("pid"), col("nid"), col("sim")),
      k, threshold)

  /** The MMR greedy over a (pid, nid, sim) candidate frame — leg-
    * agnostic (brute-force and persisted-index candidate legs swap 1:1).
    * All scoring is INTEGER micro-units: rel = round(sim·1e6) and the
    * pairwise candidate sims likewise, so the greedy's comparisons are
    * exact in any engine — λ is fixed at 1/2, which makes
    * argmax(λ·rel − (1−λ)·maxSel) ≡ argmax(rel − maxSel) and lets the
    * common factor drop out of the integers entirely. The k selection
    * rounds are UNROLLED into the plan (k is a query constant): each
    * round is one broadcast-scale join of the candidates against the
    * selected set's pairwise sims + one argmax window — every frame in
    * sight is |probes|·n (candidates) or |probes|·n² (pairwise sims)
    * rows, plan-metadata scale, never corpus-sized. */
  private def mmrFromCandidates(emb: DataFrame, idCol: String,
                                vecCol: String, cands: DataFrame, k: Int)
  : DataFrame = {
    // LAZY-checkpointed: both frames are bounded (|probes|·n and
    // |probes|·n·(n−1) rows) but their LINEAGE is the full candidate
    // tier (brute-force or IVF probe) — every one of the k−1 greedy
    // rounds below joins them, so without the checkpoint the candidate
    // generation re-runs once per round per reference.
    val rel = cands.select(col("pid"), col("nid"),
      round(col("sim") * 1e6).cast(LongType).as("rel"))
      .pinned
    // pairwise candidate-candidate sims per probe: the candidate ID sets
    // rejoin the corpus for their vectors (bounded: n ids per probe),
    // then an n×n per-probe join — round-6 cosine in 1e-6 integer units
    val vecs = prep(emb, idCol, vecCol, "id", "v", "nm")
    def side(tag: String) = rel.select(col("pid"), col("nid"))
      .join(vecs, col("nid") === col("id"))
      .select(col("pid"), col("nid").as(tag),
        col("v").as(s"v$tag"), col("nm").as(s"n$tag"))
    val sims = side("a").join(side("b"), "pid")
      .where(col("a") =!= col("b"))
      .select(col("pid"), col("a"), col("b"),
        round(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          * 1e6).cast(LongType).as("s"))
      .pinned
    val wFirst = Window.partitionBy(col("pid"))
      .orderBy(col("rel").desc, col("nid").asc)
    var sel = rel
      .withColumn("__r", row_number().over(wFirst))
      .where(col("__r") === 1)
      .select(col("pid"), lit(1L).as("pick"), col("nid"), col("rel"),
        col("rel").as("mmr"))
    val wNext = Window.partitionBy(col("pid"))
      .orderBy(col("mmr").desc, col("nid").asc)
    for (i <- 2 to k) {
      // distinct column names on every joined frame: rel, sims and sel
      // all share lineage, so df-qualified refs would be ambiguous
      val chosen = sel.select(col("pid").as("__sp"), col("nid").as("__sb"))
      // per remaining candidate: max pairwise sim against the selected
      // set (the redundancy term), then argmax(rel − that) per probe
      val maxSel = sims.join(chosen,
          col("pid") === col("__sp") && col("b") === col("__sb"))
        .groupBy(col("pid"), col("a")).agg(max(col("s")).as("__ms"))
        .select(col("pid").as("__mp"), col("a").as("__ma"), col("__ms"))
      val next = rel
        .join(sel.select(col("pid").as("__dp"), col("nid").as("__dn")),
          col("pid") === col("__dp") && col("nid") === col("__dn"),
          "left_anti")
        .join(maxSel, col("pid") === col("__mp") &&
          col("nid") === col("__ma"))
        .select(col("pid"), col("nid"), col("rel"),
          (col("rel") - col("__ms")).as("mmr"))
        .withColumn("__r", row_number().over(wNext))
        .where(col("__r") === 1)
        .select(col("pid"), lit(i.toLong).as("pick"), col("nid"),
          col("rel"), col("mmr"))
      sel = sel.unionByName(next)
    }
    sel
  }

  /** X126 — MMR-DIVERSIFIED retrieval (Maximal Marginal Relevance,
    * Carbonell & Goldstein, SIGIR 1998): from each probe's top-n
    * relevance candidates, greedily select k results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected (λ = 1/2) —
    * the standard redundancy-removal step in RAG context assembly and
    * result-page diversification, where plain top-k returns k
    * paraphrases of one passage and MMR forces coverage. Pick 1 is the
    * most relevant candidate; each later pick is penalized by its worst
    * redundancy against the selected set.
    *
    * Output (pid, pick 1..k, nid, rel, mmr) — rel and the mmr score in
    * exact 1e-6 integer units (pick 1's mmr is its rel; λ's common
    * factor cancels), rank-deterministic via (score DESC, nid ASC), so
    * the whole greedy replays in SQL as k chained argmax CTEs. The
    * candidate leg here is the caller-bounded brute-force tier; at
    * 100 TB it swaps 1:1 for the persisted partition-pruned IVF probe
    * ([[mmrDiversifyIndexed]], spec-pinned equal at
    * nprobe = nCentroids) because the greedy consumes only
    * (pid, nid, sim) triples plus the candidates' own vectors (n per
    * probe, refetched by id). */
  def mmrDiversify(emb: DataFrame, idCol: String, vecCol: String,
                   probePred: Column => Column, n: Int, k: Int)
  : DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1, got n=$n k=$k")
    mmrFromCandidates(emb, idCol, vecCol,
      bruteForceTopK(emb, idCol, vecCol, probePred, n)
        .select(col("pid"), col("nid"), col("sim")),
      k)
  }

  /** X128b — INT8-QUANTIZED cosine top-k: the search tier that ranks
    * over [[quantizeInt8]]'s max-abs int8 codes instead of the float
    * vectors — 4× less candidate bandwidth, the memory-bound trade every
    * production vector store offers below float32. The quantized dot is
    * an EXACT integer (|q| ≤ 127; 64-dim worst case ≈ 10⁶, far inside
    * 2⁵³, so the double accumulation is exact in any order), norms are
    * IEEE-exact sqrt of exact integers, and the similarity is one
    * division rounded to 6 — fully oracle-replayable, unlike a float
    * ANN tier whose recall must be spec-asserted. Pairs with
    * [[rankMetrics]] to MEASURE what the 8-bit trade costs in ranking
    * quality rather than guessing. Caller-bounded probes; the corpus
    * side is one broadcast-probe pass, the [[bruteForceTopK]] contract. */
  def int8TopK(emb: DataFrame, idCol: String, vecCol: String,
               probePred: Column => Column, k: Int): DataFrame = {
    def qv(c: Column): Column = {
      val mx = array_max(transform(c, x => abs(x.cast(DoubleType))))
      when(mx === 0.0, transform(c, _ => lit(0L)))
        .otherwise(transform(c,
          x => round(x.cast(DoubleType) * 127.0 / mx).cast(LongType)))
    }
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val base = emb.select(col(idCol).as("id"), qv(col(vecCol)).as("q"))
    val corpus = base.select(col("id").as("nid"), col("q").as("nq"))
      .withColumn("nn", sqrt(idot(col("nq"), col("nq")).cast(DoubleType)))
    val probes = base.where(probePred(col("id")))
      .select(col("id").as("pid"), col("q").as("pq"))
      .withColumn("pn", sqrt(idot(col("pq"), col("pq")).cast(DoubleType)))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    broadcast(probes).join(corpus, col("nid") =!= col("pid"))
      .withColumn("sim", round(idot(col("pq"), col("nq")).cast(DoubleType)
        / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
  }

  /** The nDCG discount table in exact 1e-6 integer units:
    * W(r) = round(1e6 / log2(r + 1)) for rank r = 1..10, precomputed
    * CONSTANTS — embedding the same literals in the engine and the
    * oracle removes runtime transcendentals entirely (two engines'
    * log() may disagree in the last ULP; two copies of the same integer
    * cannot). */
  private val NdcgW: Seq[Long] = Seq(1000000L, 630930L, 500000L,
    430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  /** X128 — ranking-quality EVAL (MRR + nDCG@k + hit count) of a SYSTEM
    * ranking against a GOLD ranking — the measurement layer every
    * retrieval stack needs the moment it trades exactness for speed
    * (quantized tiers, ANN probes, fused rankings): [[recallArtifact]]
    * answers "is the true top-1 somewhere in the list"; this answers
    * the graded questions — WHERE does the gold top-1 land (MRR = 1/its
    * system rank, 0 if absent) and how much gold mass lands HIGH
    * (binary-relevance nDCG@k: hit = system item ∈ gold top-k,
    * discounted by the [[NdcgW]] literal table, normalized by the
    * gold list's own ideal DCG).
    *
    * Both inputs are (pid, rank, nid, …) top-k frames — leg-agnostic,
    * so any ranking tier plugs in. Everything is |probes|·k rows after
    * the two scans; the metric arithmetic is integer sums (exact at any
    * partitioning) and two final round-6 divisions per probe, so the
    * whole operator hash-replays in SQL. */
  def rankMetrics(sys: DataFrame, gold: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= NdcgW.size,
      s"k=$k outside the discount table (1..${NdcgW.size})")
    val wArr = array(NdcgW.take(k).map(lit): _*)
    val sysK = sys.where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"))
    val goldK = gold.where(col("rank") <= k)
      .select(col("pid").as("gp"), col("rank").as("grank"),
        col("nid").as("gnid"))
    val hits = sysK.join(goldK,
        col("pid") === col("gp") && col("nid") === col("gnid"), "left")
      .groupBy(col("pid"))
      .agg(
        sum(when(col("gnid").isNotNull,
            element_at(wArr, col("rank").cast(IntegerType)))
          .otherwise(0L)).as("__dcg"),
        sum(when(col("gnid").isNotNull, 1L).otherwise(0L))
          .cast(LongType).as("n_hits"),
        min(when(col("grank") === 1, col("rank"))).as("__r1"))
    val idcg = goldK.groupBy(col("gp"))
      .agg(sum(element_at(wArr, col("grank").cast(IntegerType)))
        .as("__idcg"))
    hits.join(idcg, col("pid") === col("gp"))
      .select(col("pid"), col("n_hits"),
        round(coalesce(lit(1.0) / col("__r1"), lit(0.0)), 6).as("mrr"),
        round(col("__dcg") / col("__idcg"), 6).as("ndcg"))
  }

  /** X126 (index leg) — [[mmrDiversify]] with the candidate top-n
    * served by a persisted IVF index probe; the greedy is leg-agnostic,
    * so at nprobe = nCentroids this equals the brute-force form exactly
    * (spec-pinned). */
  def mmrDiversifyIndexed(emb: DataFrame, idCol: String, vecCol: String,
                          probePred: Column => Column, n: Int, k: Int,
                          indexPath: String, nprobe: Int = 3): DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1, got n=$n k=$k")
    mmrFromCandidates(emb, idCol, vecCol,
      ivfIndexProbe(emb.where(probePred(col(idCol))), idCol, vecCol,
        indexPath, n, nprobe)
        .select(col("pid"), col("nid"), col("sim")),
      k)
  }

  /** X2g — FILTERED vector search, exact leg: cosine top-k where the
    * candidate corpus is confined by a metadata predicate (tenant ACL,
    * language, license, date range — the "filtered ANN" every production
    * vector store ships, because post-filtering an unfiltered top-k
    * under-returns when the filter is selective). This form pushes the
    * predicate INTO the corpus scan (predicate pushdown confines the
    * scan, not the ranking), then ranks only survivors — k results are
    * guaranteed whenever ≥k rows pass. The index-backed twin is
    * [[ivfIndexProbeFiltered]] (allowlist semi-join inside the
    * partition-pruned probe; spec-pinned equal to this leg at
    * nprobe = nCentroids). Output carries the neighbor's label so the
    * filter is auditable in the artifact. */
  def filteredTopK(emb: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, labelPred: Column => Column,
                   probePred: Column => Column, k: Int): DataFrame = {
    graft.GraftExtensions.ensure(emb.sparkSession)
    val corpus = emb.where(labelPred(col(labelCol)))
      .select(col(idCol).cast(LongType).as("nid"), col(vecCol).as("nv"),
        col(labelCol).cast(LongType).as("nlabel"))
      .withColumn("nn", norm(col("nv")))
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol,
      "pid", "pv", "pn")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    broadcast(probes).join(corpus, col("nid") =!= col("pid"))
      .withColumn("sim",
        round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank").cast(LongType).as("rank"),
        col("nid"), col("sim"), col("nlabel").as("label"))
  }

  /** Flat greedy-removal audit over a PROBE SUBSET: one row per probe id
    * with `removed_flat` = ∃ lower-id corpus vector with cosine ≥
    * `threshold` — the brute-force differential [[semanticDedup]] is
    * audited against, restricted to a caller-chosen probe set so its cost
    * is O(|probes|·n) dot products, never corpus². Callers pass a
    * DETERMINISTIC probe predicate (the md5 hash-sample discipline of
    * `Sampling.hashBucket`) so the audit is oracle-replayable and its
    * cost is a fixed, tunable fraction of one corpus scan. The probe
    * side is the (bounded) broadcast; the corpus side stays distributed,
    * so the shape survives any corpus size at fixed sample budget. */
  def flatRemovalFlags(emb: DataFrame, idCol: String, vecCol: String,
                       probePred: Column => Column,
                       threshold: Double): DataFrame = {
    val corpus = prep(emb, idCol, vecCol, "bid", "bv", "bn")
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol,
      "id", "av", "an")
    val hit = broadcast(probes).join(corpus, col("bid") < col("id"))
      .withColumn("sim",
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6))
      .where(col("sim") >= threshold)
      .select(col("id")).distinct()
      .withColumn("rf", lit(true))
    probes.select(col("id")).join(hit, Seq("id"), "left")
      .select(col("id"), coalesce(col("rf"), lit(false)).as("removed_flat"))
  }

  /** Deterministic recall artifact for an ANN result vs the exact top-k —
    * one row per probe: did the index recover ≥1 true neighbor? The shared
    * accounting behind q_ann_ivf / q_ann_lsh and the AnnRecall calibration
    * tool (one definition, so the declared oracle artifact and the tool
    * can't diverge).
    */
  def recallArtifact(ann: DataFrame, exact: DataFrame, k: Int): DataFrame =
    annHits(ann, exact)
      .select(col("pid"), lit(k.toLong).as("k"),
        (col("hits") >= 1L).as("found_true_neighbor"))

  /** The probe-completeness frame for the COMPRESSED ANN tiers' hashed
    * contract: one row per probe, regardless of hits. A PQ index's
    * hit-vs-brute accounting is DATA-DEPENDENT (quantization recall
    * drops as the corpus grows — an sf0.1 sweep flipped exactly that
    * column while every exact operator held), so it belongs in the
    * spec-asserted recall floors and the AnnRecall calibration tool,
    * not in the cross-engine hash — the same discipline that moved
    * heavyHitters' probabilistic cms_ok out of the hashed contract.
    * The uncompressed tiers (IVF, sign-LSH) keep the full-recall
    * column: their fixture configurations genuinely deliver it at
    * every tested scale. */
  def probeCoverage(ann: DataFrame, exact: DataFrame, k: Int): DataFrame =
    annHits(ann, exact).select(col("pid"), lit(k.toLong).as("k"))

  /** Per-probe count of ANN results that are true top-k neighbors (zero
    * rows included) — the raw accounting under recallArtifact, used
    * directly by the AnnRecall calibration tool. */
  def annHits(ann: DataFrame, exact: DataFrame): DataFrame = {
    val hits = ann.select("pid", "nid")
      .join(exact.select("pid", "nid"), Seq("pid", "nid"), "left_semi")
      .groupBy("pid").agg(count(lit(1)).as("hits"))
    exact.select("pid").distinct()
      .join(hits, Seq("pid"), "left")
      .select(col("pid"), coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): prune
    * embedding-level near-duplicates WITHOUT an all-pairs stage by
    * confining the pairwise cosine check to k-means clusters.
    *
    * Index: the IVF centroid fit (`fitIvfCentroids` — deterministic
    * hash-sampled seeds + DECIMAL Lloyd refinement) collected once as a
    * plan literal; every vector picks its nearest centroid MAP-SIDE
    * (`array_max` over the centroid literal, zero shuffles — the ivfpq
    * index-build trick). Prune: within each cluster, a vector is REMOVED
    * iff some LOWER-id vector in the same cluster has cosine ≥
    * `threshold` (the deterministic keep-first greedy — no iteration, no
    * order dependence). The witness reported per removed vector is the
    * highest-cosine lower-id cluster-mate (ties → smallest id).
    *
    * Scale shape: the only corpus-sized shuffle keys on the CLUSTER id,
    * so the pairwise stage is Σ nᵢ² over cluster sizes — the SemDeDup
    * n²/k cost model, never corpus². At 100 TB nCentroids grows ∝ n (the
    * paper runs 50k clusters for LAION-scale corpora) so cluster sizes
    * stay bounded; a skewed giant cluster is exactly the AQE skew-join
    * case (same mitigation as the LSH band joins). Cluster-confined
    * removal is a SUBSET of the flat greedy rule (a cluster-mate witness
    * is also a global witness) — pinned by SemDedupSpec, with the
    * nCentroids=1 configuration exactly equal to the flat rule.
    *
    * Returns one row per input vector:
    * (id, cid, removed, witness_id, witness_sim) — witness columns NULL
    * for kept vectors with no lower-id cluster-mate above the threshold.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCentroids: Int = 64,
                    lloydIters: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    graft.GraftExtensions.ensure(spark)
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    // fit → literal: bounded by construction (nCentroids × dim doubles)
    val centRows = fitIvfCentroids(corpus, nCentroids, lloydIters)
      .select(col("cid").cast(LongType), col("cv"))
      .collect()
      .map { r =>
        val cv = r.getSeq[Double](1)
        (r.getLong(0), cv, math.sqrt(cv.map(x => x * x).sum))
      }.toSeq.sortBy(_._1)
    require(centRows.nonEmpty, "semanticDedup: empty corpus")
    val centLit = typedLit(centRows)
    // map-side nearest-centroid assignment (csim DESC, cid ASC tiebreak)
    val nearestCid = (v: Column) =>
      -array_max(transform(centLit, c =>
        struct((dot(v, c.getField("_2")) / c.getField("_3")).as("csim"),
          (-c.getField("_1")).as("nc")))).getField("nc")
    val assigned = corpus.select(col("nid"), col("nv"), col("nn"),
      nearestCid(col("nv")).as("cid"))
    // cluster-confined pairwise stage: shuffle keys on cid only
    val a = assigned.select(col("nid").as("id"), col("nv").as("av"),
      col("nn").as("an"), col("cid"))
    val b = assigned.select(col("nid").as("bid"), col("nv").as("bv"),
      col("nn").as("bn"), col("cid"))
    val witness = a.join(b, Seq("cid"))
      .where(col("bid") < col("id"))
      .withColumn("sim", round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6))
      .where(col("sim") >= threshold)
      .groupBy(col("id"))
      .agg(max(col("sim")).as("witness_sim"),
        // highest-sim lower-id mate; ties at the rounded sim → smallest id
        max_by(col("bid"), struct(col("sim"), (-col("bid")).as("nb")))
          .as("witness_id"))
    assigned.select(col("nid").as("id"), col("cid"))
      .join(witness, Seq("id"), "left")
      .select(col("id"), col("cid"),
        col("witness_sim").isNotNull.as("removed"),
        col("witness_id"), col("witness_sim"))
  }

  /** Vector dimensionality: the caller-passed value when positive, else a
    * deterministic min(size) aggregate over the corpus (one eager job —
    * hot paths should pass `dim`; see signLshTopK's docstring for why a
    * limit(1) probe would be cheaper but non-deterministic). */
  private def dimOf(emb: DataFrame, vecCol: String, dim: Int): Int =
    if (dim > 0) dim
    else emb.agg(min(size(col(vecCol)))).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_ => r.getInt(0))).getOrElse(0)

  /** splitmix64 finalizer — the deterministic PRNG behind the LSH
    * hyperplanes (public-domain constant mix, same family as
    * java.util.SplittableRandom). */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Hyperplane p over `dim` dimensions: components uniform in [-1, 1),
    * derived deterministically from (p, d). Materialized ONCE as a plan
    * literal — each row then pays only the codegen dot product, not
    * dim × nBits hash evaluations. */
  private def hyperplane(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      (splitmix64(p.toLong * 1048573L + d) >>> 11).toDouble /
        (1L << 52).toDouble - 1.0
    }

  /** Sign-LSH (random-hyperplane) bucketed ANN — the alternative scale
    * path to IVF: each vector gets an `nBits`-bit signature per hash table
    * (sign of the dot product with deterministic pseudo-random
    * hyperplanes); probes compare only against corpus vectors sharing a
    * bucket in AT LEAST ONE of the `nTables` tables — the classic
    * (nBits, L) OR-amplification: per-table miss probability is driven
    * down exponentially in L, at the cost of an L× bucketed index. The
    * join keys on (table, signature) — the bucketing IS the shuffle
    * partitioning, like the MinHash bands; no all-pairs stage exists. The
    * hyperplanes are literal array columns baked into the plan (no stored
    * model, no per-row recomputation). Recall tunes via (nBits ↓, L ↑);
    * cost via (nBits ↑, L ↓).
    *
    * ALL vectors must share one dimensionality (the fixed-dim contract of
    * any hyperplane LSH). Pass it as `dim`; when ≤ 0 it is derived with a
    * deterministic min(size) aggregate — one extra eager job, so callers on
    * a hot path should pass it (a limit(1) probe would be cheaper but
    * non-deterministic: a ragged corpus would get hyperplanes sized to
    * whichever row the probe returned, changing bucketing run-to-run).
    */
  def signLshTopK(emb: DataFrame, idCol: String, vecCol: String,
                  probePred: Column => Column, k: Int,
                  nBits: Int = 8, nTables: Int = 4, dim: Int = -1): DataFrame = {
    graft.GraftExtensions.ensure(emb.sparkSession)
    val d =
      if (dim > 0) dim
      else emb.agg(min(size(col(vecCol)))).collect()
        .headOption.flatMap(r => Option(r.get(0)).map(_ => r.getInt(0))).getOrElse(0)
    // one row per (vector, table) with that table's signature — the L×
    // index; hyperplane (t, p) is globally indexed t*nBits + p
    val withSig = (df: DataFrame, v: String) => {
      val sigs = (0 until nTables).map { tbl =>
        struct(lit(tbl).as("t"),
          concat((0 until nBits).map(p =>
            when(call_function("graft_dot", col(v),
              typedLit(hyperplane(tbl * nBits + p, d))) >= 0,
              lit("1")).otherwise(lit("0"))): _*).as("sig"))
      }
      df.withColumn("__ts", explode(array(sigs: _*)))
        .withColumn("__t", col("__ts.t"))
        .withColumn("__sig", col("__ts.sig"))
        .drop("__ts")
    }
    val corpus = withSig(prep(emb, idCol, vecCol, "nid", "nv", "nn"), "nv")
    val probes = withSig(
      prep(emb.where(probePred(col(idCol))), idCol, vecCol, "pid", "pv", "pn"), "pv")
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("nid").asc)
    probes.join(corpus, Seq("__t", "__sig"))
      .where(col("nid") =!= col("pid"))
      .withColumn("sim", round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      // a pair can collide in several tables — one candidate per (pid, nid)
      .groupBy(col("pid"), col("nid"))
      .agg(max(col("sim")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
  }

  /** Squared L2 distance between two double arrays — the PQ fit/encode
    * metric. The codegen `graft_l2` Expression (`functions/L2Distance`),
    * bit-identical to the interpreted
    * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0d, _+_)` it
    * replaced (same left-to-right IEEE sequence) but a tight generated
    * loop — the PQ encode evaluates m × kCodes of these per vector, so
    * this is the hottest expression in every PQ fit/encode pass. */
  private val l2 = (a: Column, b: Column) => call_function("graft_l2", a, b)

  /** PQ codebook fit (shared by pqTopK / ivfpqTopK): each vector is cut
    * into `m` subspaces of `sub` dims; per subspace a codebook of up to
    * `kCodes` words is trained exactly like `ivfTopK`'s centroids
    * (deterministic hash-order seeds + `lloydIters` Lloyd steps in
    * DECIMAL; one sub-vector frame keyed by subspace trains all m
    * codebooks in one plan). The fitted model is m × kCodes × sub doubles
    * — bounded, corpus-size-independent — so like the IVF centroids it is
    * collected once and re-emitted by callers as a plan literal
    * (`[s][code][pos]`).
    *
    * A corpus smaller than `kCodes` clamps the effective codebook to the
    * available seed count rather than failing (mirroring ivfTopK's
    * limit(nCentroids) degradation); consumers index the literal
    * positionally, so they adapt to the narrower codebook.
    */
  private def fitPqCodebook(corpus: DataFrame, m: Int, sub: Int,
                            kCodes: Int, lloydIters: Int): Seq[Seq[Seq[Double]]] = {
    // one row per (vector, subspace): the training frame for all m codebooks
    val nvd = transform(col("nv"), _.cast(DoubleType))
    val subvecs = corpus.select(col("nid"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(nvd, s * lit(sub) + lit(1), lit(sub)))).as(Seq("s", "sv")))

    // seeds: first kCodes sub-vectors per subspace in hash order — same
    // deterministic, corpus-size-independent draw as the IVF centroids.
    // Collected IMMEDIATELY (bounded m × kCodes × sub artifact): the fit
    // loop re-emits the current codebook as a plan literal each round, so
    // Lloyd assignment is a map-side argmin inside codegen (kCodes l2
    // evals per sub-vector, pqEncode's own shape) — never the former
    // corpus × kCodes broadcast join whose (s, nid, ARRAY) re-group key
    // forced a sort-based aggregation (at kCodes=256 that join carried
    // 256× the corpus and one sorted task ground for minutes at sf1)
    val wSeed = Window.partitionBy(col("s"))
      .orderBy(xxhash64(col("nid")).asc, col("nid").asc)
    val seeded = subvecs
      .withColumn("r", row_number().over(wSeed))
      .where(col("r") <= kCodes)
      .select(col("s"), (col("r") - 1).as("code"), col("sv").as("cw"))
      .orderBy("s", "code").collect()
    val kEff = seeded.count(_.getInt(0) == 0)
    require(kEff >= 1, "PQ codebook fit: empty corpus")
    var cb: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      val rows = seeded.filter(_.getInt(0) == s)
      // every subspace seeds one row per corpus vector, so the clamp
      // min(kCodes, |corpus|) is uniform across subspaces
      require(rows.length == kEff,
        s"subspace $s has ${rows.length} codewords, expected $kEff")
      rows.sortBy(_.getInt(1)).toSeq.map(_.getSeq[Double](2))
    }
    for (_ <- 0 until lloydIters) {
      val cbLit = typedLit(cb)
      // nearest codeword of this row's subspace: distance array, then
      // FIRST position of the min — the same (d2, code) lexicographic
      // tiebreak as a min_by (struct-field access inside higher-order
      // lambdas loses aliases, hence the positional spelling)
      val cwS = element_at(cbLit, col("s") + 1)
      val dists = transform(cwS, cw => l2(col("sv"), cw))
      // Lloyd step in DECIMAL (bit-deterministic across partitionings):
      // one hash aggregation on scalar keys, map-side partials
      val means = subvecs
        .select(col("s"), col("sv"), dists.as("ds"))
        .select(col("s"),
          (array_position(col("ds"), array_min(col("ds"))) - 1)
            .cast("int").as("code"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(avg(col("v").cast(DecimalType(38, 12))).as("mv"))
        .collect() // bounded: ≤ m × kCodes × sub rows
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
          r.getDecimal(3).doubleValue())
        .toMap
      // a codeword that lost every assignment keeps its old value so the
      // codebook stays dense — consumers index the literal positionally
      cb = cb.zipWithIndex.map { case (words, s) =>
        words.zipWithIndex.map { case (old, c) =>
          old.indices.map(p => means.getOrElse((s, c, p), old(p)))
        }
      }
    }
    cb
  }

  /** Bits per packed sub-code: ceil(log2(kCodes)). */
  private def pqBits(kCodes: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.max(1, kCodes - 1))

  /** Whether m sub-codes of a kCodes-word codebook pack into one
    * non-negative long (the engine-real compression point: the index then
    * stores ONE 8-byte column per vector instead of an array<int>). True
    * for the defaults — m=8, kCodes=16 → 32 bits. */
  private def pqPackable(m: Int, kCodes: Int): Boolean =
    m * pqBits(kCodes) <= 63

  /** `codes[s]` = index of the L2-nearest codeword of subspace s — the PQ
    * encode, map-side only (an `array_min` over a scored struct array
    * built from the literal codebook). With `packedBits` set, the m codes
    * are OR-folded into a single long (code s at bit offset s·bits) —
    * same integers, 8 bytes per vector. */
  private def pqEncode(cbLit: Column, vec: Column, sub: Int,
                       packedBits: Option[Int] = None): Column = {
    val vd = transform(vec, _.cast(DoubleType))
    val codes = transform(cbLit, (cb, s) => {
      val sv = slice(vd, s * lit(sub) + lit(1), lit(sub))
      array_min(transform(cb, (cw, c) =>
        struct(l2(sv, cw).as("d2"), c.as("code")))).getField("code")
    })
    packedBits match {
      case None => codes
      case Some(bits) => aggregate(
        transform(codes, (c, s) =>
          call_function("shiftleft", c.cast(LongType), s * lit(bits))),
        lit(0L), _ bitwiseOR _)
    }
  }

  /** Per-probe ADC distance table `dtab[s][c] = dot(probe_s,
    * codeword[s][c])` — m × kCodes entries from the literal codebook,
    * map-side. */
  private def pqDtab(cbLit: Column, vec: Column, sub: Int): Column = {
    val pd = transform(vec, _.cast(DoubleType))
    transform(cbLit, (cb, s) => {
      val ps = slice(pd, s * lit(sub) + lit(1), lit(sub))
      transform(cb, cw =>
        aggregate(zip_with(ps, cw, (x, y) => x * y), lit(0.0), _ + _))
    })
  }

  /** ADC score of an encoded vector against a probe's distance table: m
    * array lookups instead of dim multiplies —
    * `dot(p, x) = Σ_s dot(p_s, x_s) ≈ Σ_s dtab[s][codes[s]]` (exact
    * additive decomposition, quantization error only inside each
    * subspace). With `packedBits` set, codes[s] is a shift-and-mask field
    * of the packed long — same lookups, identical scores. */
  private def adcScore(packedBits: Option[Int]): Column = packedBits match {
    case None => aggregate(
      zip_with(col("dtab"), col("codes"), (t, c) => element_at(t, c + 1)),
      lit(0.0), _ + _)
    case Some(bits) => aggregate(
      transform(col("dtab"), (t, s) => element_at(t,
        call_function("shiftright", col("codes"), s * lit(bits))
          .bitwiseAND(lit((1L << bits) - 1)).cast(IntegerType) + 1)),
      lit(0.0), _ + _)
  }

  /** Product-quantization approximate top-k (the compressed-index tier;
    * Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011 — the public design behind Faiss's IndexPQ).
    *
    * Where IVF answers "scan fewer vectors", PQ answers "make each vector
    * smaller": the index keeps only (id, codes, norm) per vector, and
    * whenever m · ceil(log2 kCodes) ≤ 63 (the defaults: 8 × 4 = 32 bits)
    * the m sub-codes are PACKED INTO ONE LONG column — at dim=64/m=8 that
    * is 8 code bytes + 8 norm bytes vs 256 raw float bytes, a real 16×
    * engine-side compression, with the ADC lookup a shift-and-mask inside
    * whole-stage codegen. Wider configurations fall back to `array<int>`
    * codes (same integers; the packed/array paths are spec-pinned
    * identical). Raw vectors are re-read ONLY for the `k × refine`
    * re-rank candidates per probe (a bounded semi-join back to the
    * corpus, the IO pattern every production PQ deployment uses).
    *
    * Fit/encode/ADC: see fitPqCodebook / pqEncode / pqDtab / adcScore.
    *
    * SCALE CONTRACT: this flat variant ADC-scans the ENTIRE encoded corpus
    * per probe batch (and the `k × refine` cut below it is a ranking
    * window over that probes × corpus expansion) — intended for bounded
    * probe sets against a corpus whose CODES fit comfortably in cluster
    * memory. The corpus-scale composition is `ivfpqTopK`, which confines
    * both the ADC scan and the ranking window to the probes' nprobe IVF
    * buckets.
    */
  /** Corpus-adaptive exact-re-rank depth for the PQ tiers. PQ recall at
    * FIXED refine decays as the corpus grows (the r10 sf1 probe measured
    * the sf0.1-calibrated refine=16 config falling 0.80→0.38 recall@5 at
    * 50k vectors): with kCodes pinned at 64 by the 6-bit packed-codegen
    * ADC path, the surviving scale lever is how many ADC-ranked
    * candidates get the EXACT re-rank. Holding candidates ∝ corpus keeps
    * the re-ranked fraction constant — re-rank cost is probes × k ×
    * refine exact dots, still microscopic next to the ADC scan it sits
    * on. The floor keeps every ≤sf0.1 fixture configuration bit-identical
    * to the r9-calibrated refine=16; the cap bounds the per-probe ranking
    * window at any corpus size (past it, grow nCentroids/nprobe instead —
    * the IVF side of the composition). */
  def scaledRefine(corpusRows: Long, floor: Int = 16, cap: Int = 512): Int =
    math.min(cap, math.max(floor, (corpusRows / 400L).toInt))

  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             probePred: Column => Column, k: Int,
             m: Int = 8, kCodes: Int = 16, lloydIters: Int = 1,
             refine: Int = 4, dim: Int = -1): DataFrame =
    pqTopKImpl(emb, idCol, vecCol, probePred, k, m, kCodes, lloydIters,
      refine, dim, pqPackable(m, kCodes))

  /** pqTopK with the code layout forced — package-private so a spec can
    * pin that the packed-long and array<int> paths return identical
    * results. */
  private[graft] def pqTopKImpl(emb: DataFrame, idCol: String, vecCol: String,
                                probePred: Column => Column, k: Int,
                                m: Int, kCodes: Int, lloydIters: Int,
                                refine: Int, dim: Int,
                                packed: Boolean): DataFrame = {
    val spark = emb.sparkSession
    graft.GraftExtensions.ensure(spark)
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val d = dimOf(emb, vecCol, dim)
    require(d > 0 && d % m == 0, s"dim=$d must be a positive multiple of m=$m")
    val sub = d / m
    val packedBits = if (packed) Some(pqBits(kCodes)) else None
    val cbLit = typedLit(fitPqCodebook(corpus, m, sub, kCodes, lloydIters))

    // encode: nearest codeword per subspace, map-side, no shuffle; the
    // index frame keeps ONLY (nid, codes, nn) — the compression point
    val encoded = corpus.select(col("nid"), col("nn"),
      pqEncode(cbLit, col("nv"), sub, packedBits).as("codes"))

    // search: per-probe ADC table, then the flat ADC scan (see the scale
    // contract above)
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol, "pid", "pv", "pn")
    val probeTabs = probes.select(col("pid"), col("pv"), col("pn"),
      pqDtab(cbLit, col("pv"), sub).as("dtab"))
    val wAdc = Window.partitionBy(col("pid")).orderBy(col("adc").desc, col("nid").asc)
    val candidates = broadcast(probeTabs).join(encoded, col("nid") =!= col("pid"))
      .withColumn("adc", round(adcScore(packedBits) / (col("pn") * col("nn")), 9))
      .withColumn("crank", row_number().over(wAdc))
      .where(col("crank") <= k * refine)
      .select(col("pid"), col("pv"), col("pn"), col("nid"))

    // exact re-rank: raw vectors are read back only for the bounded
    // candidate set (probes × k × refine rows)
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("nid").asc)
    candidates.join(corpus, Seq("nid"))
      .withColumn("sim", round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
  }

  /** Nearest-centroid pick as a max_by AGGREGATION, not a ranking window:
    * the windowed form shuffles the full |corpus| × nCentroids expansion
    * to rank it; max_by collapses to one row per vector in the map-side
    * partial, so the shuffle carries |corpus| rows regardless of
    * nCentroids. Tiebreak (csim DESC, cid ASC) via lexicographic struct.
    * Kept for the PQ sub-vector paths whose model frames are lazy; the
    * IVF paths assign with ZERO shuffle via [[nearestCidOf]] instead. */
  private val nearestCentroid = (csim: Column) =>
    max_by(col("cid"), struct(csim, (-col("cid")).as("nc")))

  /** MAP-SIDE nearest-centroid assignment against a COLLECTED model —
    * the semanticDedup/ivfpq index-build trick promoted to the shared
    * primitive: the (cid, cv, cn) rows are baked into the plan as one
    * literal array and each vector folds over it (`array_max` of
    * (csim, -cid) structs — csim DESC, cid ASC tiebreak, exactly
    * [[nearestCentroid]]'s ordering, NaN ranked greatest by both).
    * Assignment then runs inside the scan's own codegen stage: ZERO
    * shuffle, vs the aggregation form's full-corpus exchange on the
    * group-by — at 1000 executors that exchange IS the index-build
    * bottleneck, and nothing about picking a per-row argmax needs one.
    * `csim = dot(nv,cv)/(nn·cn)`, the exact expression the aggregation
    * form computed, so bucket membership is bit-identical. */
  private def nearestCidOf(nv: Column, nn: Column,
                           centRows: Seq[(Long, Seq[Double], Double)])
      : Column =
    -array_max(scoredCids(nv, nn, centRows)).getField("nc")

  /** The `n` best buckets of each vector as an array of cids, map-side:
    * [[nearestCidOf]]'s (csim, −cid) structs sorted DESCENDING — csim
    * DESC, cid ASC, NaN above every number and NULL below, the exact
    * order of a window `orderBy(csim.desc, cid.asc)` — then cut to `n`.
    * No shuffle: the ranking runs in the probe scan's own stage. */
  private def topCidsOf(nv: Column, nn: Column,
                        centRows: Seq[(Long, Seq[Double], Double)],
                        n: Int): Column =
    transform(slice(sort_array(scoredCids(nv, nn, centRows), asc = false),
      1, n), x => -x.getField("nc"))

  /** One (csim = dot(nv,cv)/(nn·cn), nc = −cid) struct per centroid, the
    * model baked into the plan as a literal array. */
  private def scoredCids(nv: Column, nn: Column,
                         centRows: Seq[(Long, Seq[Double], Double)])
      : Column =
    transform(typedLit(centRows.sortBy(_._1)), c =>
      struct((dot(nv, c.getField("_2")) / (nn * c.getField("_3")))
          .as("csim"),
        (-c.getField("_1")).as("nc")))

  /** (cid, cv, cn) rows of a collected centroid frame, the input shape
    * [[nearestCidOf]] bakes into the plan. */
  private def centTuples(rows: Seq[org.apache.spark.sql.Row])
      : Seq[(Long, Seq[Double], Double)] =
    rows.map { r =>
      (r.getLong(r.fieldIndex("cid")),
        r.getSeq[Double](r.fieldIndex("cv")),
        r.getDouble(r.fieldIndex("cn")))
    }

  /** IVF centroid fit (shared by ivfTopK / ivfpqTopK): `nCentroids` seed
    * vectors drawn by a deterministic pseudo-random sample (top-n by hash
    * of id — stable, cheap TakeOrdered, size-independent of the corpus),
    * then `lloydIters` k-means refinement steps (means accumulated in
    * DECIMAL so the refined centroids are bit-deterministic across
    * partitionings). The per-iteration assignment re-emits the current
    * centroids as a plan literal (they are collected anyway at the end —
    * the model is bounded by construction) and folds map-side via the
    * [[nearestCidOf]] ordering, so the ONLY corpus-wide exchange in the
    * whole fit is the Lloyd mean's partial aggregation, whose shuffle
    * payload is nCentroids × dim rows per map partition — the
    * aggregation-form assignment used to add a full |corpus|-row
    * exchange per iteration on top. Returns the (cid, cv) centroid
    * frame (a local relation); callers collect it once. */
  private def fitIvfCentroids(corpus: DataFrame, nCentroids: Int,
                              lloydIters: Int): DataFrame = {
    val spark = corpus.sparkSession
    val seeds = corpus
      .orderBy(xxhash64(col("nid")).asc, col("nid").asc)
      .limit(nCentroids)
      .select(col("nid").as("cid"),
        transform(col("nv"), _.cast(DoubleType)).as("cv"))
    var centRows = seeds.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val centSchema = seeds.schema
    for (_ <- 0 until lloydIters) {
      // assign to nearest seed MAP-SIDE (norm of nv is constant per nid —
      // dividing by it cannot change the per-vector ranking, so csim
      // omits it; cn is the same left-to-right double accumulation
      // graft_dot + sqrt computed in the aggregation form)
      val lit3 = centRows.map { case (cid, cv) =>
        (cid, cv, math.sqrt(cv.map(x => x * x).sum)) }
      val assignedTo = corpus.select(
        nearestCidOf(col("nv"), lit(1.0), lit3).as("cid"), col("nv"))
      // Lloyd step: centroid ← mean of its cluster, per dimension.
      centRows = assignedTo
        .select(col("cid"), posexplode(col("nv")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("v").cast(DecimalType(38, 12))).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), x => x.getField("m").cast(DoubleType)).as("cv"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(centRows.map { case (cid, cv) =>
        org.apache.spark.sql.Row(cid, cv) }: _*),
      centSchema)
  }

  /** IVF-style approximate top-k (the scale path).
    *
    * Index build: `nCentroids` seed vectors are drawn by a deterministic
    * pseudo-random sample (top-n by hash of id) — the count is FIXED,
    * independent of corpus size, so the centroid table stays broadcastable
    * at any scale and assignment cost is |corpus| × nCentroids, not
    * |corpus|²/const. `lloydIters` k-means refinement steps then move each
    * centroid to the mean of its assigned cluster (the classic Lloyd
    * iteration, run as the same assignment job plus one aggregation —
    * means are accumulated in DECIMAL so the refined centroids are
    * bit-deterministic across partitionings). Every vector is assigned to
    * its nearest refined centroid (broadcast join, one pass).
    * Search: each probe ranks centroids, keeps `nprobe`, and scans only
    * vectors assigned to those centroids.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              probePred: Column => Column, k: Int,
              nCentroids: Int = 64, nprobe: Int = 3,
              lloydIters: Int = 1): DataFrame = {
    val spark = emb.sparkSession
    graft.GraftExtensions.ensure(spark)
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val centroids = fitIvfCentroids(corpus, nCentroids, lloydIters)
    // Fit/transform split: the fitted model is nCentroids × dim doubles —
    // bounded by construction, independent of corpus size — so it is
    // collected to the driver and re-emitted as a literal local relation
    // (exactly how MLlib's KMeansModel holds its centers). Without the
    // collect, every transform-side consumer (index assignment, probe
    // ranking) re-runs the whole seed + Lloyd fit pipeline; with it, the
    // fit happens once and the consumers broadcast a tiny literal.
    val fitted = centroids.withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val centAll = fitted.collect()
    val cent = spark.createDataFrame(
      java.util.Arrays.asList(centAll: _*), fitted.schema)

    // index: nearest centroid per vector — the map-side literal fold
    // (zero shuffle; assignment runs in the scan's codegen stage)
    val assigned = corpus.select(col("nid"), col("nv"), col("nn"),
      nearestCidOf(col("nv"), col("nn"), centTuples(centAll.toIndexedSeq))
        .as("cid"))

    // search: top-nprobe centroids per probe
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol, "pid", "pv", "pn")
    val wProbe = Window.partitionBy(col("pid"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probeBuckets = probes.join(broadcast(cent), lit(true))
      .withColumn("csim", dot(col("pv"), col("cv")) / (col("pn") * col("cn")))
      .withColumn("crank", row_number().over(wProbe))
      .where(col("crank") <= nprobe)
      .select(col("pid"), col("pv"), col("pn"), col("cid"))

    // scan only the selected buckets
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("nid").asc)
    broadcast(probeBuckets)
      .join(assigned, Seq("cid"))
      .where(col("nid") =!= col("pid"))
      .withColumn("sim", round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
  }

  /** X110 — PERSISTED IVF index, the build-once / probe-many split the
    * in-query tiers (ivfTopK and friends) deliberately do not have: at
    * 100 TB the index build is a scheduled job and query batches arrive
    * later, against an index they must not re-fit.
    *
    * Layout on disk:
    *   - `path/centroids.v<N>`: the fitted model (cid, cv, cn) —
    *     nCentroids rows, one file; doubles round-trip parquet
    *     bit-exactly, so a probe against the loaded index is
    *     bit-identical to one against the in-query fit. Versioned so a
    *     REBUILD can stage the new model beside the old and publish both
    *     halves with one pointer flip; a pre-versioning flat
    *     `path/centroids` still resolves (see [[ivfCentroidsDir]]).
    *   - `path/index.v<N>`: the inverted lists as a HIVE-PARTITIONED
    *     table, one directory per bucket (`bucket=c<cid>`). The bucket
    *     value is written as a 'c'-prefixed STRING on purpose:
    *     partition-column type inference would otherwise read small cids
    *     as INT and large ones as BIGINT, and the resulting cast around
    *     the partition column can defeat pruning — a string value is
    *     inferred identically at every scale.
    *   - `path/index.ptr`: a pointer file naming the CURRENT lists
    *     directory (line 1) and centroid directory (line 2; absent in a
    *     pre-versioning pointer ⇒ flat `centroids`) — the MetaStore
    *     `_current` discipline (`MetaStore.scala:71,404`) applied to the
    *     index: a writer that replaces lists (compaction) or the whole
    *     model (rebuild) publishes fully-written sibling versions and
    *     flips this pointer by writing `index.ptr.tmp` and RENAMING it
    *     over `index.ptr` — an atomic replace on HDFS and POSIX, so a
    *     reader at any instant opens either the old pointer or the new
    *     one, never a missing/truncated file (a plain overwrite-create
    *     deletes-then-writes on HDFS, leaving exactly that window).
    *     Readers resolve through [[ivfIndexDataDir]], which additionally
    *     falls back to the highest staged `index.v<N>` if the pointer is
    *     unreadable on a filesystem without atomic rename-over; a
    *     pre-pointer layout (`path/index`) still resolves last.
    *   - `path/tokens/append/<token>`, `path/tokens/delete/<token>`:
    *     zero-byte COMMIT MARKERS for the idempotent append/delete — the
    *     durable memory that a replay token fully published, which
    *     survives compaction renaming its files (see
    *     [[ivfIndexAppendIdempotent]]). Append and delete live in
    *     DISJOINT subdirectories, and their published index files carry
    *     `A.<token>-` / `D.<token>-` prefixes — the `.` separator cannot
    *     appear in a token (`[0-9A-Za-z_-]+`), so no append token can
    *     forge a delete token's file prefix or marker (or vice versa),
    *     closing the replay-cross-talk hole a shared flat namespace had.
    *
    * Probing resolves the bounded centroid model (cached per model
    * version, see `Models`), ranks buckets per probe map-side against it,
    * and then — the point of the layout — filters the index scan with the
    * probe batch's DISTINCT bucket list (bounded by min(nCentroids,
    * nprobe·|batch|) values, collected as plan metadata exactly like the
    * centroid literal): Spark turns that into static PARTITION PRUNING,
    * so the scan lists and reads only the probed directories —
    * nprobe/nCentroids of the corpus index per typical batch, enforced in
    * PlanSpec via the scan's partition count. Ranking math is ivfTopK's,
    * so recall is the calibrated IVF recall unchanged. */
  def ivfIndexBuild(emb: DataFrame, idCol: String, vecCol: String,
                    path: String, nCentroids: Int = 64,
                    lloydIters: Int = 1): Unit =
    ivfIndexBuild(emb, idCol, vecCol, path, nCentroids, lloydIters,
      crashBeforeFlip = false)

  /** A (RE)BUILD is staged exactly like a compaction: the new model and
    * its lists are fully written as `centroids.v<N>` / `index.v<N>`
    * SIBLINGS of the current index, then both are published with the one
    * atomic pointer flip — a crash anywhere before the flip leaves the
    * old index current and fully probeable (the round-12 build deleted
    * old state FIRST, so a mid-rebuild crash left nothing resolvable).
    * After the flip the old lifecycle is vacuumed: the immediately
    * previous lists+centroids pair is RETAINED for one cycle (the same
    * reader-retention contract compaction honors), everything older goes,
    * and `stage`/`delstage`/`tokens` are wiped because in-flight staging
    * and replay markers describe the OLD model's lists.
    *
    * Streaming-checkpoint contract: wiping `tokens` means a streaming
    * ingest/retract checkpoint that predates the rebuild MUST be reset
    * (fresh checkpoint directory) — its committed batches are not in the
    * rebuilt lists and their markers are gone, so a replay from the old
    * checkpoint would re-append them as fresh data (correct for the new
    * index only if the source still serves those batches exactly once —
    * which a reset checkpoint re-reading the source guarantees).
    * `crashBeforeFlip` is the spec's crash-injection seam: stop after
    * both halves are staged but before the flip — the widest window. */
  private[graft] def ivfIndexBuild(emb: DataFrame, idCol: String,
                                   vecCol: String, path: String,
                                   nCentroids: Int, lloydIters: Int,
                                   crashBeforeFlip: Boolean): Unit = {
    val spark = emb.sparkSession
    val fs = hfs(spark, path)
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val fitted = fitIvfCentroids(corpus, nCentroids, lloydIters)
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    // fit once, re-emit as a literal (the ivfTopK discipline), then
    // persist the literal — one file, nCentroids rows
    val centAll = fitted.collect()
    val cent = spark.createDataFrame(
      java.util.Arrays.asList(centAll: _*), fitted.schema)
    // next version = 1 past the highest EVER staged on either half, so a
    // crashed rebuild's orphan is superseded, never republished
    val next = (indexVersionDirs(fs, path) ++ centroidVersionDirs(fs, path))
      .map(_.getName)
      .collect { case n if n.contains(".v") =>
        n.substring(n.lastIndexOf(".v") + 2).toLong }
      .foldLeft(-1L)(math.max) + 1
    val (curLists, curCent) = ivfIndexDirs(spark, path)
    cent.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/centroids.v$next")
    assignToModel(corpus, centTuples(centAll.toIndexedSeq))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/index.v$next")
    if (crashBeforeFlip) return
    writeIndexPointer(fs, path, s"index.v$next", s"centroids.v$next")
    // vacuum the old lifecycle, retaining the immediate predecessor pair
    val keep = Set(s"index.v$next", s"centroids.v$next",
      curLists.substring(curLists.lastIndexOf('/') + 1),
      curCent.substring(curCent.lastIndexOf('/') + 1))
    (indexVersionDirs(fs, path) ++ centroidVersionDirs(fs, path))
      .filterNot(p => keep(p.getName))
      .foreach(p => fs.delete(p, true))
    Seq("stage", "delstage", "tokens")
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(s"$path/$n"), true))
  }

  private[graft] def hfs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Driver-side cache of published index models. A model directory never
    * changes once a pointer names it, so what its readers need — the
    * centroid rows, and the schema of the lists built against the model —
    * is resolved once per model instead of once per call (a collect job
    * plus a one-task parquet schema-inference job each time). The key is
    * the model directory plus its listing (name, length, mtime): one
    * `listStatus`, no job. A rebuild at the same path after the old
    * index was deleted writes new part files (new names and mtimes), so a
    * reused `centroids.v0` never hits a stale entry. Holds the `MaxModels`
    * most recently used models; each is nCentroids × dim doubles, the
    * size the probe already bakes into its plan as a literal. */
  private object Models {
    private val MaxModels = 16
    private type Key = (String, Seq[(String, Long, Long)])
    private final class Model {
      var cent: Seq[(Long, Seq[Double], Double)] = _
      var listsSchema: StructType = _
    }
    private val cache = new java.util.LinkedHashMap[Key, Model](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Model]): Boolean =
        size() > MaxModels
    }

    /** None when the model directory is absent (a pointer-less legacy
      * layout): such readers are not cached. */
    private def model(spark: SparkSession, dir: String): Option[Model] = {
      val listing =
        try Some(hfs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir))
          .toSeq.map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
          .sorted)
        catch { case _: java.io.FileNotFoundException => None }
      listing.map(l => cache.synchronized(cache.computeIfAbsent((dir, l), _ => new Model)))
    }

    /** (cid, cv, cn) rows of the centroid model in `dir`. */
    def centroids(spark: SparkSession, dir: String)
        : Seq[(Long, Seq[Double], Double)] = {
      def load() = centTuples(spark.read.parquet(dir).collect().toIndexedSeq)
      model(spark, dir).fold(load()) { m =>
        m.synchronized { if (m.cent == null) m.cent = load(); m.cent }
      }
    }

    /** The inverted lists in `listsDir`, read with the schema cached for
      * `modelDir` (appends, deletes and compactions rewrite the lists
      * with the build's schema; only a rebuild — a new model — changes it). */
    def lists(spark: SparkSession, modelDir: String, listsDir: String): DataFrame = {
      def infer() = spark.read.parquet(listsDir).schema
      val schema = model(spark, modelDir).fold(infer()) { m =>
        m.synchronized {
          if (m.listsSchema == null) m.listsSchema = infer()
          m.listsSchema
        }
      }
      spark.read.schema(schema).parquet(listsDir)
    }
  }

  /** Read `index.ptr` → (lists dir name, centroids dir name). `None` when
    * the pointer is absent, empty, or transiently unreadable after
    * retries. The data rename itself is atomic on HDFS/POSIX, but the
    * LOCAL ChecksumFileSystem renames the `.crc` sidecar as a SECOND
    * operation, so a reader racing a flip can open the new pointer
    * against the old checksum (ChecksumException) — a bounded retry
    * lands on a consistent pair; only then does resolution fall down the
    * ladder. A one-line pre-versioning pointer resolves its centroid
    * half to the flat legacy `centroids`. */
  private def readIndexPointer(fs: org.apache.hadoop.fs.FileSystem,
                               path: String): Option[(String, String)] = {
    val ptr = new org.apache.hadoop.fs.Path(s"$path/index.ptr")
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      try {
        val in = fs.open(ptr)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().map(_.trim).filter(_.nonEmpty).toList
          finally in.close()
        lines match {
          case l :: c :: _ => return Some((l, c))
          case l :: Nil    => return Some((l, "centroids"))
          case Nil         => () // torn mid-flip on a non-atomic FS: retry
        }
      } catch {
        case _: java.io.FileNotFoundException if attempt >= 3 => return None
        case _: java.io.FileNotFoundException                 => ()
        case _: org.apache.hadoop.fs.ChecksumException        => ()
      }
    }
    None
  }

  /** Resolve the CURRENT inverted-lists directory of a persisted index:
    * the `index.ptr` pointer names it. If the pointer is unreadable
    * (never the case mid-flip on HDFS/POSIX — the flip is a rename-over —
    * but possible on an object store without atomic rename, or after a
    * crash that orphaned a fully-staged version), the HIGHEST staged
    * `index.v<N>` resolves instead: by construction every staged version
    * is fully written before anything else happens, and the highest one
    * is either the current (pointer lost post-flip) or a superset-staged
    * sibling about to become current. A fully pointer-less pre-versioning
    * layout falls back to the legacy `path/index` last. One bounded
    * pointer read — resolution happens once per probe/append, and the
    * retention rule (compaction and rebuild keep the immediately-previous
    * version, see [[ivfIndexCompact]]) guarantees the resolved directory
    * outlives any scan planned against it for one full cycle. */
  def ivfIndexDataDir(spark: SparkSession, path: String): String =
    ivfIndexDirs(spark, path)._1

  /** Resolve the CURRENT centroid/models directory — the pointer's second
    * line; same fallback ladder as [[ivfIndexDataDir]] (highest staged
    * version, then the flat legacy `centroids`). */
  def ivfCentroidsDir(spark: SparkSession, path: String): String =
    ivfIndexDirs(spark, path)._2

  /** Resolve BOTH halves of a persisted index — (lists dir, model dir) —
    * from ONE pointer read. Every consumer that needs the pair (probes,
    * appends, the build/compact retention sets) MUST use this rather
    * than calling [[ivfIndexDataDir]] and [[ivfCentroidsDir]] separately:
    * two separate resolutions race a concurrent publish — a rebuild
    * flipping the pointer between them would pair one version's lists
    * with ANOTHER version's model, and a rebuild changes the model, so
    * the mixed pair ranks buckets with the wrong centroids (silently
    * wrong results, not a crash). One read makes the pair a consistent
    * snapshot: both names come from the same pointer content, and the
    * retention rule (publisher keeps the immediately-previous pair one
    * cycle) guarantees both directories outlive any scan planned against
    * them. Pointer-less fallback ladder per half: highest staged
    * version, then the legacy flat layout (no pointer means no
    * concurrent publisher, so per-half resolution cannot mix there). */
  def ivfIndexDirs(spark: SparkSession, path: String): (String, String) = {
    val fs = hfs(spark, path)
    readIndexPointer(fs, path) match {
      case Some((lists, cent)) => (s"$path/$lists", s"$path/$cent")
      case None =>
        val stagedLists = indexVersionDirs(fs, path).map(_.getName)
          .collect { case n if n.startsWith("index.v") =>
            n.stripPrefix("index.v").toLong }
        val lists =
          if (stagedLists.nonEmpty) s"$path/index.v${stagedLists.max}"
          else s"$path/index"
        val stagedCent = (centroidVersionDirs(fs, path)
            ++ modelsVersionDirs(fs, path)).map(_.getName)
          .collect { case n if n.contains(".v") =>
            (n.substring(0, n.lastIndexOf(".v")),
              n.substring(n.lastIndexOf(".v") + 2).toLong) }
        val cent =
          if (stagedCent.nonEmpty) {
            val (pfx, v) = stagedCent.maxBy(_._2)
            s"$path/$pfx.v$v"
          } else s"$path/centroids"
        (lists, cent)
    }
  }

  /** ATOMIC pointer flip — the MetaStore commit's publish step
    * (`MetaStore.scala:404`) done as write-temp + rename-over: `rename`
    * replaces the destination in one filesystem operation on HDFS and
    * POSIX, so a concurrent reader opens the old pointer or the new one,
    * never a missing/truncated file (`fs.create(…, overwrite=true)`
    * would delete-then-write on HDFS — exactly the window the round-12
    * advisory flagged). Both staged directories are already fully
    * written when this runs, so the rename is the commit point. */
  private[graft] def writeIndexPointer(fs: org.apache.hadoop.fs.FileSystem,
                                       path: String, listsName: String,
                                       centName: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$path/index.ptr.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$path/index.ptr")
    val out = fs.create(tmp, true)
    try out.write(s"$listsName\n$centName\n".getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, dst)) {
      // FileSystem.rename refuses an existing destination on some
      // implementations (HDFS included) — FileContext's OVERWRITE rename
      // is the atomic replace those expose
      org.apache.hadoop.fs.FileContext
        .getFileContext(dst.toUri, fs.getConf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Every inverted-lists directory under `path`: the legacy unversioned
    * `index` plus any `index.v<N>`. */
  private[graft] def indexVersionDirs(fs: org.apache.hadoop.fs.FileSystem,
                               path: String): Seq[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName == "index" || p.getName.matches("index\\.v\\d+"))
  }

  /** Every centroid directory under `path`: the legacy flat `centroids`
    * plus any `centroids.v<N>`. */
  private def centroidVersionDirs(fs: org.apache.hadoop.fs.FileSystem,
                                  path: String)
      : Seq[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName == "centroids" ||
        p.getName.matches("centroids\\.v\\d+"))
  }

  /** Nearest-bucket assignment of prepared vectors against a COLLECTED
    * centroid model — shared by the index build and the incremental
    * append so the two can never disagree on the layout. Assignment is
    * the [[nearestCidOf]] map-side fold (zero shuffle, runs in the
    * scan's codegen stage); the ONLY exchange here is the hash
    * repartition on `bucket` before the partitioned write — the
    * small-files guard: without it every write task emits a file into
    * EVERY bucket directory it saw — tasks × nCentroids files (at 1000
    * executors: ~64k files per ingest, the classic partitioned-write
    * explosion). Clustered by bucket, each directory receives exactly
    * the tasks that own that bucket (≤ ceil(nCentroids/shuffle
    * partitions)+1 per bucket per batch) — one bounded shuffle at
    * WRITE time, the side that amortizes over every probe. */
  private def assignToModel(corpus: DataFrame,
                            centRows: Seq[(Long, Seq[Double], Double)])
      : DataFrame =
    corpus.select(col("nid"), col("nv"), col("nn"),
        concat(lit("c"), nearestCidOf(col("nv"), col("nn"), centRows))
          .as("bucket"))
      .repartition(col("bucket"))

  /** Append a delta batch to a [[ivfIndexBuild]] index WITHOUT re-fitting:
    * the new vectors are assigned to the EXISTING persisted model and
    * appended to the partitioned inverted lists — the standard incremental
    * maintenance of an IVF index (the model only moves at the next
    * scheduled rebuild; Lloyd re-fits per ingest batch would also make the
    * index layout ingest-order-dependent). One bounded model read, one
    * map-side assignment pass over the delta, an APPEND write that touches
    * only the delta's buckets — no existing data is read or rewritten. */
  def ivfIndexAppend(delta: DataFrame, idCol: String, vecCol: String,
                     path: String): Unit = {
    val spark = delta.sparkSession
    graft.GraftExtensions.ensure(spark)
    val (idxDir, centDir) = ivfIndexDirs(spark, path)
    assignToModel(prep(delta, idCol, vecCol, "nid", "nv", "nn"),
      Models.centroids(spark, centDir))
      .write.partitionBy("bucket").mode("append")
      .parquet(idxDir)
  }

  /** IDEMPOTENT append — the exactly-once twin of [[ivfIndexAppend]] for
    * replayable callers (the streaming ingest's foreachBatch): the batch
    * is assigned and written to a staging directory keyed by the caller's
    * replay `token` (overwrite — a replay of the same token rebuilds the
    * same staging content), any index files a PREVIOUS attempt of this
    * token published are deleted, and the staged files are then MOVED
    * into the bucket directories under `<token>-` prefixed names. Final
    * state per token = exactly the files of its last successful attempt,
    * whatever the crash point: mid-move leftovers are removed by the
    * delete pass of the retry. The per-call overhead vs the plain append
    * is one bounded directory listing (≤ nCentroids bucket dirs) and one
    * rename per staged file — no data is rewritten.
    *
    * The COMMIT MARKER (`path/tokens/append/<token>`, created after the last
    * rename, before the staging delete) is what keeps replays safe
    * ACROSS COMPACTION: [[ivfIndexCompact]] rewrites the lists as plain
    * part files, erasing the token prefixes the retract pass looks for —
    * without the marker, a post-compaction replay would find nothing to
    * retract and re-append the whole batch. With it, a replay of a
    * committed token is a pure no-op (it only sweeps leftover staging
    * from a crash after the marker). The crash matrix:
    *   - crash before any publish rename → no marker, staging present;
    *     replay retracts nothing, re-publishes. Compaction REFUSES while
    *     the unmarked staging exists, so it can never bake in a partial.
    *   - crash mid-publish → same: marker absent implies staging still
    *     present (staging is deleted only after the marker), so the
    *     retract pass still sees every published prefix and compaction
    *     still refuses.
    *   - crash after marker → token is durable; replay no-ops, and
    *     compaction just sweeps the leftover staging directory.
    * Marker growth: one zero-byte file per ingest batch — the same rate
    * as the streaming checkpoint's own offsets log. A replay can only
    * arrive for the checkpoint's last uncommitted batch, so markers
    * older than the checkpoint's retained batches are prunable with the
    * same retention policy as the checkpoint cleanup; they are kept here
    * because correctness never requires deleting them. */
  def ivfIndexAppendIdempotent(delta: DataFrame, idCol: String,
                               vecCol: String, path: String,
                               token: String): Unit = {
    require(token.matches("[0-9A-Za-z_-]+"), s"unsafe token: $token")
    val spark = delta.sparkSession
    graft.GraftExtensions.ensure(spark)
    val fs = hfs(spark, path)
    val staging = new org.apache.hadoop.fs.Path(s"$path/stage/$token")
    val marker = new org.apache.hadoop.fs.Path(s"$path/tokens/append/$token")
    if (fs.exists(marker)) {
      // this token fully published in a prior attempt (possibly already
      // compacted into plain part files) — the replay is a no-op except
      // for sweeping staging left by a crash after the marker write
      fs.delete(staging, true)
      return
    }
    val (idxDirStr, centDir) = ivfIndexDirs(spark, path)
    val indexDir = new org.apache.hadoop.fs.Path(idxDirStr)
    assignToModel(prep(delta, idCol, vecCol, "nid", "nv", "nn"),
      Models.centroids(spark, centDir))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(staging.toString)
    publishTokenStaged(fs, indexDir, staging, marker, token)
  }

  /** The token-idempotent PUBLISH step shared by the ANN index's
    * idempotent append (X111b) and the text index's append (X120b):
    * retract any files a previous attempt of `token` published (the
    * `A.` prefix is unforgeable by other tokens — '.' is outside the
    * token alphabet — so this can never sweep a delete's survivor
    * files), move the staged partition directories' part files into the
    * live bucket directories under `A.<token>-` prefixed names, write
    * the commit marker (from here a replay of this token is a no-op),
    * then drop staging. See [[ivfIndexAppendIdempotent]]'s scaladoc for
    * the full crash matrix this sequencing guarantees. */
  private[graft] def publishTokenStaged(fs: org.apache.hadoop.fs.FileSystem,
                                        indexDir: org.apache.hadoop.fs.Path,
                                        staging: org.apache.hadoop.fs.Path,
                                        marker: org.apache.hadoop.fs.Path,
                                        token: String): Unit = {
    if (fs.exists(indexDir)) {
      fs.listStatus(indexDir).filter(_.isDirectory).foreach { d =>
        fs.listStatus(d.getPath)
          .filter(_.getPath.getName.startsWith(s"A.$token-"))
          .foreach(f => fs.delete(f.getPath, false))
      }
    }
    fs.listStatus(staging).filter(_.isDirectory).foreach { d =>
      val target = new org.apache.hadoop.fs.Path(indexDir, d.getPath.getName)
      fs.mkdirs(target)
      fs.listStatus(d.getPath)
        .filter(_.getPath.getName.startsWith("part-"))
        .foreach { f =>
          val dst = new org.apache.hadoop.fs.Path(target,
            s"A.$token-${f.getPath.getName}")
          require(fs.rename(f.getPath, dst), s"publish failed: $dst")
        }
    }
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    fs.delete(staging, true)
  }

  /** X111c — DELETE vectors from a persisted IVF index by id: the
    * takedown / right-to-be-forgotten step that closes the index
    * lifecycle (build → append → streamed ingest → compact → DELETE).
    * Only the buckets actually holding deleted ids are rewritten — the
    * model is untouched (membership of the SURVIVORS never changes, so
    * probes are unaffected except that retracted neighbors vanish) and
    * unaffected bucket directories are never read twice or written.
    *
    * Shape: one map-side broadcast SEMI join over the index locates the
    * affected buckets (deletes carry ids, not vectors, so bucket
    * membership must be looked up — at 100 TB either maintain an
    * (nid → bucket) projection beside the index or pass the takedown
    * batch's vectors through the model instead; both make this lookup
    * O(batch)); one partition-PRUNED anti-join scan rebuilds just those
    * buckets' survivor rows.
    *
    * Exactly-once via the append's token discipline, inverted: staged
    * survivor files are MOVED IN under `D.<token>-` prefixes BEFORE the
    * retired originals are deleted (add-then-remove — a crash can leave
    * transient duplicates of survivor rows, never lose them), and the
    * `dropDuplicates(nid)` in the rebuild repairs exactly those torn
    * duplicates on replay (nid is unique in a consistent index; the
    * extra dedup shuffle is bounded by the affected buckets). A replay
    * of a committed token no-ops on its marker; [[ivfIndexCompact]]
    * refuses to run over an unmarked in-flight delete exactly as it does
    * for appends. Deletion is idempotent BY CONTENT (a filter), so even
    * a compaction-then-replay interleaving converges: the replay re-scans,
    * finds the ids (or none), and repairs. Mutators (append/delete/
    * compact) are externally serialized; a probe overlapping a delete
    * may transiently see a retracted row — the same eventual visibility
    * as a probe overlapping an append's partial publish. */
  def ivfIndexDeleteIdempotent(ids: DataFrame, idCol: String, path: String,
                               token: String): Unit =
    indexDeleteByKeyIdempotent(ids, idCol, path, token,
      keyCol = "nid", rowKey = Seq("nid"))

  /** The keyed-delete machinery behind [[ivfIndexDeleteIdempotent]] (ANN,
    * key `nid`, unique per row) and the text index's takedown (X120c,
    * key `doc_id`, one posting row per (tok, doc_id)) — both persisted
    * index families share the same layout (bucket-partitioned lists, a
    * pointer, token-marker namespaces), so they share the delete the way
    * they share [[publishTokenStaged]]. `rowKey` is the row-identity the
    * crash-repair dedup uses. */
  private[graft] def indexDeleteByKeyIdempotent(ids: DataFrame,
      idCol: String, path: String, token: String,
      keyCol: String, rowKey: Seq[String]): Unit = {
    require(token.matches("[0-9A-Za-z_-]+"), s"unsafe token: $token")
    val spark = ids.sparkSession
    graft.GraftExtensions.ensure(spark)
    val fs = hfs(spark, path)
    val staging = new org.apache.hadoop.fs.Path(s"$path/delstage/$token")
    val marker = new org.apache.hadoop.fs.Path(s"$path/tokens/delete/$token")
    if (fs.exists(marker)) {
      fs.delete(staging, true)
      return
    }
    val del = broadcast(
      ids.select(col(idCol).cast(LongType).as("del_id")).distinct())
    val (idx, modelDir) = ivfIndexDirs(spark, path)
    val lists = Models.lists(spark, modelDir, idx)
    val affected = lists
      .join(del, col(keyCol) === col("del_id"), "left_semi")
      .select("bucket").distinct()
      .collect().map(_.getString(0)).sorted // bounded by the bucket count
    if (affected.nonEmpty) {
      val kept = lists
        .where(col("bucket").isin(affected.toSeq: _*))
        .join(del, col(keyCol) === col("del_id"), "left_anti")
        // repairs torn duplicates from a crashed attempt
        .dropDuplicates(rowKey)
        .repartition(col("bucket"))
      kept.write.partitionBy("bucket").mode("overwrite")
        .parquet(staging.toString)
      val prefix = s"D.$token-"
      affected.foreach { b =>
        val target = new org.apache.hadoop.fs.Path(s"$idx/bucket=$b")
        // retract files a previous attempt of this token published
        if (fs.exists(target)) {
          fs.listStatus(target)
            .filter(_.getPath.getName.startsWith(prefix))
            .foreach(f => fs.delete(f.getPath, false))
        }
        // snapshot the originals (everything not ours), move the staged
        // survivors in, THEN delete the snapshot — add-then-remove
        val snapshot =
          if (fs.exists(target))
            fs.listStatus(target).map(_.getPath)
              .filter(p => p.getName.endsWith(".parquet") &&
                !p.getName.startsWith(prefix))
          else Array.empty[org.apache.hadoop.fs.Path]
        val stagedBucket =
          new org.apache.hadoop.fs.Path(s"$staging/bucket=$b")
        if (fs.exists(stagedBucket)) {
          fs.mkdirs(target)
          fs.listStatus(stagedBucket)
            .filter(_.getPath.getName.startsWith("part-"))
            .foreach { f =>
              val dst = new org.apache.hadoop.fs.Path(target,
                s"$prefix${f.getPath.getName}")
              require(fs.rename(f.getPath, dst), s"delete publish failed: $dst")
            }
        }
        // a bucket whose every row was deleted stages nothing — the
        // snapshot delete below empties it, which is the correct state
        snapshot.foreach(p => fs.delete(p, false))
      }
    }
    // commit point: from here a replay of this token is a no-op
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/tokens/delete"))
    fs.create(marker, true).close()
    fs.delete(staging, true)
  }

  /** Compact a [[ivfIndexBuild]] index's inverted lists WITHOUT touching
    * the model: every [[ivfIndexAppend]] / streaming-ingest micro-batch
    * leaves one small file per touched bucket directory, so a long-running
    * ingest accumulates files until probe-time scan planning (footer
    * reads, task setup) dominates — the named "scheduled rebuild" step of
    * the index lifecycle. The rows are read back, re-clustered by bucket
    * (hash repartition on the partition column — each directory then
    * receives its rows from exactly the tasks owning that bucket, the
    * assignToModel small-files guard applied to the whole index), and
    * PUBLISHED as a fresh `index.v<N+1>` directory committed by flipping
    * the `index.ptr` pointer — the MetaStore version-pointer discipline
    * (`MetaStore.scala:272`), not a directory rename: the current index
    * path resolves at EVERY instant to a fully-written directory (old or
    * new, never absent), and a crash anywhere before the flip leaves the
    * old version current with only an orphan staging dir to overwrite on
    * retry. After the flip, versions OLDER than the immediate predecessor
    * are vacuumed; keeping exactly one retired version means a reader
    * that resolved the pointer just before the flip keeps its files for
    * a full compaction cycle (the retention contract probes rely on).
    * Bucket membership is NOT recomputed — the frozen model stays
    * authoritative, so probes return bit-identical results before and
    * after (pinned by q_ann_compact and the SignLshSpec file inventory).
    * Returns (filesBefore, filesAfter).
    *
    * Compaction REFUSES to run while `path/stage` holds a token directory
    * without its commit marker: that is an idempotent append in flight
    * (or crashed mid-publish), and folding its half-published,
    * token-prefixed files into plain part files would strand rows the
    * replay's retract pass could no longer find — the replay would then
    * re-append and duplicate the batch. Marked leftovers (crash after
    * the commit marker) are just swept. Mutators (append, compact) are
    * externally serialized — one writer at a time, the streaming ingest's
    * per-query ordering — while probes need no coordination at all.
    *
    * At 100 TB this is one shuffle of index-sized (not corpus-sized)
    * data, scheduled off the ingest path; a mega-bucket beyond one
    * task's comfort is the same AQE-skew case as any hash repartition. */
  def ivfIndexCompact(spark: SparkSession, path: String): (Int, Int) =
    ivfIndexCompact(spark, path, crashBeforeFlip = false)

  /** `crashBeforeFlip` is the crash-injection seam for the spec: stop
    * after the new version is fully staged but BEFORE the pointer flip —
    * exactly the widest crash window — so the test can assert the index
    * still resolves to the old version and a retried compaction recovers. */
  private[graft] def ivfIndexCompact(spark: SparkSession, path: String,
                                     crashBeforeFlip: Boolean): (Int, Int) = {
    val fs = hfs(spark, path)
    // refuse while an UNCOMMITTED append or delete is in flight or
    // crashed; sweep staging of tokens that did commit (crash after the
    // marker write)
    def gateStaging(dir: String, markerOf: String => String,
                    kind: String): Unit = {
      val st = new org.apache.hadoop.fs.Path(s"$path/$dir")
      if (fs.exists(st)) {
        fs.listStatus(st).foreach { d =>
          val tok = d.getPath.getName
          if (fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/tokens/${markerOf(tok)}")))
            fs.delete(d.getPath, true)
          else throw new IllegalStateException(
            s"compact refused: $kind token '$tok' is staged at $path/$dir " +
              "without a commit marker (in flight or crashed mid-publish) — " +
              "replay it to completion or remove the staging directory first")
        }
      }
    }
    gateStaging("stage", t => s"append/$t", "append")
    gateStaging("delstage", t => s"delete/$t", "delete")
    def countFiles(p: org.apache.hadoop.fs.Path): Int = {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val (current, curCent) = ivfIndexDirs(spark, path)
    val curName = current.substring(current.lastIndexOf('/') + 1)
    val before = countFiles(new org.apache.hadoop.fs.Path(current))
    // next version = 1 past the highest EVER staged (not the pointer's):
    // a crashed compaction's orphan dir is SUPERSEDED by this higher
    // number (the retry never republishes it) and swept by the post-flip
    // vacuum below once a later compaction succeeds
    val maxV = indexVersionDirs(fs, path).map(_.getName)
      .collect { case n if n.startsWith("index.v") =>
        n.stripPrefix("index.v").toLong }
      .foldLeft(-1L)(math.max)
    val next = s"index.v${maxV + 1}"
    Models.lists(spark, curCent, current)
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/$next")
    if (crashBeforeFlip) return (before, -1)
    // the model is untouched: the flip re-publishes the CURRENT centroid
    // directory name alongside the new lists
    writeIndexPointer(fs, path, next,
      curCent.substring(curCent.lastIndexOf('/') + 1))
    // vacuum everything but the new current and its immediate predecessor
    indexVersionDirs(fs, path)
      .filter(p => p.getName != next && p.getName != curName)
      .foreach(p => fs.delete(p, true))
    // token markers stay: the compacted files no longer carry prefixes,
    // so the markers are the only memory keeping committed replays no-ops
    (before, countFiles(new org.apache.hadoop.fs.Path(s"$path/$next")))
  }

  /** Probe a [[ivfIndexBuild]] index: top-k per probe, scanning only the
    * probed buckets' partitions (see the layout note above). */
  def ivfIndexProbe(probes0: DataFrame, idCol: String, vecCol: String,
                    path: String, k: Int, nprobe: Int = 3): DataFrame = {
    val (probeBuckets, index) = probeIndex(probes0, idCol, vecCol, path, nprobe)
    topKInBuckets(probeBuckets, index, k)
  }

  /** The front half of both index probes: each probe's `nprobe` buckets,
    * ranked map-side against the cached model ([[topCidsOf]] — no
    * cross-join window, no shuffle), and the lists scan pruned to the
    * batch's DISTINCT bucket list. That list is bounded by
    * min(nCentroids, nprobe·|batch|) strings — plan metadata, the same
    * bounded-collect class as the centroid literal, never corpus data;
    * Spark turns it into static partition pruning. The bucket ranking is
    * cheap map work against a literal, so the one recompute beats leaving
    * a persist behind in a long-lived driver. */
  private def probeIndex(probes0: DataFrame, idCol: String, vecCol: String,
                         path: String, nprobe: Int): (DataFrame, DataFrame) = {
    val spark = probes0.sparkSession
    graft.GraftExtensions.ensure(spark)
    val (idxDir, centDir) = ivfIndexDirs(spark, path)
    val probeBuckets = prep(probes0, idCol, vecCol, "pid", "pv", "pn")
      .select(col("pid"), col("pv"), col("pn"),
        explode(topCidsOf(col("pv"), col("pn"),
          Models.centroids(spark, centDir), math.max(nprobe, 0))).as("cid"))
      .select(col("pid"), col("pv"), col("pn"),
        concat(lit("c"), col("cid")).as("bucket"))
    val buckets = probeBuckets.select("bucket").distinct()
      .collect().map(_.getString(0)).sorted
    (probeBuckets, Models.lists(spark, centDir, idxDir)
      .where(col("bucket").isin(buckets.toSeq: _*)))
  }

  /** The back half: exact cosine of each probe against its buckets'
    * members, top-k per probe (ties by ascending nid). */
  private def topKInBuckets(probeBuckets: DataFrame, index: DataFrame,
                            k: Int): DataFrame = {
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    broadcast(probeBuckets).join(index, Seq("bucket"))
      .where(col("nid") =!= col("pid"))
      .withColumn("sim",
        round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
  }

  /** X2g (index leg) — FILTERED probe of a persisted IVF index: identical
    * bucket ranking and partition-pruned scan as [[ivfIndexProbe]], but
    * candidates are confined to an ALLOWLIST of ids (the set form every
    * attribute filter reduces to: `allowed = corpus.where(pred).select
    * (id)`) via a semi-join applied BEFORE the top-k window — so k
    * results are never silently under-returned by post-filtering a
    * too-short unfiltered list, the production filtered-ANN failure
    * mode. A bounded allowlist (ACL/tenant list) is BROADCAST — the
    * default; an unbounded one (a corpus-sized predicate's id set at
    * 100 TB) passes `broadcastAllowlist = false` and the semi-join
    * becomes a SHUFFLED hash join keyed on nid — the pruned index slice
    * and the allowlist both shuffle once, no driver/executor-memory
    * bound on the allowlist, and the probe's partition-pruned shape is
    * otherwise unchanged (spec-pinned equal to the broadcast path; the
    * long-term home for a permanently-huge filter remains attribute-
    * partitioned lists). At nprobe = nCentroids this equals the exact
    * [[filteredTopK]] (spec-pinned). */
  def ivfIndexProbeFiltered(probes0: DataFrame, idCol: String,
                            vecCol: String, allowed: DataFrame,
                            allowedIdCol: String, path: String, k: Int,
                            nprobe: Int = 3,
                            broadcastAllowlist: Boolean = true)
      : DataFrame = {
    val (probeBuckets, pruned) = probeIndex(probes0, idCol, vecCol, path, nprobe)
    val allowIds = allowed
      .select(col(allowedIdCol).cast(LongType).as("nid")).distinct()
    val index =
      if (broadcastAllowlist)
        pruned.join(broadcast(allowIds), Seq("nid"), "left_semi")
      else // unbounded allowlist: shuffle both sides on nid, never
        // materialize the id set on one node
        pruned.join(allowIds.hint("shuffle_hash"), Seq("nid"), "left_semi")
    topKInBuckets(probeBuckets, index, k)
  }

  /** X110c — persisted IVF+PQ index BUILD: the on-disk form of
    * [[ivfpqTopK]] (Faiss's IndexIVFPQ written as a table) — the artifact
    * a 100 TB embedding corpus actually keeps, because the raw-vector
    * index (X110) stores dim doubles per row while this stores one packed
    * long (or m small codes): ~16-64× smaller lists, so probe-time I/O
    * drops by the same factor and the exact re-rank re-reads raw vectors
    * only for the bounded candidate set, FROM THE SOURCE TABLE (the
    * index's job is candidate generation; the corpus stays the single
    * source of truth for vectors).
    *
    * Layout mirrors the raw index's versioned-pointer discipline
    * verbatim: `index.v<N>` = hive-partitioned code lists (bucket
    * 'c'-prefixed string; rows (nid, nn, codes)), `models.v<N>` = BOTH
    * bounded fitted models as sibling parquet dirs
    * (`centroids/` (cid, cv), `codebook/` (s, c, cw)), and one atomic
    * `index.ptr` rename-flip publishes the pair — a crash before the
    * flip leaves the previous version current ([[ivfIndexBuild]]'s
    * staging contract), the predecessor pair is retained one cycle,
    * older versions are vacuumed. Both fits are bounded collects
    * (nCentroids×dim + m×kCodes×sub doubles); the encode pass is ONE
    * map-side scan over the corpus — nearest-centroid fold + PQ argmin
    * against the two plan literals, ZERO shuffles before the partitioned
    * write's own clustering.
    *
    * Mutation story: probe-side readers resolve through the same
    * pointer, so a scheduled re-encode (corpus grew, models drifted) is
    * just another build call — staged, flipped, vacuumed. Incremental
    * append against the FROZEN models is the raw index's
    * [[ivfIndexAppend]] shape (encode delta map-side, append touched
    * buckets) and composes with the same token discipline; it is not
    * separately materialized here because the declared lifecycle
    * operators (X111-X112b) already pin that machinery on the raw lists.
    */
  def ivfpqIndexBuild(emb: DataFrame, idCol: String, vecCol: String,
                      path: String, nCentroids: Int = 64, m: Int = 8,
                      kCodes: Int = 64, lloydIters: Int = 1,
                      dim: Int = -1): Unit = {
    val spark = emb.sparkSession
    graft.GraftExtensions.ensure(spark)
    val fs = hfs(spark, path)
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val d = dimOf(emb, vecCol, dim)
    require(d > 0 && d % m == 0, s"dim=$d must be a positive multiple of m=$m")
    val sub = d / m
    // both fits concurrently, as in ivfpqParts (independent pipelines)
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val cbFut = Future(blocking {
      fitPqCodebook(corpus, m, sub, kCodes, lloydIters)
    })
    val centRows = fitIvfCentroids(corpus, nCentroids, lloydIters)
      .select(col("cid").cast(LongType), col("cv")).collect()
      .map { r =>
        val cv = r.getSeq[Double](1)
        (r.getLong(0), cv, math.sqrt(cv.map(x => x * x).sum))
      }.toSeq.sortBy(_._1)
    require(centRows.nonEmpty, "IVF+PQ fit: empty corpus")
    val cb = Await.result(cbFut, Duration.Inf)
    // pack at the FITTED codebook's width, not the requested kCodes: a
    // corpus smaller than kCodes clamps the codebook (fitPqCodebook's
    // documented degradation), and the probe infers the bit width from
    // the stored codebook's size — build and probe must derive it from
    // the same quantity or the probe shift-and-masks wrong codes
    val kEff = cb.head.size
    val packedBits = if (pqPackable(m, kEff)) Some(pqBits(kEff)) else None
    val centLit = typedLit(centRows)
    val cbLit = typedLit(cb)
    val next = (indexVersionDirs(fs, path) ++ centroidVersionDirs(fs, path)
        ++ modelsVersionDirs(fs, path))
      .map(_.getName)
      .collect { case n if n.contains(".v") =>
        n.substring(n.lastIndexOf(".v") + 2).toLong }
      .foldLeft(-1L)(math.max) + 1
    val keepPrev = readIndexPointer(fs, path).toSeq
      .flatMap { case (l, c) => Seq(l, c) }.toSet
    // stage models and code lists CONCURRENTLY (three independent writes;
    // nothing publishes until the pointer flip below)
    import spark.implicits._
    val centWrite = Future(blocking {
      centRows.map { case (cid, cv, _) => (cid, cv) }
        .toDF("cid", "cv").coalesce(1).write.mode("overwrite")
        .parquet(s"$path/models.v$next/centroids")
    })
    val cbWrite = Future(blocking {
      cb.zipWithIndex.flatMap { case (codes, s) =>
        codes.zipWithIndex.map { case (cw, c) => (s, c, cw) }
      }.toDF("s", "c", "cw").coalesce(1).write.mode("overwrite")
        .parquet(s"$path/models.v$next/codebook")
    })
    // stage the code lists: one map-side pass (fold + argmin on literals)
    val nearestCid = (v: Column) =>
      -array_max(transform(centLit, c =>
        struct((dot(v, c.getField("_2")) / c.getField("_3")).as("csim"),
          (-c.getField("_1")).as("nc")))).getField("nc")
    corpus.select(col("nid"), col("nn"),
        pqEncode(cbLit, col("nv"), sub, packedBits).as("codes"),
        concat(lit("c"), nearestCid(col("nv"))).as("bucket"))
      // cluster by bucket so each list directory receives exactly one
      // task's output (one file per bucket, the compaction-final layout)
      // instead of nPartitions × nBuckets small files — at build time the
      // one extra code-row shuffle is far cheaper than the file fan-out
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/index.v$next")
    Await.result(centWrite, Duration.Inf)
    Await.result(cbWrite, Duration.Inf)
    writeIndexPointer(fs, path, s"index.v$next", s"models.v$next")
    // vacuum, retaining the immediate predecessor pair for in-flight scans
    val keep = keepPrev ++ Set(s"index.v$next", s"models.v$next")
    (indexVersionDirs(fs, path) ++ centroidVersionDirs(fs, path)
        ++ modelsVersionDirs(fs, path))
      .filterNot(p => keep(p.getName))
      .foreach(p => fs.delete(p, true))
  }

  private[graft] def modelsVersionDirs(fs: org.apache.hadoop.fs.FileSystem,
                                path: String) = {
    val base = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("models.v"))
  }

  /** X110c — persisted IVF+PQ index PROBE: bucket ranking and the probe's
    * ADC distance table are map-side folds over the two reloaded model
    * literals; the code-list scan is statically PARTITION-PRUNED to the
    * batch's nprobe buckets (the [[ivfIndexProbe]] pruning contract, on a
    * table 16-64× smaller); ADC ranks each probe's bucket members to
    * k·refine candidates; the exact re-rank then joins the bounded
    * candidate set back to the RAW SOURCE TABLE by id (probes × k ×
    * refine rows — a semi-join fetch, never a corpus scan). At
    * nprobe = nCentroids and k·refine ≥ |corpus| this is EXACTLY
    * bruteForceTopK (spec-pinned); production recall is governed by the
    * same calibrated floors as the in-query PQ tiers. */
  def ivfpqIndexProbe(probes0: DataFrame, idCol: String, vecCol: String,
                      corpus0: DataFrame, path: String, k: Int,
                      nprobe: Int = 3, refine: Int = 16): DataFrame = {
    val spark = probes0.sparkSession
    graft.GraftExtensions.ensure(spark)
    val (idxDir, modelsDir) = ivfIndexDirs(spark, path)
    val centRows = spark.read.parquet(s"$modelsDir/centroids")
      .select(col("cid").cast(LongType), col("cv")).collect()
      .map { r =>
        val cv = r.getSeq[Double](1)
        (r.getLong(0), cv, math.sqrt(cv.map(x => x * x).sum))
      }.toSeq.sortBy(_._1)
    val cbRows = spark.read.parquet(s"$modelsDir/codebook")
      .select(col("s").cast(IntegerType), col("c").cast(IntegerType),
        col("cw")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val cb: Seq[Seq[Seq[Double]]] = cbRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    val sub = cb.head.head.size
    val kCodes = cb.head.size
    val centLit = typedLit(centRows)
    val cbLit = typedLit(cb)
    val index = spark.read.parquet(idxDir)
    // packed iff the stored codes column is the one shifted long
    val packedBits = index.schema("codes").dataType match {
      case LongType => Some(pqBits(kCodes))
      case _        => None
    }
    val probes = prep(probes0, idCol, vecCol, "pid", "pv", "pn")
    val bucketCids = (v: Column) =>
      transform(slice(array_sort(transform(centLit, c =>
        struct((-(dot(v, c.getField("_2")) / c.getField("_3"))).as("negsim"),
          c.getField("_1").as("cid")))), 1, nprobe), x => x.getField("cid"))
    val probeTabs = probes.select(col("pid"), col("pv"), col("pn"),
        pqDtab(cbLit, col("pv"), sub).as("dtab"),
        explode(bucketCids(col("pv"))).as("cid"))
      .withColumn("bucket", concat(lit("c"), col("cid"))).drop("cid")
    val buckets = probeTabs.select("bucket").distinct()
      .collect().map(_.getString(0)).sorted
    val pruned = index.where(col("bucket").isin(buckets.toSeq: _*))
    val wAdc = Window.partitionBy(col("pid"))
      .orderBy(col("adc").desc, col("nid").asc)
    val candidates = broadcast(probeTabs).join(pruned, Seq("bucket"))
      .where(col("nid") =!= col("pid"))
      .withColumn("adc",
        round(adcScore(packedBits) / (col("pn") * col("nn")), 9))
      .withColumn("crank", row_number().over(wAdc))
      .where(col("crank") <= k * refine)
      .select(col("pid"), col("pv"), col("pn"), col("nid"))
    val raw = prep(corpus0, idCol, vecCol, "nid", "nv", "nn")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim").desc, col("nid").asc)
    candidates.join(raw, Seq("nid"))
      .withColumn("sim",
        round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
  }

  /** IVF + PQ composed ANN — the corpus-scale tier (the public design
    * behind Faiss's IndexIVFPQ): the IVF coarse quantizer confines WHICH
    * vectors are scanned (each probe reads only its `nprobe` of
    * `nCentroids` buckets) and PQ compresses WHAT is scanned (m sub-codes
    * per vector), so a probe batch touches ~nprobe/nCentroids of a code
    * table that is itself a small fraction of the raw corpus — vs
    * `pqTopK`'s flat ADC scan of the whole code table and `ivfTopK`'s
    * bucket scan of raw vectors.
    *
    * Both fitted models (centroids via fitIvfCentroids, codebook via
    * fitPqCodebook) are bounded, corpus-size-independent, and collected
    * once as plan literals. The whole INDEX BUILD is then ONE map-side
    * pass over the corpus with no shuffle at all: with the centroid set a
    * literal array, nearest-centroid assignment is an `array_max` over
    * nCentroids scored structs per row (ivfTopK's broadcast-join +
    * max_by aggregation is only needed when the centroids are still a
    * frame), and the PQ encode is the same `array_min` as pqTopK. The
    * index frame keeps (nid, cid, codes, nn).
    *
    * Search: each probe picks its nprobe buckets (array_sort over the
    * scored centroid literal, map-side) and pre-computes its ADC table,
    * then joins encoded vectors ON THE BUCKET ID — the ADC scan, the
    * k × refine ranking window, and the exact re-rank all see
    * bucket-confined candidates only (pinned by SignLshSpec via
    * `ivfpqParts`). The bucket id is the join/shuffle partitioning, like
    * the LSH bands — no flat stage survives at any corpus size.
    */
  def ivfpqTopK(emb: DataFrame, idCol: String, vecCol: String,
                probePred: Column => Column, k: Int,
                nCentroids: Int = 64, nprobe: Int = 3,
                m: Int = 8, kCodes: Int = 16, lloydIters: Int = 1,
                refine: Int = 4, dim: Int = -1): DataFrame =
    ivfpqParts(emb, idCol, vecCol, probePred, k, nCentroids, nprobe,
      m, kCodes, lloydIters, refine, dim)._3

  /** The ivfpqTopK internals, exposed for the bucket-confinement spec:
    * (probeBuckets (pid, cid), ADC candidates (pid, nid, cid), final
    * top-k). Every candidate's cid must appear in its probe's bucket set —
    * the property that makes the composition scale. */
  private[graft] def ivfpqParts(emb: DataFrame, idCol: String, vecCol: String,
                                probePred: Column => Column, k: Int,
                                nCentroids: Int, nprobe: Int,
                                m: Int, kCodes: Int, lloydIters: Int,
                                refine: Int, dim: Int):
      (DataFrame, DataFrame, DataFrame) = {
    graft.GraftExtensions.ensure(emb.sparkSession)
    val corpus = prep(emb, idCol, vecCol, "nid", "nv", "nn")
    val d = dimOf(emb, vecCol, dim)
    require(d > 0 && d % m == 0, s"dim=$d must be a positive multiple of m=$m")
    val sub = d / m
    val packedBits = if (pqPackable(m, kCodes)) Some(pqBits(kCodes)) else None

    // Both fitted models → plan literals (each bounded by construction).
    // The two fits are INDEPENDENT pipelines ending in a driver collect,
    // so their Spark jobs are submitted from separate threads and run
    // concurrently — the index-build wall time is max(fitPq, fitIvf)
    // instead of their sum (results are unchanged: each fit is
    // deterministic on its own).
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // blocking{}: the global pool spawns compensation threads for the
    // parked collects, so concurrent index builds (or any other library
    // code on the global EC) cannot starve the pool.
    val cbFut = Future(blocking {
      fitPqCodebook(corpus, m, sub, kCodes, lloydIters)
    })
    val centFut = Future(blocking {
      fitIvfCentroids(corpus, nCentroids, lloydIters)
        .select(col("cid").cast(LongType), col("cv"))
        .collect()
        .map { r =>
          val cv = r.getSeq[Double](1)
          (r.getLong(0), cv, math.sqrt(cv.map(x => x * x).sum))
        }.toSeq.sortBy(_._1)
    })
    val cbLit = typedLit(Await.result(cbFut, Duration.Inf))
    val centRows: Seq[(Long, Seq[Double], Double)] =
      Await.result(centFut, Duration.Inf)
    require(centRows.nonEmpty, "IVF fit: empty corpus")
    val centLit = typedLit(centRows) // array<struct<_1 cid, _2 cv, _3 cn>>

    // index build — one map-side pass, zero shuffles: nearest centroid
    // (csim DESC, cid ASC tiebreak via (csim, -cid) struct max) + PQ codes
    val nearestCid = (v: Column) =>
      -array_max(transform(centLit, c =>
        struct((dot(v, c.getField("_2")) / c.getField("_3")).as("csim"),
          (-c.getField("_1")).as("nc")))).getField("nc")
    val encoded = corpus.select(col("nid"), col("nn"),
      nearestCid(col("nv")).as("cid"),
      pqEncode(cbLit, col("nv"), sub, packedBits).as("codes"))

    // probe side — nprobe bucket ids (sim DESC, cid ASC) + ADC table,
    // both map-side from the literals; slice degrades gracefully when the
    // corpus yielded fewer than nprobe centroids
    val probes = prep(emb.where(probePred(col(idCol))), idCol, vecCol, "pid", "pv", "pn")
    val bucketCids = (v: Column) =>
      transform(slice(array_sort(transform(centLit, c =>
        struct((-(dot(v, c.getField("_2")) / c.getField("_3"))).as("negsim"),
          c.getField("_1").as("cid")))), 1, nprobe), x => x.getField("cid"))
    val probeTabs = probes.select(col("pid"), col("pv"), col("pn"),
      pqDtab(cbLit, col("pv"), sub).as("dtab"),
      explode(bucketCids(col("pv"))).as("cid"))
    val probeBuckets = probeTabs.select(col("pid"), col("cid"))

    // ADC scan CONFINED to the probes' buckets: the join keys on cid, so
    // the ranking window below spans only bucket members, never the corpus
    val wAdc = Window.partitionBy(col("pid")).orderBy(col("adc").desc, col("nid").asc)
    val candidates = broadcast(probeTabs).join(encoded, Seq("cid"))
      .where(col("nid") =!= col("pid"))
      .withColumn("adc", round(adcScore(packedBits) / (col("pn") * col("nn")), 9))
      .withColumn("crank", row_number().over(wAdc))
      .where(col("crank") <= k * refine)
      .select(col("pid"), col("pv"), col("pn"), col("nid"), col("cid"))

    // exact re-rank over the bounded candidate set (raw vectors re-read
    // only here — probes × k × refine rows)
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("nid").asc)
    val result = candidates.join(corpus, Seq("nid"))
      .withColumn("sim", round(dot(col("pv"), col("nv")) / (col("pn") * col("nn")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("pid"), col("rank"), col("nid"), col("sim"))
    (probeBuckets, candidates.select(col("pid"), col("nid"), col("cid")), result)
  }

  /** X94 — per-class centroid drift monitor: cosine between the mean
    * embeddings of a class's two id-parity halves — the embedding-space
    * health check (a class whose halves' centroids diverge marks label
    * noise, a distribution shift between ingest batches, or a poisoned
    * slice). Cosine of the mean equals cosine of the SUM (norms scale
    * out), so the whole computation runs in EXACT fixed point: each
    * element rounds once to micro-units (one IEEE op on the same double
    * in any engine), per-(class, half, dim) sums are plain long
    * aggregations, and the dim-reductions (dot and both squared norms)
    * are DECIMAL(38,0) sums of width-stable DECIMAL(19,0) products —
    * order-independent everywhere, with a single pinned double finish
    * (dot / (√ee·√oo), the X91 discipline). Zero-norm halves guard to 0.
    *
    * Classes with an empty half drop out (a drift monitor compares two
    * non-empty snapshots). Scale: one posexplode aggregation is the only
    * corpus-sized stage; everything after is |classes|×dims rows.
    */
  def centroidDrift(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String): DataFrame = {
    val d19 = DecimalType(19, 0)
    val labeled = emb.where(col(labelCol).isNotNull)
    val sums = labeled
      .select(col(labelCol).as("label"),
        pmod(col(idCol), lit(2)).cast("int").as("half"),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("label"), col("half"), col("dim"),
        round(col("__v").cast(DoubleType) * 1000000).cast(LongType).as("q"))
      .groupBy("label", "half", "dim").agg(sum(col("q")).as("s"))
    val e = sums.where(col("half") === 0)
      .select(col("label"), col("dim"), col("s").as("se"))
    val o = sums.where(col("half") === 1)
      .select(col("label"), col("dim"), col("s").as("so"))
    val per = e.join(o, Seq("label", "dim"))
      .groupBy("label")
      .agg(sum(col("se").cast(d19) * col("so").cast(d19)).as("dot"),
        sum(col("se").cast(d19) * col("se").cast(d19)).as("ee"),
        sum(col("so").cast(d19) * col("so").cast(d19)).as("oo"))
    val counts = labeled.groupBy(col(labelCol).as("label"))
      .agg(sum(when(pmod(col(idCol), lit(2)) === 0, 1L).otherwise(0L))
          .cast(LongType).as("n_even"),
        sum(when(pmod(col(idCol), lit(2)) === 1, 1L).otherwise(0L))
          .cast(LongType).as("n_odd"))
    per.join(counts, "label")
      .select(col("label"), col("n_even"), col("n_odd"),
        when(col("ee") === 0 || col("oo") === 0, 0.0)
          .otherwise(round(col("dot").cast(DoubleType) /
            (sqrt(col("ee").cast(DoubleType)) *
              sqrt(col("oo").cast(DoubleType))), 6)).as("cos_halves"))
  }
}
