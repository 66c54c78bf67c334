package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopKCombineFn

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]). Not in the reference (Beam has no vector ops); designed
  * for the 100 TB training-data path:
  *
  *  - [[cosineTopK]] — exact brute force, the correctness baseline. Broadcast
  *    the query set (queries are small), one narrow pass over the corpus, a
  *    bounded top-k aggregate. No corpus shuffle at all.
  *  - [[hyperplaneBucket]] / [[lshTopK]] — random-hyperplane LSH: corpus and
  *    queries hash to sign-bit buckets; candidate generation is a bucket
  *    equi-join (shuffle of (bucket, id, vec-slice) only), then exact cosine
  *    re-rank inside buckets. This is the scale path: bucket count grows
  *    2^planes, so each bucket's pairwise work stays tiny.
  *
  * All arithmetic is done in double via zip_with/aggregate — codegen'd
  * Catalyst expressions, no UDF.
  */
object Similarity {

  /** Cosine similarity of two numeric-array columns, accumulated in double,
    * left-to-right (deterministic). Prefer [[cosineFromNorms]] on pairwise
    * paths so norms are computed once per row, not per pair. */
  def cosine(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Codegen'd native dot product (graft.expressions.VecDotProduct) —
    * replaces the interpreted aggregate(zip_with(...)) chain with a
    * primitive loop; summation order and double promotion are identical. */
  def dotProduct(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecDot(a, b)

  /** L2 norm of a numeric-array column. Computed ONCE per row and carried
    * as a column — recomputing norms per candidate pair triples the
    * pairwise work (see cosineFromNorms). */
  def l2Norm(v: Column): Column =
    sqrt(graft.expressions.VectorExpressions.vecDot(v, v))

  /** Cosine from a pairwise dot product and precomputed per-row norms. */
  def cosineFromNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    dotProduct(a, b) / (normA * normB)

  /** "Better" = higher score, ties to the SMALLER corpus id.
    * TopKCombineFn keeps the k LARGEST elements under this ordering and
    * outputs them best-first, so greater-than here must mean better. */
  private[graft] val scoreOrdering: Ordering[(Double, Long)] =
    new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val s = java.lang.Double.compare(a._1, b._1) // higher score = greater
        if (s != 0) s else java.lang.Long.compare(b._2, a._2) // lower id = greater
      }
    }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors. `queries` must be small (it is broadcast). Deterministic
    * ordering: (rounded score desc, corpus id asc).
    *
    * The reduction is a typed bounded-heap Aggregator (the reference's
    * Top.TopCombineFn shape, SDK/transforms/Top.java:392): map-side partial
    * aggregation truncates to k per query per partition, so the shuffle
    * carries ≤ k·partitions rows per query — no rank-window funnel, no
    * corpus shuffle at any scale. */
  def cosineTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                 queries: DataFrame, queryId: Column, queryVec: Column,
                 k: Int): DataFrame = {
    requireIntegralId(corpus, corpusId); requireIntegralId(queries, queryId)
    val c = corpus.select(corpusId.cast("long").as("corpus_id"), corpusVec.as("cvec"),
      l2Norm(corpusVec).as("cnorm"))
    val q = queries.select(queryId.cast("long").as("query_id"), queryVec.as("qvec"),
      l2Norm(queryVec).as("qnorm"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score", round(
        cosineFromNorms(col("cvec"), col("qvec"), col("cnorm"), col("qnorm")), 6))
    topKByScore(scored, k)
  }

  /** Per-vector int8 scalar quantization — the 4× storage cut an
    * embedding store takes at 100 TB (float32 → int8 + two float scalars
    * per row). Each vector quantizes against its OWN [min, max] range:
    * q_i = floor((x_i − lo) · 255 / (hi − lo) + 0.5) − 128 ∈ [−128, 127],
    * stored with (lo, scale) for dequantization
    * x̂_i = (q_i + 128) · scale + lo, scale = (hi − lo)/255. Constant
    * vectors (hi = lo) quantize to all-zero with scale 0. Row-local, zero
    * shuffle, pure engine-neutral arithmetic (floor(x + 0.5), the cents
    * pattern) — exactly replayable by a SQL oracle. Max reconstruction
    * error is scale/2 by construction; [[dequantizeInt8]] restores an
    * Array[Double] column for downstream cosine work. */
  def quantizeInt8(vec: Column): Column =
    // native one-pass expression: the HOF formulation (transform +
    // aggregate) re-evaluated the lambda-invariant array_min/array_max
    // PER ELEMENT in interpreted lambdas — O(d²) per row, measured as
    // the dominant cost of the quantization queries
    graft.expressions.VectorExpressions.quantizeInt8Vec(vec)

  /** Inverse of [[quantizeInt8]]: x̂_i = (q_i + 128) · scale + lo. */
  def dequantizeInt8(quant: Column): Column =
    transform(quant.getField("q"), q =>
      (q + lit(128)).cast("double") * quant.getField("scale") + quant.getField("lo"))

  /** Dot product of two [[quantizeInt8]] vectors WITHOUT dequantizing:
    * with x̂_i = (qx_i+128)·sa + la,
    *   x̂·ŷ = sa·sb·Σ(qx+128)(qy+128) + sa·lb·Σ(qx+128)
    *        + sb·la·Σ(qy+128) + d·la·lb
    * where Σ(qx+128)(qy+128) = vecDot(qx,qy) + 128·(Σqx + Σqy) + 128²·d.
    * The hot inner loop is the SAME codegen'd [[VecDotProduct]] kernel but
    * over byte arrays — 4× less memory traffic per candidate pair than the
    * float path — and every term before the scale multiplications is an
    * exact integer, so a SQL oracle replays the score bit-for-bit. */
  def quantizedDot(a: Column, b: Column): Column = {
    val d = size(a.getField("q")).cast("double")
    // integer-accumulated kernel (VecDotProductInt): no per-element double
    // conversion; p stays an exact integer-valued double either way, so
    // the SQL oracle replay is unchanged
    val p = graft.expressions.VectorExpressions
      .vecDotInt(a.getField("q"), b.getField("q")).cast("double") +
      lit(128.0) * (a.getField("qsum") + b.getField("qsum")).cast("double") +
      lit(16384.0) * d
    val sx = a.getField("qsum").cast("double") + lit(128.0) * d
    val sy = b.getField("qsum").cast("double") + lit(128.0) * d
    a.getField("scale") * b.getField("scale") * p +
      a.getField("scale") * b.getField("lo") * sx +
      b.getField("scale") * a.getField("lo") * sy +
      d * a.getField("lo") * b.getField("lo")
  }

  /** Brute-force cosine top-k over int8-quantized vectors — the memory-
    * bandwidth-bound regime's fast path: candidates are scored from the
    * quantized store (¼ the bytes of float32) via [[quantizedDot]]; same
    * bounded top-k shape as [[cosineTopK]]. Scores approximate the float
    * cosine to ~scale/‖x‖ relative error; re-rank survivors against the
    * float vectors when exactness matters. */
  def cosineTopKQuantized(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                          queries: DataFrame, queryId: Column, queryVec: Column,
                          k: Int): DataFrame =
    cosineTopKPreQuantized(
      corpus.select(corpusId.as("__cid"), quantizeInt8(corpusVec).as("__cq")),
      col("__cid"), col("__cq"), queries, queryId, queryVec, k)

  /** [[cosineTopKQuantized]] against an ALREADY-quantized corpus store —
    * the at-scale shape: quantize once at write time (a [[quantizeInt8]]
    * column persisted to parquet at ¼ the float32 bytes), search many
    * times reading only the int8 store. Queries are still quantized here
    * (they're small).
    *
    * The pairwise kernel is restructured around per-ROW composites: with
    * x̂_i = s·q_i + t where t = 128·s + lo, and g = s·Σq,
    *   x̂·ŷ = sa·sb·IntDot(qx,qy) + ga·tb + gb·ta + d·ta·tb
    * — 7 scalar mults per pair around the integer kernel, no per-pair
    * struct-field extraction (flattened columns; repeated GetStructField
    * was measured at 3× the whole pairwise stage). */
  def cosineTopKPreQuantized(corpus: DataFrame, corpusId: Column, corpusQuant: Column,
                             queries: DataFrame, queryId: Column, queryVec: Column,
                             k: Int): DataFrame = {
    requireIntegralId(corpus, corpusId); requireIntegralId(queries, queryId)
    def flat(df: DataFrame, id: Column, quant: Column, idName: String, p: String): DataFrame =
      df.select(id.cast("long").as(idName),
        quant.getField("q").as(p + "_q"),
        quant.getField("scale").as(p + "_s"),
        (lit(128.0) * quant.getField("scale") + quant.getField("lo")).as(p + "_t"),
        (quant.getField("scale") * quant.getField("qsum").cast("double")).as(p + "_g"),
        size(quant.getField("q")).cast("double").as(p + "_d"))
    def pairDot(a: String, b: String): Column =
      col(s"${a}_s") * col(s"${b}_s") * graft.expressions.VectorExpressions
        .vecDotInt(col(s"${a}_q"), col(s"${b}_q")).cast("double") +
        col(s"${a}_g") * col(s"${b}_t") + col(s"${b}_g") * col(s"${a}_t") +
        col(s"${a}_d") * col(s"${a}_t") * col(s"${b}_t")
    val c = flat(corpus, corpusId, corpusQuant, "corpus_id", "c")
      .withColumn("cnorm", sqrt(pairDot("c", "c")))
    val q = flat(queries.select(queryId.as("__qid"), quantizeInt8(queryVec).as("__qq")),
        col("__qid"), col("__qq"), "query_id", "p")
      .withColumn("qnorm", sqrt(pairDot("p", "p")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score", round(pairDot("c", "p") / (col("cnorm") * col("qnorm")), 6))
    topKByScore(scored, k)
  }

  /** The typed/salted top-k paths encode ids as Long; a silent
    * cast("long") of a string/UUID id would null every id out. Fail loudly
    * instead (use content-hash surrogate ids upstream for non-numeric
    * keys). */
  private def requireIntegralId(df: DataFrame, id: Column): Unit =
    Guards.requireIntegralId(df, id, "ANN id")

  /** Shared typed top-k reduction over a (query_id, corpus_id, score) frame. */
  private[graft] def topKByScore(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    implicit val ord: Ordering[(Double, Long)] = scoreOrdering
    val fn = new TopKCombineFn[(Double, Long)](k)
      .contramap[(Long, Double, Long)](r => (r._2, r._3))
    scored.select(col("query_id"), col("score"), col("corpus_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(fn.asAggregator.toColumn.name("top"))
      .flatMap { case (qid, top) => top.map(t => (qid, t._2, t._1)) }
      .toDF("query_id", "corpus_id", "score")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim) in
    * [-1, 1): splitmix64 of (seed, plane, dim). Computed DRIVER-SIDE into a
    * literal matrix — hashing per (row × plane × dim) inside an interpreted
    * lambda was the dominant cost of every LSH pass (higher-order lambdas
    * don't codegen). No RNG state → reproducible across partitionings. */
  private[graft] def planeComponent(plane: Int, dim: Int, seed: Long): Double = {
    var z = seed + plane * 0x9E3779B97F4A7C15L + dim * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    (math.floorMod(z, 2000001L) - 1000000L) / 1000000.0
  }

  /** Random-hyperplane sign-bit bucket id (planes ≤ 62 — bucket bits live
    * in one Long; planesFor clamps to the same bound). The per-row work
    * is planes × dim multiply-adds — each plane's projection is one
    * codegen'd VecDotProduct against a literal plane array (the round-2
    * zip_with/aggregate lambda chain evaluated interpreted; the native
    * kernel computes the IDENTICAL left-to-right double sum, which the
    * oracle hash-replays verify). */
  def hyperplaneBucket(embs: DataFrame, id: Column, vec: Column,
                       planes: Int, seed: Long = 42L): DataFrame = {
    require(planes >= 1 && planes <= 62,
      s"hyperplaneBucket needs 1..62 planes (got $planes): bucket bits live in one Long")
    // one-row eager read for the dimension (plan-construction job; the
    // plane literals need it). Empty input → empty bucketed frame, same
    // schema.
    val firstDim = embs.select(size(vec).as("d")).limit(1).collect()
    if (firstDim.isEmpty)
      return embs.select(id.as("id"), vec.as("vec"), lit(0L).as("bucket")).limit(0)
    val dim = firstDim(0).getInt(0)
    val bits = (0 until planes).map { p =>
      val plane = array((0 until dim).map(d => lit(planeComponent(p, d, seed))): _*)
      // The sign test rounds to 9 dp so an independent engine (the DuckDB
      // oracle) computing the same dot product lands on the same side of
      // the hyperplane even when the last ulp differs; semantically this
      // only nudges the hyperplane by 5e-10.
      when(round(dotProduct(col("vec"), plane), 9) >= 0, lit(1L << p)).otherwise(0L)
    }
    embs.select(id.as("id"), vec.as("vec"))
      .withColumn("bucket", bits.reduce(_ bitwiseOR _))
  }

  /** IVF (inverted-file) ANN top-k — the coarse-quantization scale path:
    *
    *  1. `nlist` centroids are hash-sampled from the corpus
    *     (deterministic: smallest md5(id-as-string) win — an engine-neutral
    *     hash, so the DuckDB oracle reproduces the exact centroid set) and
    *     collected to the driver — nlist × dim doubles, tiny;
    *  2. every corpus vector is assigned to its nearest centroid (per-row
    *     argmax over the broadcast literal centroid matrix — no shuffle);
    *  3. each query probes its `nprobe` nearest centroids and exact-cosine
    *     re-ranks only those inverted lists.
    *
    * At 100 TB the corpus shuffles ONCE on the cell id (or is written
    * cell-partitioned and never reshuffles); probe cost is
    * corpus/nlist × nprobe per query. Recall tunes with nprobe.
    *
    * `lloydIters = 0` (the default, and what the correctness gate replays)
    * keeps hash-sampled centroids — fully deterministic cross-engine.
    * `lloydIters > 0` runs that many spherical k-means refinement rounds
    * (assign → renormalized mean per cell; one corpus pass + an
    * nlist×dim collect per round), the production path for real recall —
    * deterministic within Spark up to floating-point partial-sum order. */
  /** Deterministic engine-neutral centroid sampling: the `nlist` corpus
    * vectors first in (md5(id), id) order — reproducible by any engine with
    * md5, no RNG state. Cast to array<double> BEFORE collecting so float
    * and double embedding columns both work. Driver memory = nlist×dim. */
  private[graft] def md5Seeds(corpus: DataFrame, id: Column, vec: Column,
                              nlist: Int): Array[Array[Double]] =
    corpus.select(vec.cast("array<double>").as("v"),
        md5(id.cast("string")).as("__h"), id.cast("long").as("__id"))
      .orderBy(col("__h"), col("__id")).limit(nlist)
      .collect().map(_.getSeq[Double](0).toArray)

  /** Nearest-centroid cells: array of (negCos, cellIdx) structs, ascending
    * sort = best-first; vnorm is computed once per row, each centroid
    * projection is a codegen'd VecDotProduct against the literal centroid
    * array (the lambda formulation evaluated interpreted). negcos is
    * rounded to 9 dp so the argmin is reproducible by an independent
    * engine (the DuckDB oracle) — distinct centroids differ in cosine by
    * far more than 1e-9, so the rounding never changes a real assignment. */
  private def cellsFor(centroids: Array[Array[Double]])
                      (vec: Column, vnorm: Column): Column =
    array_sort(array(centroids.zipWithIndex.map { case (cent, idx) =>
      val centArr = array(cent.map(lit): _*)
      val cnorm = lit(math.sqrt(cent.map(x => x * x).sum))
      struct(round(-dotProduct(vec, centArr) / (vnorm * cnorm), 9).as("negcos"),
        lit(idx).as("cell"))
    }: _*))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then mark near-duplicates WITHIN each cluster — pairwise work
    * is bounded by cluster size instead of corpus size. Per row:
    * its cluster, the smallest-id same-cluster neighbor with cosine ≥
    * `threshold` (`dup_of`, NULL when none), and `keep = dup_of IS NULL` —
    * the greedy min-id-representative policy, emitted as verdict columns.
    *
    * Determinism/oracle path: `lloydIters = 0` assigns against the
    * md5-sampled seed centroids ([[md5Seeds]]) with 9-dp rounded argmin,
    * so DuckDB replays cluster assignment AND the dup verdicts exactly;
    * production raises `lloydIters` (each round monotonically improves the
    * spherical-k-means objective) and `nlist ≈ corpus/targetClusterSize`
    * so the within-cell self-join stays bounded — the same occupancy
    * argument as [[planesFor]]. Shuffle cost: one narrow assignment pass
    * (codegen'd projections), a self-join keyed on the cell id, and a
    * per-id min — no all-pairs path anywhere. */
  def semDedup(embs: DataFrame, id: Column, vec: Column,
               nlist: Int = 16, threshold: Double = 0.95,
               lloydIters: Int = 0): DataFrame = {
    val assignedOpt = assignCells(embs, id, vec, nlist, lloydIters,
      multiConsumer = true)
    if (assignedOpt.isEmpty)
      return embs.select(id.cast("long").as("id"), lit(0).as("cell"),
        lit(null).cast("long").as("dup_of"), lit(true).as("keep")).limit(0)
    val assigned = assignedOpt.get
    val a = assigned.as("a"); val b = assigned.as("b")
    val dups = a.join(b, col("a.cell") === col("b.cell") && col("b.id") < col("a.id"))
      .filter(round(cosineFromNorms(col("a.vec"), col("b.vec"),
        col("a.nrm"), col("b.nrm")), 6) >= threshold)
      .groupBy(col("a.id").as("id")).agg(min(col("b.id")).as("dup_of"))
    assigned.select(col("id"), col("cell")).join(dups, Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of"), col("dup_of").isNull.as("keep"))
  }

  /** md5-seeded centroids + `iters` Lloyd rounds, as plain arrays — the
    * persistable half of the clustering state (k×dim doubles; write them
    * wherever model artifacts live and feed [[assignToCentroids]] /
    * [[semDedupIncremental]] later without touching the corpus again). */
  def kmeansCentroids(embs: DataFrame, id: Column, vec: Column, k: Int,
                      iters: Int = 0): Array[Array[Double]] = {
    requireIntegralId(embs, id)
    val seeds = md5Seeds(embs, id, vec, k)
    require(seeds.nonEmpty, "kmeansCentroids on an empty corpus")
    (0 until iters).foldLeft(seeds)((c, _) => lloydRound(embs, vec, c))
  }

  /** [[semDedup]]'s clustering stage: (id, vec, nrm, cell), or None on an
    * empty corpus. */
  private def assignCells(embs: DataFrame, id: Column, vec: Column,
                          nlist: Int, lloydIters: Int,
                          multiConsumer: Boolean = false): Option[DataFrame] = {
    requireIntegralId(embs, id)
    val seeds = md5Seeds(embs, id, vec, nlist)
    if (seeds.isEmpty) return None
    val centroids = (0 until lloydIters).foldLeft(seeds) { (cents, _) =>
      lloydRound(embs, vec, cents)
    }
    Some(assignToCentroids(embs, id, vec, centroids, multiConsumer))
  }

  /** Nearest-centroid assignment of arbitrary rows against FIXED centroids:
    * (id, vec, nrm, cell). Same 9-dp rounded argmin + cell-index tiebreak
    * as the in-corpus path, so incremental batches land in exactly the
    * cells the corpus clustering would give them. */
  def assignToCentroids(embs: DataFrame, id: Column, vec: Column,
                        centroids: Array[Array[Double]],
                        multiConsumer: Boolean = false): DataFrame = {
    requireIntegralId(embs, id)
    val base = embs.select(id.cast("long").as("id"), vec.as("vec"))
      .withColumn("nrm", l2Norm(col("vec")))
    // Two assignment paths with IDENTICAL semantics (9-dp rounded argmin,
    // cell-index tiebreak, null-element vector → NULL cell): ≤64 centroids
    // inline as literal expressions — one codegen'd narrow pass, no join;
    // beyond that the literal tree would blow up codegen, so the argmin
    // runs as ONE native kernel per row against the constant centroid
    // matrix ([[graft.expressions.NearestCentroidVec]], PqEncodeVec
    // precedent). The `when(exists(...))` guard applies the kernel's
    // null-element contract (NULL, the vector-family poisoning convention)
    // to the literal path too — unguarded, a null negcos sorts FIRST in
    // the struct array_sort and silently lands the corrupt row in cell 0.
    // History: the previous >64 formulation was a
    // crossJoin(broadcast(centroids)) + per-(row,centroid) struct +
    // min-by-id aggregate — at 2M×2048 (the r17 sf100 decade probe) it
    // materialized 4.1B short-lived rows and exhausted the default 8g
    // heap on allocation pressure, and its localCheckpoint'd output held
    // DESERIALIZED row blocks whose pool-accounted size badly
    // underestimates JVM object overhead. The kernel path is a narrow
    // projection (no join, no shuffle). `multiConsumer` callers (semDedup's
    // 2-sided self-join, the incremental batch's three reads,
    // centroidOutliers' sketch+rejoin) persist it SERIALIZED so the k·dim
    // per-row argmin runs once, not once per consumer; single-consumer
    // callers (semDedupStore, kmeans) skip the persist — they'd pay a full
    // materialization for nothing. Lifecycle: no eager unpersist is
    // possible (the frame is consumed lazily by the caller's plan), so
    // release relies on ContextCleaner + GraftSession's 2-minute periodic
    // GC; the bench recheck asserts the persisted-RDD count stays bounded.
    val assigned =
      if (centroids.length <= 64)
        base.withColumn("cell",
          when(!exists(col("vec"), e => e.isNull),
            element_at(cellsFor(centroids)(col("vec"), col("nrm")), 1)
              .getField("cell")))
      else {
        val withCell = base.withColumn("cell",
          graft.expressions.VectorExpressions.nearestCentroid(col("vec"), centroids))
        if (multiConsumer)
          withCell.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        else withCell
      }
    assigned
  }

  /** Cell-occupancy diagnostics for a frame assigned against FIXED
    * centroids — the cheap pre-flight check for [[semDedupIncremental]]:
    * within-cell pair work is Σocc² (not cells·avg²), so an increment
    * that has DRIFTED from the store's clustering announces itself here
    * as max-occupancy / Σocc² blowup long before the quadratic join is
    * paid. One narrow assignment pass + one four-scalar aggregate;
    * returns a single row (cells, max_occ, avg_occ, sum_occ_sq).
    * Measured motivation (r18 sf100 probe, BASELINE.md): a batch whose
    * base directions the store centroids don't span measured
    * Σocc² = 6.0e9 (max cell 12211) vs 2.1e9 (max 6232) under
    * population-derived centroids — a 3.4× within-batch wall gap with
    * the SAME occupied-cell count; when sum_occ_sq grows materially
    * faster than the batch, run [[semDedupRecluster]]. */
  def cellOccupancy(embs: DataFrame, id: Column, vec: Column,
                    centroids: Array[Array[Double]]): DataFrame =
    assignToCentroids(embs, id, vec, centroids)
      .groupBy(col("cell")).agg(count(lit(1)).as("occ"))
      .agg(count(lit(1)).as("cells"), max(col("occ")).as("max_occ"),
        avg(col("occ")).as("avg_occ"),
        sum(col("occ") * col("occ")).as("sum_occ_sq"))

  /** Corpus-side state for [[semDedupIncremental]]: the clustered vector
    * store (cell, id, vec, nrm). Persist it BUCKETED on `cell`
    * (IO.writeBucketed) and increments join it with no store-side
    * Exchange. */
  def semDedupStore(embs: DataFrame, id: Column, vec: Column,
                    centroids: Array[Array[Double]]): DataFrame =
    assignToCentroids(embs, id, vec, centroids)
      .select(col("cell"), col("id"), col("vec"), col("nrm"))

  /** Incremental SemDeDup: keep/dup verdicts for a NEW batch of embeddings
    * against a persisted corpus store — the semantic sibling of
    * [[graft.operators.Dedup.exactIncremental]]. The corpus is never
    * rescanned or re-clustered: the batch is assigned to the SAME cells via
    * the persisted `centroids`, then compared only within-cell against the
    * store and against same-cell smaller-id batch rows. dup_of = smallest
    * duplicate id (corpus and batch ids compete; corpus rows never get
    * verdicts — they are already deduped state). 100 TB: per-batch work is
    * |batch| × cell-occupancy, independent of corpus scan cost; with the
    * store bucketed on cell the big side never shuffles. */
  def semDedupIncremental(batch: DataFrame, id: Column, vec: Column,
                          centroids: Array[Array[Double]], store: DataFrame,
                          threshold: Double = 0.95): DataFrame = {
    val b0 = assignToCentroids(batch, id, vec, centroids, multiConsumer = true)
    // Occupancy-skew gate (r19, wired from the r18 cellOccupancy
    // diagnostic): within-batch pair work is Σocc², so a batch whose base
    // directions the store's centroids no longer span piles replicas into
    // shared least-far cells and the self-join goes quadratic SILENTLY —
    // the r18 sf100 probe measured Σocc² 6.0e9 vs 2.1e9 (370 s vs 109 s
    // within-batch wall) for the same batch under drifted vs re-derived
    // centroids. Gate statistic: k·Σocc²/n² — Σocc² normalized by the
    // perfectly-even value n²/k, so it is scale-free (1 = even, and the
    // measured separation is drifted 4.80 vs healthy 1.33-1.68 at
    // sf10-sf100). Trips only for batches ≥ gateMinBatch non-null-cell
    // rows (small batches finish regardless and their occupancy is
    // statistically noisy; the catalog SFs stay far below the floor).
    // FAIL-LOUD only — no silent recluster: the remedy
    // ([[semDedupRecluster]] + re-persisting store and centroids) changes
    // every verdict's cell, which must be the OPERATOR's lifecycle
    // decision, never a query-internal surprise. The stats ride as ONE
    // 1-row broadcast attached to the BUILD side of the within-batch
    // self-join — the arm whose cost IS Σocc² — so its stage cannot start
    // until the gate has passed (fail-FAST: the quadratic pair output is
    // never paid on a tripped batch). Attaching the gate under the batch
    // assignment itself injected the broadcast into all four consumers —
    // measured +0.8 s/query at sf0.1 for zero extra information; this
    // shape costs ~0.25 s (interleaved on/off probe). Tune via
    // spark.graft.semdedup.maxOccSkew (<= 0 disables) and
    // spark.graft.semdedup.gateMinBatch.
    val conf = batch.sparkSession.conf
    val maxSkew = conf.get("spark.graft.semdedup.maxOccSkew", "3.0").toDouble
    val minBatch = conf.get("spark.graft.semdedup.gateMinBatch", "100000").toLong
    val b = b0
    val b2Side =
      if (maxSkew <= 0) b
      else {
        val k = centroids.length
        val stats = b0.filter(col("cell").isNotNull)
          .groupBy(col("cell")).agg(count(lit(1)).as("__occ"))
          .agg(coalesce(sum(col("__occ")), lit(0L)).as("__n"),
            coalesce(sum(col("__occ") * col("__occ")), lit(0L)).as("__ssq"))
        val skew = col("__ssq").cast("double") * lit(k.toDouble) /
          (col("__n").cast("double") * col("__n").cast("double"))
        b.crossJoin(broadcast(stats))
          .filter(when(col("__n") >= lit(minBatch) && skew > lit(maxSkew),
            raise_error(format_string(
              s"semDedupIncremental: batch cell-occupancy skew %s exceeds " +
                s"$maxSkew (Σocc²=%s over n=%s rows, k=$k cells; even " +
                "occupancy would be Σocc²=n²/k) — the store's centroids no " +
                "longer span this batch's directions and the within-cell " +
                "self-join is quadratic. Run semDedupRecluster and persist " +
                "the fresh centroids+store (or raise " +
                "spark.graft.semdedup.maxOccSkew to accept the cost)",
              round(skew, 2), col("__ssq"), col("__n"))).cast("boolean"))
            .otherwise(lit(true)))
          .select(b.columns.map(col): _*)
      }
    val vsCorpus = b.as("a")
      .join(store.as("c"), col("a.cell") === col("c.cell"))
      .filter(round(cosineFromNorms(col("a.vec"), col("c.vec"),
        col("a.nrm"), col("c.nrm")), 6) >= threshold)
      .groupBy(col("a.id").as("id")).agg(min(col("c.id")).as("corpus_dup"))
    val vsBatch = b.as("a")
      .join(b2Side.as("b2"), col("a.cell") === col("b2.cell") && col("b2.id") < col("a.id"))
      .filter(round(cosineFromNorms(col("a.vec"), col("b2.vec"),
        col("a.nrm"), col("b2.nrm")), 6) >= threshold)
      .groupBy(col("a.id").as("id")).agg(min(col("b2.id")).as("batch_dup"))
    b.select(col("id"), col("cell"))
      .join(vsCorpus, Seq("id"), "left").join(vsBatch, Seq("id"), "left")
      .select(col("id"), col("cell"),
        least(col("corpus_dup"), col("batch_dup")).as("dup_of"),
        (col("corpus_dup").isNull && col("batch_dup").isNull).as("keep"))
  }

  /** Store lifecycle: re-cluster a grown [[semDedupStore]] at the
    * occupancy-right cluster count for its CURRENT size. The incremental
    * path's per-batch cost is |batch| × within-cell occupancy, and
    * occupancy grows as increments append — a store clustered for its
    * original size eventually makes every increment pay quadratic
    * within-cell comparisons (measured: the catalog query's fixed 400-row
    * corpus at k=8 turns 3× data into 13× wall at sf3; BASELINE.md
    * round 13, "sf3 probe: a second scale step"). Periodically re-derive
    * k from the store size ([[nlistFor]]) and re-assign — the SemDeDup
    * sibling of [[graft.operators.Dedup.compactStore]]'s lifecycle role.
    * Returns the fresh centroids (persist via [[graft.sources.Models]])
    * and the re-clustered store. Cluster count is a RECALL knob of SemDeDup
    * itself (coarser cells compare more cross-direction pairs) —
    * identical vectors still co-locate under ANY k because assignment is
    * a deterministic argmin — so re-clustering gives exactly the recall a
    * fresh clustering at the new size would have. 100 TB: one narrow
    * assignment pass over the store; centroids stay k×dim driver doubles. */
  def semDedupRecluster(store: DataFrame, targetClusterSize: Long = 256L,
                        lloydIters: Int = 0): (Array[Array[Double]], DataFrame) = {
    val k = nlistBalancedFor(store.count(), targetClusterSize)
    val cents = kmeansCentroids(store, col("id"), col("vec"), k, lloydIters)
    (cents, semDedupStore(store, col("id"), col("vec"), cents))
  }

  /** First-class distributed spherical k-means: md5-seeded centroids
    * ([[md5Seeds]] — engine-neutral, no RNG state), `iters` Lloyd
    * refinement rounds ([[lloydRound]] — per-round cost is one narrow
    * codegen'd assignment pass + one (cell, pos) aggregate whose size is
    * k×dim, collected to the driver as the next round's literals), then a
    * final assignment. Returns (id, cell).
    *
    * This is the clustering engine IVF-ANN, SemDeDup and PQ already ride;
    * exposed standalone for topic bucketing / cluster-balance curation.
    * q_kmeans oracle-replays a full refinement round in DuckDB — the
    * only oracle coverage of [[lloydRound]] itself (the ANN oracles pin
    * iters=0). 100 TB: per-iteration state is k×dim doubles (driver-side
    * literals), assignment is map-only; k ≤ 64 stays join-free, larger k
    * switches to the broadcast-argmin path in [[assignCells]]. */
  def kmeans(embs: DataFrame, id: Column, vec: Column, k: Int,
             iters: Int = 1): DataFrame =
    assignCells(embs, id, vec, k, iters).getOrElse(
      throw new IllegalArgumentException("kmeans on an empty corpus"))
      .select(col("id"), col("cell"))

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `outDim` dims via the native seeded-Rademacher kernel
    * ([[graft.expressions.RandomProjectVec]]): (id, proj). The projection
    * matrix is IMPLICIT — recomputed from (seed, j, i) hashes on every
    * executor — so nothing is broadcast and two corpora (or two
    * increments) projected with the same seed land in the same space,
    * directly composable with every ANN/SemDeDup op here as a
    * dimensionality-reduction front end (distances preserved within the
    * JL distortion bound, E‖y‖² = ‖x‖²).
    *
    * 100 TB story: row-local, zero shuffle, O(d·outDim) per row with no
    * allocation beyond the output array; reducing d early shrinks every
    * downstream shuffle/store by d/outDim. */
  def randomProject(embs: DataFrame, id: Column, vec: Column,
                    outDim: Int, seed: Long = 0L): DataFrame = {
    requireIntegralId(embs, id)
    embs.select(id.cast("long").as("id"),
      graft.expressions.VectorExpressions.randomProjectVec(vec, outDim, seed).as("proj"))
  }

  /** Embedding-space outlier flags: cosine distance to the assigned
    * spherical-k-means centroid, flagged when above the cell's
    * (1 − flagFraction) approximate quantile — the standard
    * distance-to-centroid screen for corrupt/off-distribution embeddings
    * before they pollute dedup clusters or ANN training. Returns
    * (id, cell, dist, outlier).
    *
    * 100 TB story: one narrow assignment pass (the [[assignToCentroids]]
    * machinery — literal centroids ≤64, broadcast beyond), one per-cell
    * aggregate whose state is a bounded percentile_approx sketch (never
    * the cell's rows), and a broadcast threshold re-join (k rows). No
    * all-pairs, no per-cell sort. */
  def centroidOutliers(embs: DataFrame, id: Column, vec: Column,
                       k: Int, iters: Int = 1, flagFraction: Double = 0.05,
                       sketchAccuracy: Int = 10000): DataFrame = {
    require(flagFraction > 0.0 && flagFraction < 1.0,
      s"flagFraction must be in (0,1), got $flagFraction")
    val s = embs.sparkSession
    import s.implicits._
    val centroids = kmeansCentroids(embs, id, vec, k, iters)
    val centDf = broadcast(centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, math.sqrt(c.map(x => x * x).sum)) }
      .toDF("cell", "cvec", "c_nrm"))
    val scored = assignToCentroids(embs, id, vec, centroids, multiConsumer = true)
      .join(centDf, Seq("cell"))
      .select(col("id"), col("cell"),
        round(lit(1.0) - dotProduct(col("vec"), col("cvec")) /
          (col("nrm") * col("c_nrm")), 9).as("dist"))
    val thresholds = scored.groupBy(col("cell"))
      .agg(percentile_approx(col("dist"), lit(1.0 - flagFraction),
        lit(sketchAccuracy)).as("__thr"))
    scored.join(broadcast(thresholds), Seq("cell"))
      .select(col("id"), col("cell"), col("dist"),
        (col("dist") > col("__thr")).as("outlier"))
  }

  /** Auto cluster count for [[semDedup]]: clusters sized ~`targetClusterSize`
    * keep the within-cell self-join bounded as the corpus grows — under a
    * FIXED nlist, cell occupancy (and with it pairwise work) grows linearly
    * with the corpus, the same failure mode [[planesFor]] closes for LSH.
    * Granularity/recall trade-off mirrors LSH banding: more, smaller
    * clusters miss dups that straddle a cluster boundary; the paper's
    * regime (k-means cells of a few hundred) is the default. */
  def nlistFor(corpusCount: Long, targetClusterSize: Long = 256L): Int = {
    require(targetClusterSize >= 1, "targetClusterSize must be >= 1")
    math.min(65536, math.max(1,
      math.ceil(corpusCount.toDouble / targetClusterSize.toDouble).toInt))
  }

  /** BALANCED cluster count — [[nlistFor]] capped at the smallest power of
    * two ≥ √n. The occupancy rule alone (k ∝ n) keeps within-cell pairs
    * linear but makes the nearest-CENTROID assignment n·k ∝ n² — the r15
    * sf30 probe measured q_semdedup at 10.3× wall for 3× data from exactly
    * this term (2.9G assignment dot-products at 600k vectors, k=4800).
    * Balancing assignment (n·k) against within-cell pairs (n²/k) puts the
    * optimum at k ≈ √n — the standard IVF sizing (FAISS recommends nlist
    * ~ 4√n to 16√n for the same reason); total cost then grows as n^1.5,
    * the exact-in-cell IVF curve, instead of n². The √ is taken as the
    * smallest power of two p with p² ≥ n — pure INTEGER comparison, so a
    * SQL oracle derives the identical k (a float sqrt could land on
    * either side of an exact square). min() keeps small corpora on the
    * occupancy rule (below the crossover the occupancy k is smaller):
    * bit-identical to [[nlistFor]] at n = 500/2k/20k (all driver SFs and
    * sf1); diverges from sf3 up (60k → 256 vs 480; 200k → 512; 600k →
    * 1024). */
  def nlistBalancedFor(corpusCount: Long, targetClusterSize: Long = 256L): Int = {
    var i = 0
    while (i < 16 && (1L << i) * (1L << i) < corpusCount) i += 1
    math.min(nlistFor(corpusCount, targetClusterSize), 1 << i)
  }

  /** [[semDedup]] with [[nlistBalancedFor]]-derived cluster count. Counts
    * the corpus once; at 100 TB pass a known count to
    * `semDedup(nlist = nlistBalancedFor(n))` instead. */
  def semDedupAuto(embs: DataFrame, id: Column, vec: Column,
                   threshold: Double = 0.95, targetClusterSize: Long = 256L,
                   lloydIters: Int = 0): DataFrame =
    semDedup(embs, id, vec, nlistBalancedFor(embs.count(), targetClusterSize),
      threshold, lloydIters)

  def ivfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              lloydIters: Int = 0): DataFrame = {
    requireIntegralId(corpus, corpusId); requireIntegralId(queries, queryId)
    val seeds = md5Seeds(corpus, corpusId, corpusVec, nlist)
    if (seeds.isEmpty)
      return corpus.select(corpusId.cast("long").as("query_id"),
        corpusId.cast("long").as("corpus_id"), lit(0.0).as("score")).limit(0)
    val centroids = (0 until lloydIters).foldLeft(seeds) { (cents, _) =>
      lloydRound(corpus, corpusVec, cents)
    }
    val cells = cellsFor(centroids) _

    val c = corpus.select(corpusId.cast("long").as("corpus_id"), corpusVec.as("cvec"))
      .withColumn("cnorm", l2Norm(col("cvec")))
      .withColumn("cell", element_at(cells(col("cvec"), col("cnorm")), 1).getField("cell"))
    val q = queries.select(queryId.cast("long").as("query_id"), queryVec.as("qvec"))
      .withColumn("qnorm", l2Norm(col("qvec")))
      .withColumn("cell", explode(transform(
        slice(cells(col("qvec"), col("qnorm")), 1, nprobe), s => s.getField("cell"))))

    val scored = c.join(q, "cell")
      .select(col("query_id"), col("corpus_id"),
        round(cosineFromNorms(col("cvec"), col("qvec"), col("cnorm"), col("qnorm")), 6)
          .as("score"))
    // typed bounded-heap re-rank: accumulator ≤ k per (query, partition),
    // map-side truncation before the exchange — no per-group array ever
    // materializes (the round-2 salted collect_list path held the whole
    // (key, salt) group in memory at once)
    topKByScore(scored, k)
  }

  /** One spherical k-means round (the Lloyd step of [[ivfTopK]]): assign
    * every corpus vector to its nearest current centroid by cosine, then
    * replace each centroid with the renormalized mean of its cell's UNIT
    * vectors — the spherical k-means update (summing raw vectors instead
    * would let high-magnitude rows dominate the direction and voids the
    * monotone mean-cosine guarantee on mixed-norm corpora). Zero-norm
    * vectors carry no direction and are excluded from the update. One
    * narrow corpus pass (codegen'd per-centroid projections), a posexplode
    * HashAggregate, and an nlist×dim collect. Empty cells keep their
    * previous centroid. */
  private[graft] def lloydRound(corpus: DataFrame, corpusVec: Column,
                                cents: Array[Array[Double]]): Array[Array[Double]] = {
    val assigned = corpus
      .select(corpusVec.cast("array<double>").as("v"))
      .withColumn("__n", l2Norm(col("v")))
      .withColumn("cell", element_at(array_sort(array(
        cents.zipWithIndex.map { case (cent, idx) =>
          val centArr = array(cent.map(lit): _*)
          val cnorm = lit(math.sqrt(cent.map(x => x * x).sum))
          struct(round(-dotProduct(col("v"), centArr) / (col("__n") * cnorm), 9).as("negcos"),
            lit(idx).as("cell"))
        }: _*)), 1).getField("cell"))
    val sums = assigned
      .where(col("__n") > 0)
      .select(col("cell"), col("__n"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("x") / col("__n")).as("s"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    cents.zipWithIndex.map { case (old, idx) =>
      sums.get(idx) match {
        case Some(mean) =>
          val norm = math.sqrt(mean.map(x => x * x).sum)
          if (norm == 0.0) old else mean.map(_ / norm)
        case None => old // empty cell: keep the previous centroid
      }
    }
  }

  // ------------------------------------------------- product quantization

  /** PQ codebooks (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search"): the d-dim space splits into `m` contiguous
    * subspaces of d/m dims; each subspace gets its own `ksub`-codeword
    * codebook, so a vector stores as m small codes — at (m=8, ksub=16)
    * that is 8 bytes against 256 for a 64-dim float vector (32×), the
    * memory path that keeps a billion-vector index resident where int8
    * ([[quantizeInt8]], 4×) cannot.
    *
    * Determinism/oracle path: with `lloydIters = 0` the codewords of
    * subspace j are the j-th slices of the md5-ordered sample
    * ([[md5Seeds]] — engine-neutral, DuckDB-replayable); production raises
    * `lloydIters` (per-subspace k-means on the mean update, each round
    * monotonically decreasing subspace MSE). Returns m × (≤ksub) × d/m. */
  private[graft] def pqCodebooks(corpus: DataFrame, id: Column, vec: Column,
                                 m: Int, ksub: Int,
                                 lloydIters: Int = 0): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1, "pq needs m >= 1 subspaces and ksub >= 1 codewords")
    val seeds = md5Seeds(corpus, id, vec, ksub)
    if (seeds.isEmpty) return Array.empty
    val dim = seeds.head.length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val init = Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
    (0 until lloydIters).foldLeft(init) { (cb, _) => pqLloydRound(corpus, vec, cb) }
  }

  /** Per-row PQ codes: for each subspace, the index of the L2-nearest
    * codeword. argmin over round(||c||²/2 − s·c, 9) — the ||s||² term is
    * constant per (row, subspace) and drops out; the 9-dp rounding plus
    * code-ascending tiebreak makes the assignment replayable by an
    * independent engine, same contract as [[cellsFor]]. Native one-pass
    * kernel ([[graft.expressions.PqEncodeVec]]) — the literal-dot
    * expression-tree formulation re-entered interpreted evaluation m×ksub
    * times per row and dominated the encode wall. */
  private def pqCodeExpr(cb: Array[Array[Array[Double]]])(vec: Column): Column =
    graft.expressions.VectorExpressions.pqEncodeVec(vec, cb)

  /** Materialize the PQ code store: (id, codes array<int> of length m).
    * This is the 100 TB write-once artifact — the corpus scan that every
    * later [[pqTopK]] probes reads is m ints per row, not the float
    * vectors. */
  def pqEncode(corpus: DataFrame, id: Column, vec: Column,
               cb: Array[Array[Array[Double]]]): DataFrame = {
    requireIntegralId(corpus, id)
    corpus.select(id.cast("long").as("id"),
      pqCodeExpr(cb)(vec.cast("array<double>")).as("codes"))
  }

  /** Asymmetric-distance PQ top-k: corpus rows are scored from their codes
    * alone — the reconstruction x̂ is m literal-codebook lookups
    * concatenated, scored as ONE sequential dot q·x̂ / (‖q‖·‖x̂‖). The
    * single-dot formulation (rather than Σ_j of per-subspace dots) pins
    * the floating-point addition ORDER to plain left-to-right over the d
    * elements, so an independent engine replays the 6-dp rounded score
    * exactly. The corpus scan reads m small ints per row, never the
    * original vectors. Queries broadcast (the fixed-small-query-batch,
    * growing-corpus shape); bounded-heap [[topKByScore]] re-rank,
    * (score DESC, corpus_id ASC) tiebreak. */
  def pqTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             k: Int, m: Int = 8, ksub: Int = 16,
             lloydIters: Int = 0): DataFrame = {
    requireIntegralId(corpus, corpusId); requireIntegralId(queries, queryId)
    val cb = pqCodebooks(corpus, corpusId, corpusVec, m, ksub, lloydIters)
    if (cb.isEmpty)
      return corpus.select(corpusId.cast("long").as("query_id"),
        corpusId.cast("long").as("corpus_id"), lit(0.0).as("score")).limit(0)
    val codes = pqEncode(corpus, corpusId, corpusVec, cb)
      .withColumnRenamed("id", "corpus_id")
    val q = queries.select(queryId.cast("long").as("query_id"),
        queryVec.cast("array<double>").as("qv"))
      .withColumn("qnrm", l2Norm(col("qv")))
    val xhat = concat(cb.zipWithIndex.map { case (codebook, j) =>
      val cbj = array(codebook.map(c => array(c.map(lit): _*)): _*)
      element_at(cbj, col("codes")(j) + 1)
    }: _*)
    val scored = codes.crossJoin(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        round(dotProduct(col("qv"), xhat) / (col("qnrm") * l2Norm(xhat)), 6)
          .as("score"))
    topKByScore(scored, k)
  }

  /** One per-subspace k-means round for [[pqCodebooks]]: assign codes with
    * the current codebooks, then replace each (subspace, code) codeword
    * with the plain mean of its assigned subvectors — the L2 centroid
    * update (PQ minimizes subspace MSE; no renormalization, unlike the
    * spherical [[lloydRound]]). One narrow corpus pass, a (j, code, pos)
    * HashAggregate, and an m×ksub×d/m collect. Empty codes keep their
    * previous codeword. */
  private[graft] def pqLloydRound(corpus: DataFrame, vec: Column,
                                  cb: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    val m = cb.length; val dsub = cb(0)(0).length
    val coded = corpus.select(vec.cast("array<double>").as("v"))
      .withColumn("codes", pqCodeExpr(cb)(col("v")))
      .select(explode(array((0 until m).map(j =>
        struct(lit(j).as("j"), col("codes")(j).as("code"),
          slice(col("v"), j * dsub + 1, dsub).as("sv"))): _*)).as("e"))
    val means = coded
      .select(col("e.j"), col("e.code"), posexplode(col("e.sv")).as(Seq("pos", "x")))
      .groupBy(col("j"), col("code"), col("pos"))
      .agg(avg(col("x")).as("mu"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (jc, rows) =>
        jc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      }
    cb.zipWithIndex.map { case (codebook, j) =>
      codebook.zipWithIndex.map { case (old, ci) =>
        means.getOrElse((j, ci), old)
      }
    }
  }

  /** Auto-tuned hyperplane count: 2^planes buckets sized so the EXPECTED
    * bucket occupancy is `targetBucketSize` — planes = ceil(log2(n /
    * target)), clamped to [1, 62]. Pairwise re-rank work per bucket grows
    * with occupancy², so holding occupancy constant as the corpus grows is
    * what keeps the LSH join linear at 100 TB (fixed planes showed 4.0×
    * time at ×32 data; with this knob the bucket count scales with n and
    * the ratio flattens: BASELINE.md round 5, "LSH planes auto-tuning
    * duel"). */
  def planesFor(corpusCount: Long, targetBucketSize: Long = 64L): Int = {
    require(targetBucketSize >= 1, "targetBucketSize must be >= 1")
    val ratio = math.max(1.0, corpusCount.toDouble / targetBucketSize.toDouble)
    math.min(62, math.max(1, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** [[lshTopK]] with [[planesFor]]-derived planes. Counts the corpus once
    * (a column-pruned metadata-cheap pass); at 100 TB pass a known corpus
    * count straight to `lshTopK(planes = planesFor(n))` instead. */
  def lshTopKAuto(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                  queries: DataFrame, queryId: Column, queryVec: Column,
                  k: Int, targetBucketSize: Long = 64L, seed: Long = 42L,
                  tables: Int = 2): DataFrame =
    lshTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k,
      planes = planesFor(corpus.count(), targetBucketSize), seed = seed, tables = tables)

  /** LSH-bucketed ANN top-k: candidates share a bucket with the query in any
    * of `tables` independent hash tables (multi-table union raises recall the
    * standard way); exact cosine re-rank per query via the typed bounded-heap
    * top-k (no rank-window funnel, no unbounded group arrays). Raise
    * `planes` with corpus size so buckets stay small — or let
    * [[lshTopKAuto]] / [[planesFor]] derive it from the corpus count. */
  def lshTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, planes: Int = 8, seed: Long = 42L, tables: Int = 2): DataFrame = {
    requireIntegralId(corpus, corpusId); requireIntegralId(queries, queryId)
    val scoredPerTable = (0 until tables).map { t =>
      val c = hyperplaneBucket(corpus, corpusId, corpusVec, planes, seed + t)
        .withColumn("cnorm", l2Norm(col("vec")))
        .withColumnRenamed("id", "corpus_id").withColumnRenamed("vec", "cvec")
      val q = hyperplaneBucket(queries, queryId, queryVec, planes, seed + t)
        .withColumn("qnorm", l2Norm(col("vec")))
        .withColumnRenamed("id", "query_id").withColumnRenamed("vec", "qvec")
      c.join(q, "bucket")
        .select(col("query_id"), col("corpus_id"),
          round(cosineFromNorms(col("cvec"), col("qvec"), col("cnorm"), col("qnorm")), 6)
            .as("score"))
    }
    // the table union can contain the same (query, corpus) pair up to
    // `tables` times with an identical score — dedup before ranking so the
    // top-k holds k distinct neighbors. The distinct shuffles only the
    // narrow candidate triples (long, long, double), never vectors.
    val scored = scoredPerTable.reduce(_ unionByName _).distinct()
    // typed bounded-heap re-rank (see ivfTopK): ≤ k rows per query per
    // partition into the shuffle, no unbounded per-group array
    topKByScore(scored, k)
  }
}
