package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling" — public
  * paper): score every raw document by how target-like its hashed n-gram
  * bag is, then resample with probability ∝ the importance weight via
  * seeded Gumbel top-k.
  *
  *  - Features: word unigrams + bigrams of lowered text, hashed into a
  *    FIXED number of buckets (the paper's hashed generative model). The
  *    hash is engine-neutral (first 15 hex chars of md5 → 60-bit int, the
  *    repo's established DuckDB-replayable pattern), so the whole pipeline
  *    is exactly replayable by the oracle.
  *  - Models: two smoothed multinomials over buckets — target (the
  *    `isTarget` slice) and raw (everything) — fit in ONE pass: a single
  *    per-(doc,bucket) count aggregate feeds both, the bucket model is at
  *    most `buckets` rows (a broadcast of MBs at any corpus size), and
  *    totals ride one scalar aggregate.
  *  - Weight: log w(d) = Σ_b c_d(b) · (log p̂_target(b) − log p̂_raw(b)),
  *    additive smoothing α on both models (paper eq. 3 shape).
  *  - Selection: Gumbel top-k — key = log w + Gumbel(0,1) seeded from
  *    md5(doc_id), equivalent to sampling k docs without replacement with
  *    probability ∝ w (Vieira 2014's Gumbel-max trick, public). Selection
  *    uses the salted two-phase bounded top-k, never a global rank window.
  *
  * 100 TB story: per-doc work is row-local (ngram hash → one row per
  * DISTINCT per-doc ngram, never re-grouped — the fused
  * [[graft.expressions.HashedNgramBuckets]] kernel); the only shuffles
  * are each consumer's own partial-aggregated reduction
  * (model aggregate ≤ buckets rows, per-doc score one row per doc); the
  * model join is a broadcast; top-k is the salted bounded heap. Nothing
  * grows with corpus size except the linear scan.
  */
object Dsir {

  /** Engine-neutral 60-bit hash (md5 hex prefix), replayable in any SQL
    * engine: DuckDB spells it CAST('0x' || substr(md5(x),1,15) AS BIGINT). */
  private[operators] def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word unigrams + bigrams of lowered text (letters-only tokenization —
    * the cheap, language-agnostic feature space the paper uses hashed).
    * This lambda chain is the SEMANTIC SPECIFICATION of the codegen'd
    * [[graft.expressions.WordNgramCounts]] kernel the hot path rides
    * (equivalence pinned in DsirSpec on the real corpus — same precedent
    * as shinglesLambda vs WordShingles). */
  def wordNgrams(text: Column): Column = {
    val words = filter(split(lower(text), "[^a-z]+"), w => w =!= "")
    val bigrams = transform(
      slice(words, lit(1), greatest(size(words) - 1, lit(0))),
      (w, i) => concat(w, lit(" "), element_at(words, i + 2)))
    concat(words, bigrams)
  }

  /** Population-derived bucket count for [[importanceWeights]] — the
    * SCALING.md meta-rule applied to the hashed feature space: collisions
    * blur the target/raw contrast once distinct n-grams ≫ buckets, and
    * distinct n-grams track corpus size, so the hash space grows with the
    * population (one bucket per `docsPerBucket` documents), floored at
    * `floor` (tiny corpora keep a stable small space) and hard-capped at
    * `budget` (the paper's 2^16 — the broadcast-model bound; beyond it
    * extra buckets buy little contrast at real smoothing levels). Pure
    * integer ceil-division so a SQL oracle derives the identical count
    * from count(*): LEAST(budget, GREATEST(floor, (n + dpb - 1) // dpb)).
    * NOTE: the bucket count is part of the MODEL — score increments
    * against a persisted model with the model's own bucket count, not a
    * re-derived one (same contract as randomProject's seed). */
  def bucketsFor(corpusDocs: Long, docsPerBucket: Int = 16,
                 floor: Int = 512, budget: Int = 1 << 16): Int = {
    require(docsPerBucket >= 1 && floor >= 1 && budget >= floor,
      s"need docsPerBucket >= 1 and budget >= floor >= 1, got " +
        s"docsPerBucket=$docsPerBucket floor=$floor budget=$budget")
    val grown = (corpusDocs + docsPerBucket - 1) / docsPerBucket
    math.min(budget.toLong, math.max(floor.toLong, grown)).toInt
  }

  /** Per-doc importance log-weights against the `isTarget` slice.
    * Output: (doc_id, is_target, dsir_logw) — weights for ALL docs
    * (callers typically resample only the non-target side but scoring the
    * target slice too is free and useful for calibration).
    *
    * r18 shape (guide §1.2): the model is ≤ `buckets` rows BY DESIGN (the
    * paper's broadcast-model bound), so instead of leaving it lazy — which
    * duplicated the corpus-sized ngram subtree across the model aggregate,
    * the totals-of-model aggregate, and the scoring join, and paid a
    * per-AQE-stage replan of the 276-node plan — ONE job builds and
    * collects the model, the driver folds smoothing + totals into a dense
    * Δlogp double[] (same Math.log as the executor would run — bit-equal),
    * and scoring is a row-local [[graft.expressions.WeightedBucketDot]]
    * over per-doc (bkts, cnts) arrays: no broadcast join, no per-doc
    * re-aggregation, corpus touched exactly twice (model pass + scoring
    * pass — the two passes the algorithm fundamentally needs). Note this
    * executes the model job at CONSTRUCTION time (the repo's established
    * driver-coordinated-operator contract, like Lloyd/GD rounds). */
  def importanceWeights(docs: DataFrame, id: Column, text: Column,
                        isTarget: Column, buckets: Int = 1 << 16,
                        alpha: Double = 1.0): DataFrame = {
    require(buckets > 0 && alpha > 0,
      s"DSIR needs buckets > 0 and alpha > 0, got buckets=$buckets alpha=$alpha")
    // per-doc aligned (bkts, cnts) arrays — one codegen'd kernel pass
    // (HashedNgramBuckets = wordNgramCounts scan + the SAME engine-neutral
    // md5 hash60 % buckets, fused); featureless docs drop out exactly as
    // the exploded form dropped them (no rows)
    val perDoc = docs.select(id.cast("long").as("doc_id"),
        isTarget.as("is_target"),
        graft.expressions.TextExpressions
          .hashedNgramBuckets(lower(text), buckets).as("__h"))
      .select(col("doc_id"), col("is_target"),
        col("__h.bkts").as("bkts"), col("__h.cnts").as("cnts"))
      .filter(size(col("bkts")) > 0)
      .cache()
    try {
      // one aggregate feeds BOTH models: raw = all docs, target = flagged
      val model = perDoc
        .select(col("is_target"),
          explode(arrays_zip(col("bkts"), col("cnts"))).as("e"))
        .groupBy(col("e.bkts").as("bucket"))
        .agg(sum(col("e.cnts")).as("q_cnt"),
          sum(when(col("is_target"), col("e.cnts")).otherwise(0L)).as("t_cnt"))
        .collect()
      // exact-integer totals; smoothing folded on the driver — the same
      // IEEE ops (Math.log, double +/÷) the in-plan expressions ran, on the
      // same exact-long inputs, so every Δlogp value is bit-identical
      var qTotL = 0L; var tTotL = 0L
      model.foreach { r => qTotL += r.getLong(1); tTotL += r.getLong(2) }
      val qTot = qTotL.toDouble; val tTot = tTotL.toDouble
      val dlogp = new Array[Double](buckets)
      model.foreach { r =>
        dlogp(r.getLong(0).toInt) =
          math.log((r.getLong(2) + alpha) / (tTot + alpha * buckets)) -
            math.log((r.getLong(1) + alpha) / (qTot + alpha * buckets))
      }
      perDoc.select(col("doc_id"), col("is_target"),
          graft.expressions.TextExpressions
            .weightedBucketDot(col("bkts"), col("cnts"), dlogp).as("dsir_logw"))
        .localCheckpoint(true)
    } finally perDoc.unpersist()
  }

  /** Gumbel key for weight w (log space): logw − ln(−ln u), u seeded from
    * md5(tag:doc_id) — deterministic, engine-neutral, u ∈ (0,1). */
  def gumbelKey(logw: Column, docId: Column, tag: String = "dsir"): Column = {
    val u = (hash60(concat(lit(s"$tag:"), docId.cast("string"))).cast("double")
      + lit(0.5)) / lit(Math.pow(2.0, 60))
    logw - log(-log(u))
  }

  /** Sample k docs without replacement with probability ∝ exp(dsir_logw):
    * rank by Gumbel key via the salted bounded top-k (no global rank
    * window). Input must carry (doc_id, dsir_logw). */
  def resample(weights: DataFrame, k: Int, tag: String = "dsir"): DataFrame =
    Aggregates.topKPerKeySalted(
      weights.select(col("doc_id"), col("dsir_logw"),
        gumbelKey(col("dsir_logw"), col("doc_id"), tag).as("__gk")),
      keys = Seq(lit(1).as("__g")),
      item = struct((-col("__gk")).as("ngk"), col("doc_id").as("id"),
        col("dsir_logw").as("lw")),
      saltFrom = col("doc_id"), k = k)
      .select(col("item.id").as("doc_id"), col("item.lw").as("dsir_logw"),
        (-col("item.ngk")).as("gumbel_key"))
}
