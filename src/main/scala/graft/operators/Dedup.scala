package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication. Not present in the reference
  * (Beam offers only Distinct — SDK/transforms/Distinct.java); these are the
  * first-class pipeline ops a 100 TB corpus needs, designed shuffle-first:
  * every variant reduces to (doc → bounded signature) → groupBy(signature),
  * so the shuffle carries signatures, never documents.
  */
object Dedup {

  /** Exact dedup by content hash. md5 keeps the shuffle key at 32 bytes
    * regardless of document size; representative = min(doc_id) for
    * determinism. At 100 TB: one shuffle of (hash, id) pairs only. */
  def exact(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.select(md5(text).as("content_hash"), id.as("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("copies"))

  /** Incremental exact dedup — the daily-increment pipeline shape: verdicts
    * for a NEW batch of documents against an existing corpus digest store
    * WITHOUT rescanning the corpus. `corpusDigests` is the persisted
    * (content_hash, corpus_rep) frame — [[exact]]'s output renamed, written
    * once and appended per increment. Per batch doc:
    * `corpus_rep` = the corpus representative sharing its digest (NULL if
    * unseen), `batch_rep` = the min-id batch doc sharing it, and
    * `keep = corpus_rep IS NULL AND doc_id = batch_rep` — the doc survives
    * only if its content is new to BOTH the corpus and this batch (the
    * same min-id-representative policy as [[exact]]).
    *
    * 100 TB shape: the store is a narrow digest table; the join shuffles
    * the batch's digests and the store's digests, never any text. Write
    * the store BUCKETED on content_hash ([[graft.sources.IO.writeBucketed]])
    * and the store side never shuffles again on any increment; for very
    * large stores, pre-filter the probe with the Bloom semi-join
    * ([[Joins.bloomSemiJoin]]) so only possibly-seen digests reach the
    * join. The LSH analogue is the same composition over persisted
    * [[minHashCandidates]] band signatures. */
  def exactIncremental(batch: DataFrame, text: Column, id: Column,
                       corpusDigests: DataFrame): DataFrame = {
    val b = batch.select(id.as("doc_id"), md5(text).as("content_hash"))
    val batchReps = b.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("batch_rep"))
    b.join(corpusDigests.select(col("content_hash"), col("corpus_rep")),
        Seq("content_hash"), "left")
      .join(batchReps, Seq("content_hash"))
      .select(col("doc_id"), col("content_hash"), col("corpus_rep"),
        col("batch_rep"),
        (col("corpus_rep").isNull && col("doc_id") === col("batch_rep")).as("keep"))
  }

  /** Corpus snapshot diff by content digest: per-id verdicts between two
    * snapshots of the same corpus — `added` (id only in the new snapshot),
    * `removed` (only in the old), `changed` (both, digests differ),
    * `unchanged`. The data-versioning primitive a recurring-crawl pipeline
    * runs between increments (what actually changed since the last
    * snapshot → feed only `added`+`changed` into the incremental dedup/
    * index stores, retire `removed`).
    *
    * 100 TB shape: each side reduces to a narrow (id, md5) frame BEFORE
    * the full-outer join — the shuffle carries 40-byte digest rows, never
    * documents; persist both snapshots bucketed on the id
    * ([[graft.sources.IO.writeBucketed]]) and neither side shuffles at
    * all. Ids must be unique per snapshot (it's a keyed diff); enforce
    * upstream with [[exact]] if in doubt. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   id: Column, text: Column): DataFrame = {
    val o = oldSnap.select(id.as("doc_id"), md5(text).as("__old"))
    val n = newSnap.select(id.as("doc_id"), md5(text).as("__new"))
    o.join(n, Seq("doc_id"), "full")
      .select(col("doc_id"),
        when(col("__old").isNull, lit("added"))
          .when(col("__new").isNull, lit("removed"))
          .when(col("__old") =!= col("__new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Word n-gram shingles, normalized (lowercase, whitespace-split):
    * the codegen'd native kernel (graft.expressions.WordShingles — one
    * imperative pass per document inside WholeStageCodegen). */
  def shingles(text: Column, n: Int): Column =
    graft.expressions.TextExpressions.wordShingles(text, n)

  /** The round-2 Catalyst-lambda formulation of [[shingles]], kept as the
    * semantic specification the native kernel is equivalence-tested
    * against (DedupSimilaritySpec). Higher-order lambdas evaluate
    * interpreted; the word array is bound ONCE per document (the
    * transform-over-singleton-array let-binding idiom) because inlining
    * `split(lower(text))` into the per-shingle slice would re-split the
    * text once per shingle — O(words²) regex work per document, measured
    * ~7s of a 9s pass at sf0.1. */
  private[graft] def shinglesLambda(text: Column, n: Int): Column =
    flatten(transform(array(split(lower(text), "\\s+")), words =>
      array_distinct(filter(
        transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
          i => when(size(words) >= n, concat_ws(" ",
            slice(words, i + 1, lit(n)))).otherwise(null)),
        x => x.isNotNull))))

  /** MinHash+LSH near-dup candidates.
    *
    * Signature: per band b, minhash = min over shingles of md5(b || shingle)
    * (a distinct hash function per band via the band-index prefix; min of the
    * hex strings is a uniform min-hash). Docs sharing any band bucket are
    * candidates — the classic banding scheme. Each row contributes `bands`
    * (bucket, id) pairs of ~50 bytes; the join is a groupBy on the bucket, so
    * at 100 TB the heavy text never shuffles.
    *
    * `rowsPerBand = 1` here (bucket = one minhash); raise bands to raise
    * recall, post-filter with [[ngramJaccard]] for precision.
    */
  def minHashCandidates(docs: DataFrame, text: Column, id: Column,
                        shingleN: Int = 3, bands: Int = 8): DataFrame =
    minHashSignatures(docs, text, id, shingleN, bands)
      .groupBy(col("band"), col("minhash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("bucket_ids"),
           count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > 1)

  /** Signature computation: explode (doc, shingle) × band, md5, then a
    * codegen'd partial-aggregating min per (doc, band). The naive
    * formulation — array_min(transform(...)) inside a transform over bands
    * — is a Catalyst higher-order function, which executes INTERPRETED
    * (no whole-stage codegen) and allocates per element: ~4× slower at
    * sf0.1. Here everything after explode is HashAggregate + codegen, and
    * map-side partial min means the shuffle carries one (doc, band, hash)
    * row per group, not per shingle. */
  def minHashSignatures(docs: DataFrame, text: Column, id: Column,
                        shingleN: Int = 3, bands: Int = 8): DataFrame = {
    // one min-agg column per band instead of an explode × bands: the md5
    // count is identical but `bands`× fewer rows flow through the
    // aggregation; the tiny per-doc unpivot afterwards is O(docs)
    val mins = (0 until bands).map(b =>
      min(md5(concat(lit(s"$b:"), col("s")))).as(s"__m$b"))
    docs.select(id.as("doc_id"), explode(shingles(text, shingleN)).as("s"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), col(s"__m$b").as("minhash"))): _*)).as("sig"))
      .select(col("doc_id"), col("sig.band").as("band"), col("sig.minhash").as("minhash"))
  }

  /** Corpus-side state for [[minHashIncremental]]: the persisted band-bucket
    * store (band, minhash, corpus_rep) — one row per occupied LSH bucket,
    * corpus_rep = min corpus doc id in it. The LSH sibling of
    * [[exactIncremental]]'s digest store / `Similarity.semDedupStore`.
    * Persist BUCKETED on (band, minhash) ([[graft.sources.IO.writeBucketed]])
    * so increments probe it with no store-side Exchange; append each
    * increment's kept docs' signatures the same way. */
  def minHashStore(docs: DataFrame, text: Column, id: Column,
                   shingleN: Int = 3, bands: Int = 8): DataFrame =
    minHashSignatures(docs, text, id, shingleN, bands)
      .groupBy(col("band"), col("minhash"))
      .agg(min(col("doc_id")).as("corpus_rep"))

  /** Incremental MinHash-LSH near-dup verdicts: a NEW batch of documents
    * against a persisted [[minHashStore]], WITHOUT recomputing corpus
    * signatures — the daily-increment shape of [[minHashCandidates]].
    * Per batch doc: `corpus_cand` = min corpus rep sharing any band
    * bucket (NULL if none), `batch_cand` = min smaller batch id sharing
    * one, `keep` = both NULL (no near-dup candidate in corpus or batch —
    * same min-id-representative policy as the whole Dedup family). LSH
    * candidates are recall-oriented; post-verify survivors' candidate
    * pairs with [[ngramJaccardPairs]] when precision matters, exactly as
    * in the batch pipeline.
    *
    * 100 TB shape: per increment the corpus contributes only the bucket
    * rows the batch actually touches (an equi-join on the bucketed store —
    * no store-side shuffle, no corpus text ever read); batch-side work is
    * |batch| × bands signature rows. */
  def minHashIncremental(batch: DataFrame, text: Column, id: Column,
                         store: DataFrame, shingleN: Int = 3,
                         bands: Int = 8): DataFrame = {
    // The signature frame feeds three consumers and the STATIC plan shows
    // three identical signature subtrees — but at runtime AQE's exchange
    // reuse dedups them (the (doc_id) aggregation shuffle is canonical
    // across all three), so the batch is tokenized ONCE already. A r19
    // localCheckpoint experiment here measured a same-window LOSS
    // (sf0.1 0.86→1.15 s, sf10 6.8→7.7 s): materialization only added
    // block I/O on top of the reuse Spark was already doing. Left as
    // lineage deliberately.
    val sigs = minHashSignatures(batch, text, id, shingleN, bands)
    val vsCorpus = sigs
      .join(store.select(col("band"), col("minhash"), col("corpus_rep")),
        Seq("band", "minhash"))
      .groupBy(col("doc_id")).agg(min(col("corpus_rep")).as("corpus_cand"))
    val batchReps = sigs.groupBy(col("band"), col("minhash"))
      .agg(min(col("doc_id")).as("bucket_rep"))
    val vsBatch = sigs.join(batchReps, Seq("band", "minhash"))
      .filter(col("bucket_rep") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("bucket_rep")).as("batch_cand"))
    batch.select(id.as("doc_id"))
      .join(vsCorpus, Seq("doc_id"), "left")
      .join(vsBatch, Seq("doc_id"), "left")
      .select(col("doc_id"), col("corpus_cand"), col("batch_cand"),
        (col("corpus_cand").isNull && col("batch_cand").isNull).as("keep"))
  }

  /** Compaction for the incremental dedup/index stores (digest, LSH band,
    * SemDeDup cell): keep only rows whose OWNING doc id is in `liveIds` —
    * the live-corpus id frame, e.g. `snapshotDiff`'s non-`removed` ids.
    * Returns the compacted frame; persist it with
    * [[graft.sources.IO.writeBucketed]] on the store's bucket columns to
    * restore the no-Exchange increment probes.
    *
    * Why owner-id semi-join is EXACT under the keep discipline: every
    * store row is owned by exactly one live doc. The incremental keepers
    * admit a doc only when it shares NO digest/bucket/cell-duplicate with
    * the existing corpus ([[exactIncremental]] / [[minHashIncremental]] /
    * `Similarity.semDedupIncremental` all define keep = no candidate), so
    * each digest row's `corpus_rep` and each band-bucket's `corpus_rep`
    * IS its unique owner — retiring that doc retires the content, and
    * dropping the row is the correct forgetting. For a store built by the
    * BATCH builders over a corpus that retained duplicates, min-id reps
    * are not unique owners — re-run the builder on the live corpus
    * instead (one job, same cost as the original build).
    *
    * 100 TB shape: one job; the shuffle carries the two NARROW id frames
    * (the store's ~40-byte rows and the live-id column) — corpus text is
    * never read. A year of daily increments without compaction is a slow
    * leak ([[compactStoreTtl]] is the rolling-window variant); with it the
    * store stays O(live corpus) — probed in MixingSpec across N
    * increments with retirements. */
  def compactStore(store: DataFrame, ownerId: Column,
                   liveIds: DataFrame, liveId: Column): DataFrame =
    store.join(liveIds.select(liveId.as("__live_id")),
      ownerId === col("__live_id"), "left_semi")

  /** TTL compaction for ROLLING-WINDOW corpora: keep store rows stamped
    * at-or-after `minStamp`. Requires the increment-append discipline to
    * stamp rows (`.withColumn("appended_at", lit(batchStamp))` at append
    * time); the filter is row-local — zero shuffle — and a bucketed
    * rewrite afterwards needs no Exchange either (bucketed writes
    * hash-route rows to bucket files within each task). Correct when doc
    * retirement IS age (the rolling-window contract); for arbitrary
    * retirement use [[compactStore]] with the live-id frame. */
  def compactStoreTtl(store: DataFrame, stamp: Column, minStamp: Long): DataFrame =
    store.filter(stamp >= minStamp)

  /** K-minimum-values sketch of a corpus's distinct shingle set: the k
    * lexicographically smallest md5 hex digests over word `shingleN`-grams
    * — a bounded, MERGEABLE content signature of an entire corpus
    * (Beyer et al. 2007; the same bottom-k construction as the KMV
    * distinct-count CombineFn, here keyed on content shingles and kept
    * deterministic for cross-engine replay). One dedup-shaped pass; the
    * result is k rows regardless of corpus size. */
  def kmvSketch(docs: DataFrame, text: Column, id: Column,
                shingleN: Int = 3, k: Int = 256): DataFrame = {
    require(k >= 1, s"kmvSketch needs k >= 1, got $k")
    // Bounded-state bottom-k aggregation, NOT distinct().orderBy().limit(k):
    // the distinct formulation shuffles every distinct shingle digest of
    // the corpus (billions of 32-char strings at sf100 — it OOM'd the 8g
    // heap in the first full sf100 sweep), where the sketch only ever
    // needs k of them. Each map task keeps the k smallest distinct digests
    // (≤ k strings of state), merge is O(k), and the exchange carries one
    // k-element accumulator per task regardless of corpus size. Output is
    // identical (the k lexicographically smallest distinct md5 digests),
    // so the DuckDB oracle replay is unchanged.
    val spark = docs.sparkSession
    import spark.implicits._
    val fn = new graft.functions.BottomKDistinctFn(k)
    docs.select(explode(shingles(text, shingleN)).as("s"))
      .select(md5(col("s")).as("h")).as[String]
      .select(fn.asAggregator.toColumn.name("__hs"))
      .select(explode(col("__hs")).as("h"))
  }

  /** Corpus-level Jaccard similarity estimated from two [[kmvSketch]]es —
    * compare two corpora WITHOUT ever joining them: merge the sketches,
    * take the bottom k of the union, and count how many of those hashes
    * appear in BOTH sketches; J_est = that fraction (the classic KMV
    * set-resemblance estimator, ±O(1/√k)). Output one row:
    * (j_est, k_used). Deterministic — md5 ordering is engine-neutral, so
    * the DuckDB oracle replays the estimate EXACTLY, and at small scale
    * also replays the true shingle-set Jaccard to pin the error bound.
    *
    * 100 TB story: each corpus is reduced independently (one pass each,
    * possibly on different days/clusters); the comparison itself touches
    * 2k hashes. This is the "did crawl B add anything new vs corpus A"
    * triage that runs BEFORE committing to a full cross-corpus dedup. */
  def kmvJaccard(sketchA: DataFrame, sketchB: DataFrame, k: Int = 256): DataFrame = {
    Seq(sketchA, sketchB).foreach(s => require(s.columns.contains("h"),
      s"kmvJaccard expects kmvSketch frames (an `h` column), got ${s.columns.toSeq}"))
    val a = sketchA.select(col("h"), lit(1).as("__a"))
    val b = sketchB.select(col("h"), lit(1).as("__b"))
    val merged = a.join(b, Seq("h"), "full")
      .orderBy(col("h")).limit(k)
    merged.agg(
      round(sum(when(col("__a").isNotNull && col("__b").isNotNull, 1)
        .otherwise(0)).cast("double") / count(lit(1)), 6).as("j_est"),
      count(lit(1)).as("k_used"))
  }

  /** SimHash: 64-bit locality-sensitive fingerprint. Each shingle votes its
    * hash bits; fingerprint bit i is the sign of the vote sum. Near-dups have
    * small Hamming distance. xxhash64 is Spark-native and codegen'd.
    * At scale: one narrow pass; grouping by fingerprint (or by rotated
    * prefixes for Hamming-k search) is a signature-only shuffle. */
  def simHash(docs: DataFrame, text: Column, id: Column, shingleN: Int = 2): DataFrame = {
    // Explode shingles, then 64 codegen'd ±1-vote sums per doc (literal-Int
    // shift amounts → static functions inside WholeStageCodegen, map-side
    // partial aggregation). The array-accumulator formulation
    // (aggregate/zip_with over a 64-slot array) is a higher-order function
    // chain — interpreted, per-element allocations, ~10× slower at sf0.1.
    val voteCols = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__b$i"))
    val fingerprint = (0 until 64).map(i =>
      when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    docs.select(id.as("doc_id"), explode(shingles(text, shingleN)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h")) // hash once per row
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** N-gram Jaccard verification over candidate pairs: docs sharing a
    * shingle become pairs; |A∩B| counted per shared shingle, |A∪B| =
    * |A|+|B|−|∩|. Pairs with huge fanout (stop-shingles) should be
    * frequency-capped upstream at 100 TB — `maxShingleFreq` drops shingles
    * seen in more than that many docs.
    *
    * Memory shape (r16 — the r15 sf30 sweep OOM'd the 8 GB harness heap on
    * the previous formulation's persisted exploded (doc_id, shingle-string)
    * rows + shingle-string self-join):
    *  - shingle STRINGS leave the plan immediately: verification needs only
    *    shingle EQUALITY, so each n-gram collapses to a 64-bit `xxhash64`
    *    id right after extraction. Every shuffled row downstream is two
    *    longs, never an n-gram of text (at web scale a 3-shingle is ~30
    *    bytes; the id is 8). A cross-corpus hash collision would merge two
    *    distinct shingles (P ≈ distinct²/2⁶⁵ — immaterial below ~10¹²
    *    distinct shingles, and deterministic either way).
    *  - the self-join is gone: after the frequency cap, one aggregate packs
    *    each shingle's doc list into a single row (≤ `maxShingleFreq` ids —
    *    BOUNDED, which an uncapped collect_list would not be), and the
    *    (i < j) pair fan-out is a row-local generator over that sorted
    *    list. Per-task transient peak = one list's pair array
    *    (≤ maxShingleFreq²/2 structs ≈ 8 MB at the default cap), not a
    *    join build side.
    *  - that packed table is the ONLY persisted frame (it feeds the pair
    *    fan-out and the per-doc sizes): ~16 bytes per (shingle, doc)
    *    membership, ~4× under the exploded-string cache it replaces;
    *    Spark's ContextCleaner unpersists it once the returned frame's
    *    lineage is garbage-collected. The aggregate reuses the frequency
    *    window's hash partitioning on the shingle id — no extra Exchange. */
  /** Population-derived partition count for the verify-join's shingle
    * exchange — the SCALING.md frozen-parameter rule applied to PARTITION
    * COUNTS: the (doc, shingle-id) frame grows linearly with the corpus
    * (~60 shingles/doc), but a session-constant shuffle width means
    * per-task sort/aggregate state grows linearly too, and each task's
    * execution share is capped at pool/slots — the r17 sf30 sweep OOM'd
    * exactly this exchange at the default heap (in-sweep, where the
    * margin is thinnest). One partition per `docsPerPartition` docs keeps
    * per-task state flat across the SF ladder; 0 below the session width
    * (no repartition — small-SF plans and walls unchanged); budget-capped
    * (at 100 TB a cluster deployment sizes the session width itself). */
  def verifyPartitionsFor(corpusDocs: Long, docsPerPartition: Long = 12500L,
                          sessionWidth: Int = 32, budget: Int = 1 << 14): Int = {
    require(docsPerPartition >= 1 && budget >= 1,
      s"need docsPerPartition >= 1 and budget >= 1, got $docsPerPartition/$budget")
    val n = corpusDocs / docsPerPartition
    if (n <= sessionWidth) 0 else math.min(budget.toLong, n).toInt
  }

  /** [[verifyPartitionsFor]] with the session width read from the LIVE
    * `spark.sql.shuffle.partitions` instead of the 32-thread test-box
    * default — on a wider session (SPARK_GRAFT_CPUS=64+) a constant 32
    * would let a mid-size corpus repartition BELOW the session default,
    * narrowing the shingle exchange instead of widening it. */
  def verifyPartitionsFor(spark: SparkSession, corpusDocs: Long): Int =
    verifyPartitionsFor(corpusDocs,
      sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt)

  def ngramJaccardPairs(docs: DataFrame, text: Column, id: Column,
                        shingleN: Int = 3, threshold: Double = 0.8,
                        maxShingleFreq: Int = 1000, minShingles: Int = 0,
                        partitions: Int = 0): DataFrame = {
    val sh0 = docs.select(id.as("doc_id"), explode(shingles(text, shingleN)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("__h"))
    // partitions > 0 pre-partitions the shingle frame BY THE WINDOW KEY at
    // a population-derived width ([[verifyPartitionsFor]]); the frequency
    // window and the packing aggregate both reuse it, so this is the same
    // single Exchange as the default plan, just wider than the session
    // constant when the corpus demands it
    val sh = if (partitions > 0) sh0.repartition(partitions, col("__h")) else sh0
    val capped = sh.withColumn("__freq",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .filter(col("__freq") <= maxShingleFreq)
    // array_sort = Spark's native ordering (UTF8 binary for strings), the
    // same order the previous join's `a.doc_id < b.doc_id` used, so emitted
    // pairs stay canonical (id_a < id_b).
    val byShingle = capped
      .groupBy(col("__h"))
      .agg(array_sort(collect_list(col("doc_id"))).as("__docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = byShingle.select(explode(col("__docs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = byShingle
      .select(explode(flatten(transform(col("__docs"), (x, i) =>
        transform(slice(col("__docs"), i + lit(2), size(col("__docs"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    // merge-hint both sizes joins: `sizes` is one row per DOC — corpus-
    // sized — and its narrow rows compress under the adaptive broadcast
    // threshold at bench SFs, so AQE would otherwise build a driver-side
    // broadcast of a table that is billions of rows at 100 TB (and OOMs
    // the 8 GB harness driver at sf30 already). Shuffle-merge is the only
    // shape that scales on both ends.
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a")
        .hint("merge"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b")
        .hint("merge"), "id_b")
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      // minShingles > 0 demands minimum EVIDENCE: when the stop-shingle cap
      // strips a doc down to a couple of rare shingles, jaccard=1.0 on that
      // residue is not near-duplication — require both docs to still carry
      // at least minShingles capped shingles before trusting the score
      .filter(col("sz_a") >= minShingles && col("sz_b") >= minShingles)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Driver-side union-find with union-by-MIN root under `ord` — the
    * cluster id is the component minimum, the same invariant the
    * distributed star rounds converge to. Returns (node, root) for every
    * endpoint of `es`, roots self-labeled. */
  private def unionFindLabels[T](es: Array[(T, T)])(implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.map(n => (n, find(n)))
  }

  /** Spark's string comparison (UTF8String, default UTF8_BINARY collation):
    * unsigned byte order over the UTF-8 encoding. java.lang.String's
    * natural order compares UTF-16 code units instead and DISAGREES for
    * supplementary characters (U+1F600 encodes as bytes F0 9F 98 80 —
    * above U+FFFF's EF BF BF — but as code units D83D DE00, below it), and
    * the driver union-find must rank ids exactly as the cluster's
    * least()/min() do or the two paths elect different cluster minima.
    * Pinned by FuzzConnectedComponentsSpec's supplementary-id trial
    * (sensitivity proven: planting Ordering.String fails it). */
  private val Utf8ByteOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Connected components over near-dup candidate pairs → dedup clusters:
    * every doc in a connected component gets the component's minimum doc id
    * as its cluster id (the canonical representative). This is the step a
    * real dedup pipeline runs after [[minHashCandidates]] +
    * [[ngramJaccardPairs]] verification: keep one doc per cluster.
    *
    * Distributed algorithm: alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — large-star hangs every strictly-larger neighbor off the
    * local minimum, small-star re-parents all smaller neighbors onto it;
    * the alternation contracts any graph to per-component stars in
    * O(log n) rounds regardless of diameter (min-label propagation, the
    * previous formulation here, needed diameter rounds and could run out
    * on adversarial chains). Each round is two shuffles over (node, node)
    * pairs only — at 100 TB the shuffle carries ids, never documents.
    * Hybrid at both ends: graphs at or under `localThreshold` edges never
    * leave the driver (union-find), and a distributed run CUTS OVER to the
    * same union-find once star contraction shrinks the edge set under that
    * threshold — dense candidate graphs (the near-dup norm) collapse to
    * ~one edge per non-root node after a round or two, and finishing those
    * rounds distributed would pay 4 shuffles + a fixpoint check each for
    * driver-sized data.
    * If `maxIter` rounds pass without reaching the star fixpoint the call
    * THROWS rather than returning mid-flight labels: silently-wrong
    * cluster ids at scale are the one failure mode a dedup pipeline can
    * never detect downstream.
    */
  def nearDupClusters(pairs: DataFrame, idA: Column, idB: Column,
                      maxIter: Int = 10, localThreshold: Long = 1000000L): DataFrame = {
    // UNDIRECTED distinct edge set — not a symmetric union. Large-star
    // symmetrizes internally every round anyway, so pre-doubling the edge
    // list only doubles the first round's input; worse, a `pairs ∪
    // pairs.swap` union makes Catalyst compute the candidate-pair pipeline
    // (the expensive verified-jaccard join upstream) once PER BRANCH. At
    // sf1 (7M-edge near-clique candidate graph) the swap-union formulation
    // cost 5.2 s just to materialize edges vs ~1.4 s for the pair pipeline
    // itself (BASELINE.md round 13, "sf1 slowest-query review, continued:
    // q_dedup_clusters (2×)").
    // `canon` keeps SELF-pairs without paying a second cache: a self-pair
    // (a, a) canonicalizes to the marker (a, null) — a doc whose only
    // candidate pair is a self-pair is still a node of the graph and must
    // appear in the output (cluster_id = itself). ONE distinct + ONE
    // persisted frame (same cache volume as an edges-only formulation:
    // markers add at most one row per self-paired doc); `edges` and
    // `nodes` are both cheap cached scans of it, so the expensive
    // upstream candidate pipeline computes exactly once. Rows with a
    // null endpoint are malformed input and dropped up front (the
    // pre-r14 `src =!= dst` filter dropped them silently; this keeps
    // that contract explicit instead of letting a null masquerade as a
    // self-marker).
    val canon = pairs.select(idA.as("src"), idB.as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"),
        when(col("dst") =!= col("src"), col("dst")).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = canon.filter(col("dst").isNotNull)
    // Small-graph fast path: near-dup candidate graphs are usually tiny
    // relative to the corpus (pairs above a high similarity threshold).
    // Below `localThreshold` edges, a driver-side union-find replaces
    // ~4 Spark jobs per propagation round with one collect — the same
    // hybrid a production dedup pipeline uses. The distributed loop below
    // remains the 100 TB path. Taken for integral id types (collected as
    // Longs, cast back to the INPUT id type so both paths produce the same
    // schema — a silent cast("long") on string ids would null them) and
    // for DEFAULT-collation strings (doc ids are as often URLs/UUIDs as
    // numbers); collated string types stay distributed because the driver
    // Ordering below matches only UTF8_BINARY semantics.
    val idType = canon.schema("src").dataType
    val integralId = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.ShortType
    val stringId = idType == org.apache.spark.sql.types.StringType
    val localCapable = integralId || stringId
    // the gate collects threshold+1 rows on the driver, so the knob is
    // hard-capped below Int.MaxValue — a larger Long would wrap negative
    // in limit() and an Array can't hold it anyway
    require(localThreshold < Int.MaxValue,
      s"localThreshold must be < Int.MaxValue (driver-side gate), got $localThreshold")
    // Driver-side finish, shared by the entry gate and the mid-loop
    // cutover: single bounded materialization — collect at most
    // threshold+1 edges (≤ ~16 MB at the default threshold; if everything
    // fit we already hold the whole graph, no separate count() job that
    // would compute the candidate pipeline a second time), union-find
    // them (union by MIN root = component minimum, ranked by
    // [[Utf8ByteOrder]] for strings so the driver agrees with the
    // cluster's least()/min() on supplementary characters), and return
    // ("node","root") labels in the input id type. None = didn't fit.
    def driverFinish(e: DataFrame): Option[DataFrame] = {
      val spark = pairs.sparkSession
      import spark.implicits._
      val cap = localThreshold.toInt + 1
      if (integralId) {
        val es = e.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)].limit(cap).collect()
        if (es.length > localThreshold) None
        else Some(unionFindLabels(es).toDF("node", "root")
          .select(col("node").cast(idType), col("root").cast(idType)))
      } else {
        val es = e.select(col("src").cast("string"), col("dst").cast("string"))
          .as[(String, String)].limit(cap).collect()
        if (es.length > localThreshold) None
        else Some(unionFindLabels(es)(Utf8ByteOrder).toDF("node", "root"))
      }
    }
    var localLabels: Option[DataFrame] =
      if (localCapable) driverFinish(edges) else None
    // All nodes ever seen — from canon, where a null dst is the
    // self-pair marker contributing its src — so a doc whose only pair
    // is a self-pair still reaches the output. The star fixpoint /
    // union-find labels only carry edge-connected non-root nodes;
    // everything else (roots and self-loop-only nodes) self-labels via
    // the final left-join coalesce. Both endpoint columns contribute
    // nodes (edges are undirected).
    // NOT persisted: nodes is materialized exactly once (the final
    // labeled-output join's localCheckpoint), and its one compute is a
    // cached-canon scan — a persist here would be a pure extra
    // full-node-set cache write with zero re-reads
    val nodes = canon
      .select(explode(array(col("src"), coalesce(col("dst"), col("src")))).as("node"))
      .distinct()

    // Large-star: at each node u with neighbor set N(u), attach every
    // strictly larger neighbor to m = min(N(u) ∪ {u}). Input must be the
    // symmetric edge view; output re-symmetrizes implicitly next round.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("m"))
      // merge hint: `mins` is one row per NODE — corpus-sized at 100 TB;
      // its two-long rows compress under the adaptive broadcast threshold
      // at bench SFs, and a driver-side broadcast of a per-node table is
      // the wrong shape at any scale (see ngramJaccardPairs' sizes note)
      sym.join(mins.hint("merge"), "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    // Small-star: orient every edge high→low, then re-parent each node's
    // smaller neighbors (and the node itself) onto their minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.select(
          greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val grouped = directed.groupBy(col("src")).agg(min(col("dst")).as("m"))
      // merge hint: per-node table, same rationale as large-star's `mins`
      directed.join(grouped.hint("merge"), "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(grouped.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    // localCheckpoint (not persist) per round: iterative plans nest the
    // previous round's tree inside the next — after ~10 rounds the logical
    // plan alone overflows the stack just being printed. Checkpointing
    // truncates lineage to the materialized partitions each round, and
    // ContextCleaner reclaims a round's blocks once its Dataset becomes
    // unreferenced (unlike persist, which pins via CacheManager).
    var cur: DataFrame =
      if (localLabels.isDefined) null else edges.localCheckpoint(false)
    var converged = localLabels.isDefined
    var i = 0
    while (!converged && localLabels.isEmpty && i < maxIter) {
      // lazy + the count right below = materialize and count in ONE job
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextCount = next.count()
      // Fixpoint = edge set unchanged. Edge COUNTS alone can stay equal
      // across a round that still rewires parents, so count equality is
      // paired with ONE set-difference: both frames are distinct by
      // construction (small-star ends in distinct), so |next| = |cur| and
      // next \ cur = ∅ together imply set equality — the second anti-join
      // the previous formulation ran added a full shuffle per round for
      // nothing. Counts over localCheckpoint'd frames are partition-metadata
      // scans, no shuffle.
      converged = nextCount == cur.count() && next.except(cur).isEmpty
      cur = next
      i += 1
      // MID-LOOP CUTOVER — the production hybrid's second half. Star rounds
      // contract a graph geometrically: the sf1 candidate graph's 3.5M
      // edges drop to ~#non-root-nodes after one round, and paying 4
      // shuffles + a fixpoint check per round on a tiny contracted graph
      // is pure overhead. Once the edge set fits the same bound the entry
      // gate uses, finish with the driver union-find. Sound because each
      // round preserves (a) component membership (Kiveris et al.'s round
      // invariant) and (b) every non-root node's presence in the edge set
      // (a node only drops out when it loses all edges, which the star
      // emissions never do to a connected non-root), so union-find over
      // the contracted edges labels every non-root with its component
      // minimum and the final left-join coalesce self-labels the rest.
      if (!converged && localCapable && nextCount <= localThreshold) {
        localLabels = driverFinish(cur)
      }
    }
    if (!converged && localLabels.isEmpty) {
      canon.unpersist()
      throw new IllegalStateException(
        s"nearDupClusters: connected-components did not reach the star fixpoint " +
        s"after maxIter=$maxIter alternating large-star/small-star rounds. " +
        s"The graph needs O(log n) rounds — raise maxIter (e.g. " +
        s"${math.max(maxIter * 2, 20)}) and rerun; returning partial labels " +
        s"would silently mis-cluster documents.")
    }
    // At fixpoint `cur` is a star forest: (node → component-min) for every
    // non-root node; after a cutover `localLabels` holds the same mapping
    // computed by union-find over the contracted edges. Roots label
    // themselves via the left join. Materialize the small result eagerly,
    // then release the cached inputs — without this their partitions stay
    // pinned MEMORY_AND_DISK for the session.
    val labels = localLabels.getOrElse(
      cur.select(col("src").as("node"), col("dst").as("root")))
    val out = nodes
      // merge hint: `labels` is per-node — never broadcast (see above)
      .join(labels.hint("merge"), Seq("node"), "left")
      .select(col("node").as("doc_id"), coalesce(col("root"), col("node")).as("cluster_id"))
      .localCheckpoint(true)
    canon.unpersist()
    out
  }

  /** Span-level (sub-document) duplication signal — the "exact substring
    * dedup" of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better"), re-expressed over word shingles: a doc can be globally
    * unique yet consist largely of n-token runs copied verbatim from other
    * docs (boilerplate, quotes, templates); whole-doc dedup never sees it.
    *
    * Per doc: distinct `n`-token spans (the codegen'd [[shingles]] kernel),
    * how many of them also occur in ≥1 OTHER doc, and the duplicated
    * fraction — emitted as verdict columns per doc (filterable downstream
    * at any threshold). Docs with < n words get 0/0/0.0.
    *
    * Scale shape: spans leave the scan as 32-byte md5 keys, never text.
    * (hash, doc_id) rows are unique by construction (per-doc distinct
    * spans), so the per-hash row count IS the containing-doc count —
    * computed as `count(*) OVER (PARTITION BY hash)`: ONE shuffle on the
    * hash (partitions are tiny — one row per containing doc), then the
    * per-doc rollup shuffle. The groupBy+self-join formulation of the same
    * count would shuffle the span set twice more and re-explode the text.
    * A viral span ("click here to…") is a single hot window cell, not a
    * pairwise blow-up — no frequency cap needed, unlike
    * [[ngramJaccardPairs]]'s candidate join. */
  def spanDuplication(docs: DataFrame, text: Column, id: Column,
                      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = docs.select(id.as("doc_id"),
        explode(shingles(text, n)).as("span"))
      .select(col("doc_id"), md5(col("span")).as("h"))
    val perDoc = spans
      .withColumn("ndocs", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
           sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(id.as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("n_dup_spans"), lit(0L)) /
          greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)), 6).as("dup_frac"))
  }

  /** Embedding cosine near-dup: LSH-bucket by random-hyperplane sign bits,
    * verify cosine within buckets. See Similarity.cosine for the kernel. */
  def embeddingNearDup(embs: DataFrame, id: Column, vec: Column,
                       planes: Int = 12, threshold: Double = 0.95,
                       seed: Long = 42L): DataFrame = {
    val bucketed = Similarity.hyperplaneBucket(embs, id, vec, planes, seed)
      .withColumn("norm", Similarity.l2Norm(col("vec")))
    val a = bucketed.as("a"); val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", Similarity.cosineFromNorms(
        col("a.vec"), col("b.vec"), col("a.norm"), col("b.norm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }
}
