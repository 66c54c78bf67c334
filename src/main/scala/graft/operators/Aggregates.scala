package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators: the reference's Combine / Count / Sum / Min / Max /
  * Mean / Top / Latest / Distinct / ApproximateQuantiles / ApproximateUnique /
  * Sample / GroupByKey / GroupIntoBatches / SortValues family
  * (reference files per SURVEY.md §2.4).
  *
  * Scale notes: every helper below compiles to Catalyst HashAggregate
  * partial→Exchange→final (map-side combine for free); Top-K per key uses a
  * rank-window only after a partial per-partition truncation is impossible —
  * for bounded K prefer the TopKCombineFn Aggregator (graft.functions) whose
  * shuffle payload is K rows per key per partition.
  */
object Aggregates {

  /** Combine.globally: whole-frame aggregation. */
  def globally(df: DataFrame, aggs: Column*): DataFrame = df.agg(aggs.head, aggs.tail: _*)

  /** Combine.perKey / GroupByKey+fold. */
  def perKey(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Count.globally / perKey / perElement (reference: SDK/transforms/Count.java). */
  def countGlobally(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("cnt"))
  def countPerKey(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as("cnt"))
  def countPerElement(df: DataFrame): DataFrame =
    df.groupBy(df.columns.map(col): _*).agg(count(lit(1)).as("cnt"))

  /** Top.perKey (reference: SDK/transforms/Top.java:237): top-k rows per key
    * by `order`, deterministic via `tiebreak`. Catalyst plans a single
    * shuffle + per-partition sort; with AQE skewed keys split automatically.
    * ONLY for high-cardinality keys: a window partitioned by a
    * low-cardinality key funnels the full scan into ≤(distinct keys) tasks —
    * use [[topKPerKeySalted]] (or the typed TopKCombineFn) there. */
  def topPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** Scale-safe bounded top-k per key: two-phase salted reduction instead of
    * a single rank window. A window partitioned by a low-cardinality key
    * funnels every scored row into ≤(distinct keys) tasks — a scale-killer;
    * here stage 1 ranks within (key, salt) so the heavy reduction fans out
    * over `fanout`× more tasks and stage 2 merges only fanout×k candidates
    * per key. The salt is derived from row content (deterministic under task
    * retry — SPARK-23207 class of bug with nondeterministic salts).
    *
    * Memory is bounded at every stage: stage 1 is a rank window whose
    * per-group buffer is Spark's spillable ExternalAppendOnlyUnsafeRowArray
    * (disk-backed, never a single in-memory array — unlike collect_list,
    * whose whole-group array in ObjectHashAggregate cannot spill per group);
    * stage 2's collect_list sees at most fanout×k rows per key by
    * construction. Shuffle payload: full rows once (stage-1 exchange), then
    * ≤ fanout×k rows per key.
    *
    * `item` must be a struct whose ASCENDING sort order is the desired rank
    * order (negate numeric fields for descending, or pass
    * `descending = true` to rank by the struct's DESCENDING order — needed
    * when a tie-break field is a string, which has no negation). Returns one
    * row per kept item with the struct exploded as column `item`.
    *
    * For an even tighter shuffle (≤k rows per key per PARTITION, map-side
    * truncation before the exchange), use the typed
    * graft.functions.TopKCombineFn Aggregator — Similarity.cosineTopK and
    * the ANN re-rank paths do. */
  def topKPerKeySalted(df: DataFrame, keys: Seq[Column], item: Column,
                       saltFrom: Column, k: Int, fanout: Int = 32,
                       descending: Boolean = false): DataFrame = {
    val pruned = df.select(
      keys :+ item.as("__item") :+ pmod(xxhash64(saltFrom), lit(fanout)).as("__salt"): _*)
    val ord = if (descending) col("__item").desc else col("__item").asc
    val w = Window.partitionBy(keys :+ col("__salt"): _*).orderBy(ord)
    val sorted = if (descending) reverse(array_sort(collect_list(col("__item"))))
                 else array_sort(collect_list(col("__item")))
    pruned.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .groupBy(keys: _*)
      .agg(slice(sorted, 1, k).as("__top"))
      .select(keys :+ explode(col("__top")).as("item"): _*)
  }

  /** Latest.perKey (reference: SDK/transforms/Latest.java): one
    * max_by(row, (ts, tiebreak)) HashAggregate — partial aggregation keeps
    * one candidate row per key per partition, so the shuffle carries ≤ 1 row
    * per key per partition at any key cardinality (a rank window here would
    * funnel the scan into ≤(distinct keys) tasks). `tiebreak` keeps it
    * deterministic when timestamps collide (Beam leaves ties unspecified; we
    * pin them to the larger tiebreak, lexicographic struct max). */
  def latestPerKey(df: DataFrame, keys: Seq[Column], ts: Column, tiebreak: Column): DataFrame =
    df.groupBy(keys: _*)
      .agg(max_by(struct(df.columns.map(col): _*), struct(ts, tiebreak)).as("__row"))
      .select(col("__row.*"))

  /** Distinct.create (reference: SDK/transforms/Distinct.java:76). */
  def distinctRows(df: DataFrame): DataFrame = df.distinct()

  /** Distinct.withRepresentativeValueFn (reference: Distinct.java:87): dedup
    * by an extracted id. Beam keeps an arbitrary element per id; we keep the
    * minimum by `pick` so the result is deterministic and oracle-checkable.
    * Single min_by HashAggregate — same bounded-shuffle shape as
    * [[latestPerKey]], safe for any id cardinality. */
  def distinctByRepresentative(df: DataFrame, id: Seq[Column], pick: Column): DataFrame =
    df.groupBy(id: _*)
      .agg(min_by(struct(df.columns.map(col): _*), pick).as("__row"))
      .select(col("__row.*"))

  /** ApproximateQuantiles (reference: SDK/transforms/ApproximateQuantiles.java:59
    * — Munro–Paterson). Spark's percentile_approx (GK sketch) honors the same
    * contract: mergeable, bounded-memory, epsilon-accurate. */
  def approxQuantiles(df: DataFrame, keys: Seq[Column], value: Column, probs: Seq[Double],
                      accuracy: Int = 10000): DataFrame = {
    val p = array(probs.map(lit): _*)
    val agg = percentile_approx(value, p, lit(accuracy)).as("quantiles")
    if (keys.isEmpty) df.agg(agg) else df.groupBy(keys: _*).agg(agg)
  }

  /** Exact quantiles (for the oracle gate; same API shape). */
  def exactQuantile(df: DataFrame, keys: Seq[Column], value: Column, prob: Double): DataFrame = {
    // call_function keeps the Column typed (Column.toString is not a stable
    // SQL identifier to splice into expr() text).
    val agg = call_function("percentile", value, lit(prob)).as("quantile")
    if (keys.isEmpty) df.agg(agg) else df.groupBy(keys: _*).agg(agg)
  }

  /** ApproximateUnique (reference: SDK/transforms/ApproximateUnique.java:46 —
    * KMV top-hash sample). Spark's approx_count_distinct (HLL++) honors the
    * same contract: mergeable distinct-count estimate with tunable error. */
  def approxUniquePerKey(df: DataFrame, keys: Seq[Column], value: Column, rsd: Double = 0.05): DataFrame =
    df.groupBy(keys: _*).agg(approx_count_distinct(value, rsd).as("approx_distinct"))

  /** Count–min sketch frequency estimation (beyond-ref: the mergeable
    * heavy-hitter sketch later Beam ships as extensions/sketching
    * SketchFrequencies; absent from the reference snapshot). One
    * distributed tree-aggregate merges fixed-size (width=⌈2/eps⌉ ×
    * depth=⌈ln(1/(1−confidence))⌉ counters) partition sketches — the
    * classic bounded-memory pass over an unbounded stream of items. The
    * sketch guarantees est ≥ true and, with probability `confidence`,
    * est ≤ true + eps·N. `probes` (the items to report — heavy-hitter
    * candidates, an eval vocabulary) is small by definition; estimates are
    * read on the driver and returned as (item, est_count). */
  def cmsFrequencies(df: DataFrame, item: Column, probes: Seq[String],
                     eps: Double = 0.001, confidence: Double = 0.99,
                     seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // NULL items would reach CountMinSketch.add(null) and die with an
    // obscure NPE; a null is "no item", so drop it — same frequency
    // semantics a GROUP BY item would give (nulls form no countable item).
    val cms = df.select(item.cast("string").as("__item"))
      .filter(col("__item").isNotNull)
      .stat.countMinSketch("__item", eps, confidence, seed)
    probes.map(p => (p, cms.estimateCount(p))).toDF("item", "est_count")
  }

  /** Sample.any(n) (reference: SDK/transforms/Sample.java:74): any n elements. */
  def sampleAny(df: DataFrame, n: Int): DataFrame = df.limit(n)

  /** Deterministic uniform-ish sample by key residue — the oracle-checkable
    * stand-in for fixedSizeGlobally in batch; the true reservoir lives in
    * graft.functions.ReservoirSampleFn. */
  def sampleByResidue(df: DataFrame, key: Column, mod: Int, residue: Int = 0): DataFrame =
    df.filter(pmod(key, lit(mod)) === residue)

  /** GroupByKey → sorted value list (reference: SDK/transforms/GroupByKey.java:120).
    * Beam's per-key Iterable<V> is unordered; we sort for determinism.
    * sort_array(collect_list(...)) keeps it a single HashAggregate. */
  def groupByKeyList(df: DataFrame, keys: Seq[Column], value: Column): DataFrame =
    df.groupBy(keys: _*).agg(sort_array(collect_list(value)).as("values"))

  /** GroupIntoBatches.ofSize (reference: SDK/transforms/GroupIntoBatches.java:79),
    * batch form: per-key batches of at most n in ascending `value` order,
    * batch index attached. `value` must totally order rows within a key.
    *
    * Scale shape is CARDINALITY-AWARE, because the two failure modes are
    * opposite:
    *  - LOW-cardinality keys would funnel a rank window into ≤(distinct
    *    keys) tasks → use the distributed zipWithIndex: range-partition by
    *    (key, value) so one key spreads across many ordered partitions,
    *    prefix-sum the (partition, key) counts on the driver into starting
    *    offsets, assign global ranks in a narrow second pass;
    *  - HIGH-cardinality keys parallelize a rank window naturally, but
    *    would blow the zipWithIndex's driver offset table (one entry per
    *    distinct key) → use the window (WindowExec's per-group buffer is
    *    spillable, and millions of keys spread over all tasks).
    * A cheap approx_count_distinct probe picks the path; force it with
    * `lowCardinality` when the caller already knows. */
  def groupIntoBatches(df: DataFrame, keys: Seq[Column], value: Column, n: Int,
                       materialize: Boolean = true,
                       lowCardinality: Option[Boolean] = None,
                       lowCardThreshold: Long = 100000L): DataFrame = {
    val keyNames = df.select(keys: _*).columns.toSeq
    val reserved = Set("__v", "batch_id", "batch", "batch_size")
    require(keyNames.forall(!reserved(_)) && keyNames.distinct == keyNames,
      s"groupIntoBatches keys must have distinct names outside $reserved (got $keyNames)")
    // the probe scans only the (pruned) key columns; callers that know the
    // cardinality should pass `lowCardinality` and skip the pass entirely
    val fewKeys = lowCardinality.getOrElse {
      df.select(approx_count_distinct(struct(keys: _*)).as("c"))
        .head().getLong(0) <= lowCardThreshold
    }
    if (fewKeys) groupIntoBatchesRanged(df, keyNames, keys, value, n, materialize)
    else {
      // high-cardinality path: the rank window parallelizes across the many
      // keys; per-group buffers spill, the driver holds nothing. The value
      // is aliased to __v exactly like the ranged path so a value column
      // named batch_id can't be clobbered by the generated column.
      val keyed = df.select(
        keys.zip(keyNames).map { case (c, nm) => c.as(nm) } :+ value.as("__v"): _*)
      val w = Window.partitionBy(keyNames.map(col): _*).orderBy(col("__v").asc)
      keyed.withColumn("batch_id", floor((row_number().over(w) - 1) / n))
        .groupBy(keyNames.map(col) :+ col("batch_id"): _*)
        .agg(sort_array(collect_list(col("__v"))).as("batch"), count(lit(1)).as("batch_size"))
    }
  }

  /** The low-cardinality (distributed zipWithIndex) path of
    * [[groupIntoBatches]]. Construction is EAGER (pass 1 collects the
    * offset table). `materialize = true` localCheckpoints the batched
    * result and releases the internal cache — the right default for
    * bounded/interactive use, at the cost of a transient period where both
    * the cache and the checkpoint blocks exist and of losing
    * recomputability (localCheckpoint truncates lineage; an executor loss
    * loses blocks). Long-lived cluster jobs that need fault-tolerant
    * recomputation should pass false and manage the returned frame's
    * persistence (the internal range-partitioned cache then stays pinned
    * until the session drops the frame's lineage — the offsets are only
    * valid against those exact cached partitions). */
  private def groupIntoBatchesRanged(df: DataFrame, keyNames: Seq[String],
                                     keys: Seq[Column], value: Column, n: Int,
                                     materialize: Boolean): DataFrame = {
    val spark = df.sparkSession
    val nk = keyNames.size
    val keyed = df.select(keys.zip(keyNames).map { case (c, nm) => c.as(nm) } :+ value.as("__v"): _*)
    val ordCols = keyNames.map(col) :+ col("__v")
    // persisted so the counts pass and the rank pass see the SAME range
    // partitions (recomputation would re-sample the range bounds);
    // explicitly released below once the result is checkpointed —
    // CacheManager entries are NOT reclaimed by the ContextCleaner
    val sorted = keyed.repartitionByRange(ordCols: _*).sortWithinPartitions(ordCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pass 1: per-(partition, key) counts -> per-(partition, key) global
    // starting offset, by prefix sum over partition id on the driver
    val counts = sorted
      .groupBy(spark_partition_id().as("__pid") +: keyNames.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .collect()
      .map(r => (r.getInt(0), (1 to nk).map(r.get).toVector, r.getLong(nk + 1)))
    val offsets: Map[(Int, Vector[Any]), Long] = counts
      .groupBy(_._2)
      .flatMap { case (k, per) =>
        var cum = 0L
        per.sortBy(_._1).map { case (pid, _, c) =>
          val off = cum; cum += c; ((pid, k), off)
        }
      }
    val bOff = spark.sparkContext.broadcast(offsets)
    // pass 2: narrow rank assignment within the SAME partitions
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "batch_id", org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val running = collection.mutable.Map.empty[Vector[Any], Long]
      it.map { r =>
        val k = (0 until nk).map(r.get).toVector
        val i = running.getOrElse(k, bOff.value.getOrElse((pid, k), 0L))
        running(k) = i + 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i / n)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val batched = indexed
      .groupBy(keyNames.map(col) :+ col("batch_id"): _*)
      .agg(sort_array(collect_list(col("__v"))).as("batch"), count(lit(1)).as("batch_size"))
    // materialize=false: the offset broadcast must stay alive — the
    // returned frame's lineage recomputes mapPartitions against bOff
    if (!materialize) batched
    else {
      // materialize the (much smaller) batched result off the cached
      // lineage, then release the cached projection AND the offset
      // broadcast (the checkpoint truncates lineage, so nothing can
      // recompute through bOff); the checkpoint blocks themselves are
      // ContextCleaner-managed, unlike the persist above
      val out = batched.localCheckpoint(true)
      sorted.unpersist()
      bOff.destroy()
      out
    }
  }

  /** Global 0-based dense sequential ids in total `order` — the
    * distributed zipWithIndex, exposed first-class (training pipelines
    * need it for deterministic sample numbering and sharded-array
    * alignment; the naive `row_number() OVER (ORDER BY …)` is a
    * SINGLE-PARTITION window funnel, the exact plan this operator
    * exists to avoid). `order` must be a total order (append a unique
    * id as the last column) or ids within a tie are partition-dependent.
    *
    * Shape: range-partition by `order` (parallel global sort), ONE
    * per-partition count pass collected to a numPartitions-entry offset
    * table (driver state is per PARTITION, never per row/key — the
    * same prefix-sum construction as [[groupIntoBatches]]'s ranged
    * path), then a narrow second pass attaches offsets + running index.
    * Construction is eager; the result is localCheckpointed and the
    * internal cache released. */
  def sequentialIds(df: DataFrame, order: Seq[Column],
                    idName: String = "seq_id"): DataFrame = {
    require(order.nonEmpty, "sequentialIds needs at least one order column")
    require(!df.columns.contains(idName),
      s"sequentialIds: input already has a column named '$idName'")
    val spark = df.sparkSession
    // persisted so the count pass and the index pass see the SAME range
    // partitions (recomputation would re-sample the range bounds)
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sorted.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] = {
      var cum = 0L
      counts.sortBy(_._1).map { case (pid, c) =>
        val off = cum; cum += c; pid -> off
      }.toMap
    }
    val bOff = spark.sparkContext.broadcast(offsets)
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        idName, org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var i = bOff.value.getOrElse(pid, 0L)
      it.map { r =>
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
        i += 1
        out
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val out = indexed.localCheckpoint(true)
    sorted.unpersist()
    bOff.destroy()
    out
  }

  /** Combine.groupedValues (reference: Combine.java:2073): combine AFTER an
    * explicit GBK — the input is (key, values array); fold the array with a
    * Catalyst lambda, no second shuffle. */
  def groupedValues(df: DataFrame, values: Column, zero: Column,
                    merge: (Column, Column) => Column, as: String): DataFrame =
    df.withColumn(as, aggregate(values, zero, merge))

  /** SortValues secondary sort (reference: extensions/sorter/SortValues.java:70).
    * Moderate groups: sort_array(collect_list(struct(k2, v))). Large groups
    * (spill path): repartition by k1 + sortWithinPartitions(k1, k2) keeps
    * Spark's UnsafeExternalSorter in charge — no driver memory involved. */
  def sortValues(df: DataFrame, key: Column, secondary: Column, value: Column): DataFrame =
    df.groupBy(key)
      .agg(transform(sort_array(collect_list(struct(secondary.as("k2"), value.as("v")))),
        x => x.getField("v")).as("sorted_values"))

  /** Large-group secondary sort: shuffle once, sort within partitions, then
    * stream each key's rows in order (no per-group materialization). */
  def sortValuesLarge(df: DataFrame, key: Column, secondary: Column): DataFrame =
    df.repartition(key).sortWithinPartitions(key, secondary)

  /** Count of consecutive pairs in `arr` (already sorted by the caller)
    * whose `value` strictly rises — the row-local half of the reference's
    * GatherStats walk (examples/complete/TrafficRoutes.java:215-254, which
    * iterates a sorted list comparing each reading to its predecessor).
    * Pure codegen'd higher-order functions (zip_with of the array against
    * its own tail + aggregate), so it runs inside the enclosing hash
    * aggregate's projection with no UDF, no WindowExec, and no extra
    * shuffle; an empty or single-element array yields 0. Falling-or-equal
    * pairs are `size(arr) - 1 - risingPairs(...)`. */
  def risingPairs(arr: Column, value: Column => Column): Column =
    aggregate(
      zip_with(slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
               slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        (p, c) => when(value(c) > value(p), lit(1)).otherwise(lit(0))),
      lit(0), (acc, x) => acc + x)

  /** The consecutive (prev, cur) element pairs of an array the caller
    * already sorted — the pair-level sibling of [[risingPairs]], for when
    * each pair needs further per-pair attribution (q_traffic_routes explodes
    * these to the sliding windows covering both endpoints via
    * [[Windows.slidingWindowStartsCovering]]) rather than one rolled-up
    * count. Same codegen'd zip-against-own-tail shape; empty and
    * single-element arrays yield an empty array. */
  def consecutivePairs(arr: Column): Column =
    zip_with(slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
             slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
      (p, c) => struct(p.as("prev"), c.as("cur")))

  /** Reshuffle (reference: SDK/transforms/Reshuffle.java:54): redistribution
    * + stable-input barrier — in Spark a shuffle boundary provides both. */
  def reshuffle(df: DataFrame, numPartitions: Int): DataFrame = df.repartition(numPartitions)

  /** Combine.perKey(...).withHotKeyFanout (reference: Combine.java:1598):
    * two-stage combine with key salting for skew. Measured head-to-head
    * (BASELINE.md round 10, "Hot-key fanout skew duel"): for anything planned as
    * `groupBy().agg(...)` — algebraic OR holistic (collect_list gets
    * ObjectHashAggregate partials too) — Catalyst's map-side partial
    * aggregation already does what Beam's fanout does by hand, and the salt
    * only adds a shuffle. The salt PAYS (7.4× smaller per-task funnel, 1.8×
    * wall at 90%-one-key skew) exactly where no combiner can be planned:
    * `groupByKey().mapGroups`-style per-key iterators. AQE can't rescue
    * those either — its skew splitting covers joins only. */
  def sumPerKeyWithFanout(df: DataFrame, key: Column, value: Column, fanout: Int): DataFrame =
    // Salt derived from row content, not partition position: a re-executed
    // map task must route each row to the same salt bucket or retries under
    // fetch failure double-count (SPARK-23207 class of bug).
    df.withColumn("__salt", pmod(xxhash64(key, value), lit(fanout)))
      .groupBy(key.as("key"), col("__salt"))
      .agg(sum(value).as("__partial"))
      .groupBy(col("key"))
      .agg(sum(col("__partial")).as("sum_value"))

  /** Key-distribution skew profile — the diagnosis pass you run BEFORE
    * picking salting/fanout knobs on a new corpus: the `topN` heaviest
    * keys with their share of all rows, plus the distribution's Shannon
    * entropy (nats; ln(n_keys) = perfectly uniform, → 0 = one key owns
    * everything) and key count as constant columns. Deterministic:
    * (cnt DESC, key ASC) total order, 6-dp shares.
    *
    * 100 TB shape: one count aggregate (map-side combined — the profile's
    * shuffle carries one row per key per task), two scalar aggregates over
    * the |keys|-row counts frame, and a bounded TakeOrdered for the top-N
    * — never a global sort of the raw rows. */
  def keySkewProfile(df: DataFrame, key: Column, topN: Int): DataFrame = {
    require(topN >= 1, s"keySkewProfile needs topN >= 1, got $topN")
    // three consumers (totals, entropy, top-N) — localCheckpoint the
    // |keys|-row counts frame once so the raw corpus is scanned ONCE
    // (the assignToCentroids precedent), not three times
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // lazy: the totals collect right below materializes it
    val Array(n, nKeys) = counts
      .agg(sum(col("cnt")).cast("double"), count(lit(1)))
      .head().toSeq.toArray
    // fail loudly on an empty frame (sum is NULL → n unboxes to 0.0 →
    // NaN shares and a raw NPE on the entropy collect) — the psiDrift
    // empty-side convention
    require(n != null, "keySkewProfile on an empty frame (no keys to profile)")
    val nd = n.asInstanceOf[Double]
    val entropy = counts
      .agg(round(-sum((col("cnt") / nd) * log(col("cnt") / nd)), 6))
      .head().getDouble(0)
    counts
      .select(col("key"), col("cnt"),
        round(col("cnt") / nd, 6).as("share"),
        lit(nKeys.asInstanceOf[Long]).as("n_keys"),
        lit(entropy).as("entropy"))
      .orderBy(desc("cnt"), asc("key")).limit(topN)
  }
}
