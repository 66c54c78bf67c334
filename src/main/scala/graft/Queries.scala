package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.{ApproximateUniqueFn, CombineFns, MeanFn, ReservoirSampleFn, TopKCombineFn}

/** The operator-coverage query catalog: one named query per implemented
  * operator from SURVEY.md §2 (+ the LLM-pipeline ops), each with a
  * DuckDB-equivalent oracle SQL where the semantics are SQL-expressible.
  *
  * Determinism rules used throughout (so driver hash-compare is exact):
  *  - money: per-row `CAST(floor(x*100 + 0.5) AS BIGINT)` cents, summed as
  *    exact integers (identical in IEEE double on both engines, no
  *    rounding-mode dependence);
  *  - averages/ratios: round(..., 4..6) — double noise is ~1e-15 relative,
  *    far below the rounding grain;
  *  - every ranking has a total-order tiebreak;
  *  - aggregated collections are sorted and joined to strings.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  /** Memoized table row count for the population-derived parameter
    * builders (qEmbedNearDup's planes, qLmScore's vocab cap, qDsir's
    * bucket count): the count is a property of the DATA, not the session,
    * so one scan per (dir, table) serves every builder invocation —
    * repeated builds (ConcurrentBench workers, plan audits) no longer pay
    * a table scan each. Unbounded only by the number of distinct test
    * dirs (a handful). */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  private[graft] def tableCount(s: SparkSession, dir: String, name: String): Long =
    countCache.computeIfAbsent((dir, name),
      _ => java.lang.Long.valueOf(t(s, dir, name).count()))
  /** Drop cached counts for `dir`. The cache assumes immutable fixture
    * dirs; any flow that REWRITES a table at the same path inside one JVM
    * (generate-then-query probes, fixture regeneration) must call this or
    * the population-derived k/planes/vocab/buckets silently size from the
    * stale count while the SQL oracle recomputes count(*) fresh — an
    * opaque hash mismatch instead of a pointer at the cache (r15 advice).
    * [[Sf1Gen]] calls it after writing. */
  private[graft] def invalidateCounts(dir: String): Unit = {
    val it = countCache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == dir) it.remove()
  }

  /** Exact integer cents from a cents-aligned (or computed) double. */
  private def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("long")

  /** Estimator-error contract: per key, |estimate − exact| ≤ tol · exact,
    * emitted as one boolean column the DuckDB oracle pins true. */
  private def errorBoundContract(est: DataFrame, key: String, estCol: String,
                                 exact: DataFrame, tol: Double, as: String): DataFrame =
    est.join(exact, key)
      .select(col(key),
        (abs(col(estCol) - col("__exact")) <= col("__exact") * tol).as(as))

  /** Sample-validity contract: size, membership in the universe (by id),
    * optional distinctness — one row of checks the oracle pins. */
  private def sampleContract(sample: DataFrame, universe: DataFrame, id: String,
                             checkDistinct: Boolean): DataFrame = {
    val joined = sample.select(col(id))
      .join(universe.select(col(id), lit(1).as("__m")), Seq(id), "left")
    val aggs = Seq(count(lit(1)).as("n_sampled")) ++
      (if (checkDistinct) Seq((countDistinct(col(id)) === count(lit(1))).as("distinct_ok"))
       else Seq.empty) ++
      Seq((sum(when(col("__m").isNull, 1).otherwise(0)) === 0).as("members_ok"))
    joined.agg(aggs.head, aggs.tail: _*)
  }

  // ---------------------------------------------------------------- element-wise

  def qMapProject(s: SparkSession, dir: String): DataFrame = {
    import ElementWise._
    t(s, dir, "lineitem").mapElements(
      col("l_orderkey"), col("l_linenumber"),
      cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
  }

  def qFilter(s: SparkSession, dir: String): DataFrame = {
    import ElementWise._
    t(s, dir, "lineitem")
      .filterBy(col("l_shipdate") <= lit("1996-12-31").cast("timestamp")
        && col("l_quantity") < 24)
  }

  def qFlatMapWordcount(s: SparkSession, dir: String): DataFrame = {
    import ElementWise._
    t(s, dir, "documents")
      .flatMapElements(split(lower(col("text")), "\\s+"), "word")
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
  }

  def qPartition(s: SparkSession, dir: String): DataFrame = {
    val bucketExpr = when(col("l_quantity") < 10, 0)
      .when(col("l_quantity") < 30, 1).otherwise(2)
    val parts = ElementWise.DataFrameOps(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
      .partitionBy(3, bucketExpr)
    // re-tag and flatten so the routing is observable/checkable
    Joins.flatten(parts.zipWithIndex.map { case (df, i) =>
      df.withColumn("bucket", lit(i))
    })
  }

  def qRegexExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"),
      ElementWise.RegexOps.matchesGroup(col("props"), "\"k\":\\s*(\\d+)", 1)
        .cast("int").as("k"))

  def qToStringKv(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"),
      ElementWise.ToStringOps.kvs(col("event_type"), col("user_id")).as("kv"))

  def qWithKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id").as("key"), col("event_id").as("value"))

  // ---------------------------------------------------------------- aggregations

  /** Flagship: TPC-H Q1-shaped composed combine (Sum/Mean/Count per key). */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")))).as("sum_charge_cents"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  def qCountGlobal(s: SparkSession, dir: String): DataFrame =
    Aggregates.countGlobally(t(s, dir, "lineitem"))

  def qCountPerElement(s: SparkSession, dir: String): DataFrame =
    Aggregates.countPerElement(
      t(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority")))

  def qMinMaxPerKey(s: SparkSession, dir: String): DataFrame =
    Aggregates.perKey(t(s, dir, "orders"), Seq(col("o_orderpriority")), Seq(
      count(lit(1)).as("cnt"),
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"),
      sum(cents(col("o_totalprice"))).as("sum_cents"),
      round(avg(col("o_totalprice")), 4).as("avg_price")))

  def qTopPerKey(s: SparkSession, dir: String): DataFrame =
    // o_orderpriority has ~5 distinct values: a plain rank window would
    // funnel the whole scan into ≤5 tasks, so Top.perKey rides the salted
    // bounded two-phase reduction (fanout×5 stage-1 groups, ≤ fanout×k rows
    // per key afterwards). Descending price = ascending negated price in
    // the item struct; orderkey breaks ties.
    Aggregates.topKPerKeySalted(
      t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
      Seq(col("o_orderpriority")),
      struct((-col("o_totalprice")).as("np"), col("o_orderkey").as("okey")),
      saltFrom = col("o_orderkey"), k = 3)
      .select(col("o_orderpriority"), col("item.okey").as("o_orderkey"),
        (-col("item.np")).as("o_totalprice"))

  def qLatestPerKey(s: SparkSession, dir: String): DataFrame =
    Aggregates.latestPerKey(
      t(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value")),
      Seq(col("user_id")), col("ts"), col("event_id"))

  def qDistinct(s: SparkSession, dir: String): DataFrame =
    Aggregates.distinctRows(t(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority")))

  def qDistinctRep(s: SparkSession, dir: String): DataFrame =
    Aggregates.distinctByRepresentative(
      t(s, dir, "customer").select(col("c_mktsegment"), col("c_custkey"), col("c_name")),
      Seq(col("c_mktsegment")), col("c_custkey"))

  def qMeanPerKey(s: SparkSession, dir: String): DataFrame =
    Aggregates.perKey(t(s, dir, "events"), Seq(col("event_type")), Seq(
      round(avg(col("value")), 4).as("avg_value"),
      count(lit(1)).as("cnt")))

  def qQuantileExact(s: SparkSession, dir: String): DataFrame =
    // round(, 6): exact-percentile linear interpolation differs between
    // engines only in double rounding of index*fraction (~1e-15) — the
    // rounding grain absorbs it for the oracle hash-compare.
    t(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(round(call_function("percentile", col("l_quantity"), lit(0.5)), 6).as("median_qty"),
           round(call_function("percentile", col("l_quantity"), lit(0.9)), 6).as("p90_qty"))

  /** ApproximateQuantiles with a rank-accuracy gate: the GK sketch's output
    * is engine-specific, so the oracle-checkable result is the CONTRACT, not
    * the values — for each prob p over n rows, the returned value v must
    * admit a rank r ∈ [count(<v)+1, count(≤v)] with |r − p·n| ≤ ε·n
    * (ε = 1/accuracy; reference contract:
    * SDK/transforms/ApproximateQuantiles.java:59). Emits one boolean per
    * quantile, all true iff the sketch honors its bound — the driver's
    * DuckDB oracle pins them true. ±2 ranks of slack absorb the
    * engines' target-rank convention (p·n vs p·(n−1)+1). */
  def qApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.25, 0.5, 0.75, 0.9)
    val accuracy = 10000
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("rf"), col("l_quantity").as("qty"))
    val approx = Aggregates.approxQuantiles(
      t(s, dir, "lineitem"), Seq(col("l_returnflag")), col("l_quantity"), probs, accuracy)
    val rankCounts = probs.indices.flatMap { i => Seq(
      sum(when(col("qty") < element_at(col("quantiles"), i + 1), 1L).otherwise(0L)).as(s"__lt$i"),
      sum(when(col("qty") <= element_at(col("quantiles"), i + 1), 1L).otherwise(0L)).as(s"__le$i")) }
    val agged = li.join(broadcast(approx), col("rf") === col("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("__n"), rankCounts: _*)
    val eps = 1.0 / accuracy
    val oks = probs.zipWithIndex.map { case (p, i) =>
      ((col(s"__lt$i") + 1 <= (lit(p) + eps) * col("__n") + 2) &&
        (col(s"__le$i") >= (lit(p) - eps) * col("__n") - 2)).as(s"q${(p * 100).toInt}_ok")
    }
    agged.select(col("l_returnflag") +: oks: _*)
  }

  def qCountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"))

  /** ApproximateUnique (HLL++) gated by its error contract: the estimate is
    * engine-specific, so the oracle-checkable output is |est − exact| ≤
    * 15% · exact (rsd = 0.05, 3σ headroom; measured ≤ 2.7% on the
    * fixtures). Exact counts come from the same engine pass; DuckDB pins
    * the keys and asserts the contract everywhere. */
  def qApproxUnique(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    errorBoundContract(
      Aggregates.approxUniquePerKey(li, Seq(col("l_returnflag")), col("l_partkey")),
      "l_returnflag", "approx_distinct",
      li.groupBy(col("l_returnflag")).agg(countDistinct(col("l_partkey")).as("__exact")),
      tol = 0.15, as = "within_rsd")
  }

  /** Count–min sketch frequencies for the five event types, gated by the
    * sketch contract: est ≥ exact (CMS overestimates only) and
    * est ≤ exact + eps·N with the configured confidence (eps·N is ~N/1000
    * rows of slack; with 5 distinct items collisions are essentially zero,
    * so the estimate is exact in practice — the bound is what the oracle
    * pins so the query stays green under any conforming sketch). */
  def qCmsFreq(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val eps = 0.001
    val est = Aggregates.cmsFrequencies(ev, col("event_type"),
      Seq("click", "view", "purchase", "signup", "error"), eps = eps)
    val exact = ev.groupBy(col("event_type").as("item")).agg(count(lit(1)).as("__exact"))
    // the probes cover every present event type, so N = Σ __exact — an
    // unpartitioned window over the 5-row aggregate, not a third scan
    val n = sum(col("__exact")).over(org.apache.spark.sql.expressions.Window
      .partitionBy())
    est.join(exact, "item")
      .select(col("item"), col("est_count"), col("__exact"),
        ceil(n * lit(eps) + lit(1)).as("__slack"))
      .select(col("item"),
        (col("est_count") >= col("__exact") &&
          col("est_count") <= col("__exact") + col("__slack")).as("within_eps"))
  }

  def qSampleResidue(s: SparkSession, dir: String): DataFrame =
    Aggregates.sampleByResidue(
      t(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type")),
      col("event_id"), 10)

  /** Sample.any(n) gated by its contract (n MEMBER rows — which rows is
    * explicitly unspecified): emits the verified sample size and a
    * membership check the oracle pins. */
  def qSampleAny(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    sampleContract(Aggregates.sampleAny(events, 10), events, "event_id",
      checkDistinct = false)
  }

  def qGbkList(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").groupBy(col("n_regionkey"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("names"))

  def qGroupIntoBatches(s: SparkSession, dir: String): DataFrame =
    // event_type is known-low-cardinality: declare it and skip the probe
    Aggregates.groupIntoBatches(
      t(s, dir, "events").select(col("event_type"), col("event_id")),
      Seq(col("event_type")), col("event_id"), 100, lowCardinality = Some(true))
      .select(col("event_type"), col("batch_id"), col("batch_size"))

  def qSortValues(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("l_linenumber").as("k2"),
          col("l_quantity").cast("long").as("v")))),
        x => x.getField("v").cast("string")), ",").as("qtys"))

  def qArgMax(s: SparkSession, dir: String): DataFrame =
    Aggregates.latestPerKey(
      t(s, dir, "events").select(col("event_type"), col("event_id"), col("value")),
      Seq(col("event_type")), col("value"), col("event_id"))
      .withColumnRenamed("event_id", "top_event_id")

  // ------------------------------------------------------- typed CombineFn façade

  /** CombineFns.compose2(MeanFn, TopKCombineFn) as a typed Aggregator — the
    * reference's CombineFn contract end-to-end (one pass, partial agg). */
  def qTypedMeanMax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fn = CombineFns.compose2(
      new MeanFn().contramap[(String, Double)](_._2),
      new TopKCombineFn[Double](1).contramap[(String, Double)](_._2))
    t(s, dir, "events").select(col("event_type"), col("value")).as[(String, Double)]
      .groupByKey(_._1)
      .agg(fn.asAggregator.toColumn.name("mt"))
      .map { case (k, (mean, top)) =>
        // HALF_UP decimal rounding — the same rule Spark's round() and
        // DuckDB's round() apply, so the oracle hash matches.
        (k, BigDecimal(mean).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, top.head)
      }
      .toDF("event_type", "avg_value", "max_value")
  }

  /** Sample.fixedSizeGlobally (seeded reservoir) gated by its contract:
    * exactly n distinct member elements (the priority hash is
    * engine-specific — 64-bit multiply hashing DuckDB's checked arithmetic
    * cannot replay — so the oracle pins size/distinctness/membership;
    * value-level determinism is proven in CombineFnLawsSpec). */
  def qReservoir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fn = new ReservoirSampleFn[Long](15, seed = 42L)
    val sample = t(s, dir, "events").select(col("event_id")).as[Long]
      .select(fn.asAggregator.toColumn.name("sample"))
      .flatMap(identity)
      .toDF("event_id")
    sampleContract(sample, t(s, dir, "events"), "event_id", checkDistinct = true)
  }

  /** GroupIntoBatches via the stateful-ParDo path (transformWithState works
    * on batch Datasets too — Beam's unified model): batch sizes are
    * deterministic (full batches + one remainder per key) even though batch
    * contents follow partition order. */
  def qStatefulBatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grouped = t(s, dir, "events").select(col("event_type"), col("event_id"))
      .as[(String, Long)].groupByKey(_._1)
    graft.streaming.Stateful.groupIntoBatches(grouped, n = 100, flushDelayMs = 0L,
        timeMode = org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
      .map { case (k, vs) => (k, vs.size) }
      .toDF("event_type", "batch_size")
  }

  /** The reference's own Munro–Paterson quantile estimator as a typed
    * Aggregator, gated by its accuracy contract (the raw values are
    * merge-tree-dependent like Beam's, so — as with qApproxQuantiles — the
    * oracle checks the CONTRACT): the 5-tile output is [min, q25, q50, q75,
    * max] with exact extremes and mid-tiles rank-accurate within
    * ε ≈ (log₂(n/b)+2)/b for buffer size b=256 (reference:
    * SDK/transforms/ApproximateQuantiles.java:215). Emits per-key booleans
    * the DuckDB oracle pins true. */
  def qMpQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the UDAF route of the CombineFn⇄Aggregator bridge (the typed
    // groupByKey route is exercised by qTypedMeanMax): a plain DataFrame
    // groupBy aggregates through the same accumulator with no per-row
    // tuple encoding
    val mpUdaf = udaf(new graft.functions.ApproximateQuantilesFn(numQuantiles = 5).asAggregator,
      org.apache.spark.sql.Encoders.scalaDouble)
    val mp = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(mpUdaf(col("l_quantity")).as("quantiles"))
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("rf"), col("l_quantity").as("qty"))
    val mids = Seq(1 -> 0.25, 2 -> 0.5, 3 -> 0.75) // array slot (0-based) -> prob
    val rankCounts = mids.flatMap { case (slot, _) => Seq(
      sum(when(col("qty") < element_at(col("quantiles"), slot + 1), 1L).otherwise(0L)).as(s"__lt$slot"),
      sum(when(col("qty") <= element_at(col("quantiles"), slot + 1), 1L).otherwise(0L)).as(s"__le$slot")) }
    val aggs = Seq(count(lit(1)).as("__n"),
      min(col("qty")).as("__min"), max(col("qty")).as("__max"),
      first(col("quantiles")).as("__q")) ++ rankCounts
    val agged = li.join(broadcast(mp), col("rf") === col("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
    val eps = (log(2.0, greatest(col("__n") / 256.0, lit(2.0))) + 2) / 256.0
    val midOks = mids.map { case (slot, p) =>
      ((col(s"__lt$slot") + 1 <= (lit(p) + eps) * col("__n") + 2) &&
        (col(s"__le$slot") >= (lit(p) - eps) * col("__n") - 2)).as(s"q${(p * 100).toInt}_ok")
    }
    agged.select(Seq(col("l_returnflag"),
      (element_at(col("__q"), 1) === col("__min")).as("min_ok")) ++ midOks :+
      (element_at(col("__q"), 5) === col("__max")).as("max_ok"): _*)
  }

  /** The reference's own KMV distinct-count estimator as a typed Aggregator,
    * gated by its error contract: |est − exact| ≤ 30% · exact (sampleSize
    * 128 → σ ≈ 1/√128 ≈ 8.8%, >3σ headroom; measured ≤ 9.8% on the
    * fixtures). The raw estimate is hash-specific (64-bit multiply hashing,
    * not DuckDB-replayable); value-level laws are in CombineFnLawsSpec. */
  def qKmvUnique(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fn = new ApproximateUniqueFn[Long](128).contramap[(String, Long)](_._2)
    val est = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_partkey")).as[(String, Long)]
      .groupByKey(_._1)
      .agg(fn.asAggregator.toColumn.name("__kmv"))
      .toDF("l_returnflag", "__kmv")
    errorBoundContract(est, "l_returnflag", "__kmv",
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("__exact")),
      tol = 0.30, as = "within_bound")
  }

  // ---------------------------------------------------------------- joins

  def qJoinInner(s: SparkSession, dir: String): DataFrame =
    Joins.inner(
      t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey"),
      t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"),
      Seq("custkey"))
      .select(col("o_orderkey"), col("custkey"), col("c_name"), col("o_totalprice"))

  def qJoinLeft(s: SparkSession, dir: String): DataFrame =
    Joins.leftOuter(
      t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"),
      t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey"),
      Seq("custkey"))
      .groupBy(col("custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))

  def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_nationkey") < 10)
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val sup = t(s, dir, "supplier").filter(col("s_nationkey") > 5)
      .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
    Joins.fullOuter(c, sup, Seq("nationkey"),
      Map("n_cust" -> lit(0L), "n_supp" -> lit(0L)))
  }

  def qCoGbk(s: SparkSession, dir: String): DataFrame =
    Joins.coGroupByKey("nationkey", Map(
      "nations"   -> (t(s, dir, "nation").withColumnRenamed("n_nationkey", "nationkey"), col("n_name")),
      "customers" -> (t(s, dir, "customer").withColumnRenamed("c_nationkey", "nationkey"), col("c_custkey")),
      "suppliers" -> (t(s, dir, "supplier").withColumnRenamed("s_nationkey", "nationkey"), col("s_suppkey"))))
      .select(col("nationkey"),
        array_join(col("nations"), ",").as("nation_names"),
        size(col("customers")).cast("long").as("n_cust"),
        size(col("suppliers")).cast("long").as("n_supp"))

  def qJoinSemi(s: SparkSession, dir: String): DataFrame =
    Joins.leftSemi(
      t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"),
      t(s, dir, "orders").withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      .select(col("custkey"), col("c_name"))

  def qJoinAnti(s: SparkSession, dir: String): DataFrame =
    // anti vs urgent orders only — every customer has SOME order in the
    // synthetic data, so anti vs all orders would be trivially empty.
    Joins.leftAnti(
      t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"),
      t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .withColumnRenamed("o_custkey", "custkey"), Seq("custkey"))
      .select(col("custkey"), col("c_name"))

  def qBroadcastJoin(s: SparkSession, dir: String): DataFrame =
    Joins.broadcastJoin(
      t(s, dir, "lineitem").withColumnRenamed("l_partkey", "partkey"),
      t(s, dir, "part").withColumnRenamed("p_partkey", "partkey"), Seq("partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
           count(lit(1)).as("n_items"))

  def qIntersect(s: SparkSession, dir: String): DataFrame =
    Joins.intersect(
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey")),
      t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  def qExcept(s: SparkSession, dir: String): DataFrame =
    Joins.except(
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey")),
      t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  def qFlatten(s: SparkSession, dir: String): DataFrame =
    Joins.flatten(Seq(
      t(s, dir, "region").select(col("r_name").as("name")),
      t(s, dir, "nation").select(col("n_name").as("name"))))

  /** Bloom semi-join reduction: lineitems of URGENT orders only. The bloom
    * prefilter drops most non-matching lineitems before the shuffle; the
    * result is EXACTLY the plain semi-join the oracle replays. */
  def qBloomSemi(s: SparkSession, dir: String): DataFrame =
    Joins.bloomSemiJoin(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")),
      "l_orderkey",
      t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")),
      "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).cast("long").as("sum_qty"))

  /** As-of join: each click matched to the same user's latest purchase
    * at-or-before it (left-outer — clicks before any purchase keep nulls).
    * The right side is pre-aggregated per (user, ts) so same-timestamp
    * purchases collapse deterministically (max cents) before the
    * tie-sensitive window pass — the documented asOf contract. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("asof_ts"))
      .agg(max(cents(col("value"))).as("purchase_cents"))
    Joins.asOf(clicks, purchases, Seq("user_id"), "click_ts", "asof_ts",
      Seq("asof_ts", "purchase_cents"))
  }

  /** Forward as-of: each click matched to the same user's EARLIEST
    * purchase at-or-after it (Joins.asOf direction="forward" — the
    * mirrored window fill). Independent oracle: DuckDB's native ASOF with
    * a <= condition. Same pre-aggregation contract as q_asof_join. */
  def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("asof_ts"))
      .agg(max(cents(col("value"))).as("purchase_cents"))
    Joins.asOf(clicks, purchases, Seq("user_id"), "click_ts", "asof_ts",
      Seq("asof_ts", "purchase_cents"), direction = "forward")
  }

  /** Nearest as-of: each click matched to the same user's time-closest
    * purchase, ties to the earlier one (Joins.asOf direction="nearest" —
    * both fills over one shuffle, micros distances). Oracle: DuckDB's two
    * native ASOF passes joined on the click id with the identical
    * tie-to-backward pick. */
  def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("asof_ts"))
      .agg(max(cents(col("value"))).as("purchase_cents"))
    Joins.asOf(clicks, purchases, Seq("user_id"), "click_ts", "asof_ts",
      Seq("asof_ts", "purchase_cents"), direction = "nearest")
  }

  /** The TIME-SLICED as-of plan (hot-key skew mitigation, r13): same
    * semantics as q_asof_join but through the two-pass
    * (keys, day-slice)-partitioned fill + per-key carry — driver-gated
    * against the SAME DuckDB native-ASOF oracle, so the sliced plan's
    * result identity is pinned at all scale factors, not just in-spec.
    * Width = 1 day of epoch micros (the events table spans ~months, so
    * the carry genuinely fires across tens of slices). */
  def qAsofSliced(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("asof_ts"))
      .agg(max(cents(col("value"))).as("purchase_cents"))
    Joins.asOf(clicks, purchases, Seq("user_id"), "click_ts", "asof_ts",
      Seq("asof_ts", "purchase_cents"), sliceWidth = 86400000000L)
  }

  /** Keyless point-in-interval range join on the bucketed path (no
    * BroadcastNestedLoop — PlanShapeSpec pins it): clicks attributed to
    * 4-hour windows opened by every 7th signup; bucketWidth = the interval
    * length, so each interval explodes to ≤2 bins. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val fourHoursUs = 4L * 3600 * 1000000
    val intervals = ev.filter(col("event_type") === "signup" && col("event_id") % 7 === 0)
      .select(col("event_id").as("interval_id"),
        GraftSession.epochMicros(col("ts")).as("lo"),
        (GraftSession.epochMicros(col("ts")) + fourHoursUs).as("hi"))
    val points = ev.filter(col("event_type") === "click")
      .select(GraftSession.epochMicros(col("ts")).as("p"), cents(col("value")).as("click_cents"))
    Joins.pointInIntervalJoin(points, col("p"), intervals, col("lo"), col("hi"),
        bucketWidth = fourHoursUs)
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("click_cents")).as("sum_cents"))
  }

  /** Build-time RangeJoinRewrite (shared by the q_range_rewrite /
    * q_overlap_rewrite builders): apply the REWRITE RULE, given the width
    * directly, to the analyzed `naive` plan, require it fired (the plan
    * carries the bucketed __bin join), and return the frame carrying the
    * already-rewritten plan — the session conf is never touched, and
    * execution optimizes the bucketed plan once (the rewrite is
    * idempotent: its join condition is equalities only, so the
    * session-injected rule instance finds nothing to match).
    *
    * Deliberately NOT `queryExecution.optimizedPlan`: forcing the FULL
    * optimizer at build time was measured as the one 8-way-FAIR
    * contention outlier (ConcurrentBench r14: q_range_rewrite_ts 3.25×
    * its isolated pace, all of it driver-side plan work — the optimizer
    * ran once at build and again at execution). One rule application over
    * the analyzed tree is the cheap sufficient step: the rule matches the
    * as-written join condition (bare attribute comparisons), which
    * analysis preserves. */
  private def withBucketWidth(s: SparkSession, widthUs: Long,
                              naive: DataFrame, tag: String): DataFrame = {
    val rewritten = graft.plans.RangeJoinRewrite(s)(naive.queryExecution.analyzed, widthUs)
    // STRUCTURAL fired-check, not a plan-string grep: a rename of the
    // temp column fails this require loudly instead of silently
    // weakening it (the rewrite's measurements: BASELINE.md round 7,
    // "Range-join width/guard duel").
    require(graft.plans.PlanLint.binJoinFired(rewritten),
      s"$tag: RangeJoinRewrite did not fire on the naive plan " +
        s"(no join keyed on a __bin attribute):\n${rewritten.toString.take(2000)}")
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(s, rewritten)
  }

  /** The same point-in-interval attribution written the NAIVE way —
    * `points.join(intervals, p >= lo && p < hi)` — to prove the
    * RangeJoinRewrite optimizer tier end-to-end on real tables: given
    * the width at build time, the Catalyst rule rebuilds the
    * BroadcastNestedLoopJoin shape into the bucketed equi-join;
    * ExtensionsSpec pins THIS query's executed plan (bin equi-join, no
    * BNL). A different slice than q_range_join (every 5th signup, 2-hour
    * windows) so the two oracles are independent. */
  def qRangeRewrite(s: SparkSession, dir: String): DataFrame = {
    val twoHoursUs = 2L * 3600 * 1000000
    val ev = t(s, dir, "events")
    val intervals = ev.filter(col("event_type") === "signup" && col("event_id") % 5 === 0)
      .select(col("event_id").as("interval_id"),
        GraftSession.epochMicros(col("ts")).as("lo"),
        (GraftSession.epochMicros(col("ts")) + twoHoursUs).as("hi"))
    val points = ev.filter(col("event_type") === "click")
      .select(GraftSession.epochMicros(col("ts")).as("p"),
        cents(col("value")).as("click_cents"))
    val naive = points
      .join(intervals, col("p") >= col("lo") && col("p") < col("hi"))
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("click_cents")).as("sum_cents"))
    withBucketWidth(s, twoHoursUs, naive, "q_range_rewrite")
  }

  /** The naive range join as a REAL naive user writes it — directly on the
    * raw TimestampType `ts` column, `p_ts >= lo_ts && p_ts < hi_ts`, no
    * epoch conversion anywhere in the query text. Proves the
    * RangeJoinRewrite timestamp path end-to-end: the rule recognizes bare
    * timestamp attributes, threads epochMicros through the bin/bound
    * columns itself (µs-domain bucketWidth), and the DuckDB oracle
    * verifies values. A different slice than q_range_rewrite (every 3rd
    * signup, 3-hour windows) so the oracles are independent. */
  def qRangeRewriteTs(s: SparkSession, dir: String): DataFrame = {
    val threeHoursUs = 3L * 3600 * 1000000
    val ev = t(s, dir, "events")
    val intervals = ev.filter(col("event_type") === "signup" && col("event_id") % 3 === 0)
      .select(col("event_id").as("interval_id"), col("ts").as("lo_ts"),
        (col("ts") + expr("INTERVAL 3 HOURS")).as("hi_ts"))
    val points = ev.filter(col("event_type") === "click")
      .select(col("ts").as("p_ts"), cents(col("value")).as("click_cents"))
    val naive = points
      .join(intervals, col("p_ts") >= col("lo_ts") && col("p_ts") < col("hi_ts"))
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("click_cents")).as("sum_cents"))
    withBucketWidth(s, threeHoursUs, naive, "q_range_rewrite_ts")
  }

  /** Keyless interval-overlap join on the same bucketed path: 2-hour signup
    * sessions × 1-hour error windows, exactly-once pair emission via the
    * first-shared-bin guard, rolled up per session. */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val hourUs = 3600L * 1000000
    val a = ev.filter(col("event_type") === "signup" && col("event_id") % 11 === 0)
      .select(col("event_id").as("a_id"), GraftSession.epochMicros(col("ts")).as("a_lo"),
        (GraftSession.epochMicros(col("ts")) + 2 * hourUs).as("a_hi"))
    val b = ev.filter(col("event_type") === "error" && col("event_id") % 13 === 0)
      .select(col("event_id").as("b_id"), GraftSession.epochMicros(col("ts")).as("b_lo"),
        (GraftSession.epochMicros(col("ts")) + hourUs).as("b_hi"))
    Joins.intervalOverlapJoin(a, col("a_lo"), col("a_hi"),
        b, col("b_lo"), col("b_hi"), bucketWidth = 2 * hourUs)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_overlaps"), min(col("b_id")).as("first_b"))
  }

  /** The interval-overlap attribution written the NAIVE way — `a.join(b,
    * a_lo < b_hi && b_lo < a_hi)` — proving the rule's SECOND rewritable
    * form end-to-end on real tables, same build-time pattern as
    * q_range_rewrite (the rule given the width, the rewrite
    * require-checked, the returned frame carries the rewritten plan).
    * A different slice than q_interval_join (every 9th
    * signup × every 7th error) so the oracles are independent. */
  def qOverlapRewrite(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val ev = t(s, dir, "events")
    val a = ev.filter(col("event_type") === "signup" && col("event_id") % 9 === 0)
      .select(col("event_id").as("a_id"), GraftSession.epochMicros(col("ts")).as("a_lo"),
        (GraftSession.epochMicros(col("ts")) + 2 * hourUs).as("a_hi"))
    val b = ev.filter(col("event_type") === "error" && col("event_id") % 7 === 0)
      .select(col("event_id").as("b_id"), GraftSession.epochMicros(col("ts")).as("b_lo"),
        (GraftSession.epochMicros(col("ts")) + hourUs).as("b_hi"))
    val naive = a.join(b, col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_overlaps"), min(col("b_id")).as("first_b"))
    withBucketWidth(s, 2 * hourUs, naive, "q_overlap_rewrite")
  }

  /** Z-order (Morton) clustering key over (user_id, event_id mod 2^20) —
    * the sort key graft.sources.Layout.zorderWrite clusters files by; the
    * oracle replays the bit interleave with plain shift/mask SQL. */
  def qZorderKey(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"),
      graft.expressions.LayoutExpressions.mortonCode(
        col("user_id"), col("event_id") % 1048576, bits = 20).as("zval"))

  // ---------------------------------------------------------------- windowing

  def qWindowFixed(s: SparkSession, dir: String): DataFrame =
    Windows.aggregate(t(s, dir, "events"),
      Windows.WindowingStrategy(Windows.FixedWindows("1 hour")), col("ts"),
      Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_value_cents")))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value_cents"))

  /** Sliding windows via `window(ts, size, period)` — a size/period-fold
    * Expand per event, fused in codegen, which is the right plan when the
    * per-window computation is a simple fold over SINGLE events (count/sum:
    * partial aggregation absorbs the fan-out map-side). When the per-window
    * work involves RELATIONS between elements (consecutive pairs, joins of
    * neighbors), fan-out-first replicates wide payloads and repeats the
    * per-group walk once per covering window; the pair-attribution idiom —
    * reduce once globally, then attribute results to the ≤ size/period
    * covering windows via [[Windows.slidingWindowStartsCovering]] — is the
    * scale-safe alternative (see [[qTrafficRoutes]]; the two formulations
    * head-to-head: BASELINE.md round 9, "Pair-attribution micro-duel"). */
  def qWindowSliding(s: SparkSession, dir: String): DataFrame =
    Windows.aggregate(t(s, dir, "events"),
      Windows.WindowingStrategy(Windows.SlidingWindows("1 hour", "15 minutes")), col("ts"),
      Seq.empty,
      Seq(count(lit(1)).as("n")))
      .select(col("window.start").as("wstart"), col("n"))

  def qWindowSession(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))

  def qWindowCalendar(s: SparkSession, dir: String): DataFrame =
    Windows.aggregate(t(s, dir, "events"),
      Windows.WindowingStrategy(Windows.CalendarWindows("week")), col("ts"),
      Seq(col("event_type")), Seq(count(lit(1)).as("n")))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))

  /** WeeklyTeamScore: the HourlyTeamScore pipeline shape (reference:
    * examples .../game/HourlyTeamScore.java — window + per-team score sum)
    * on CalendarWindows.weeks(1, THURSDAY), over the events table
    * (event_type = team, value = score). */
  def qWeeklyTeamScore(s: SparkSession, dir: String): DataFrame =
    Windows.aggregate(t(s, dir, "events"),
      Windows.WindowingStrategy(Windows.CalendarWindows("week", 1, startDayOfWeek = 4)),
      col("ts"), Seq(col("event_type")),
      Seq(sum(cents(col("value"))).as("score_cents"), count(lit(1)).as("n")))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("score_cents"), col("n"))

  /** TopWikipediaSessions (reference: examples/complete/
    * TopWikipediaSessions.java:69 — the classic sessionization pipeline):
    * Sessions.withGapDuration per user → Count.perElement → re-window the
    * per-session counts into a calendar grid keyed by the session's END
    * (Beam's default END_OF_WINDOW output timestamp; the reference
    * computes "the longest session ending in each month") → Top.of(k)
    * by edit count. The reference's grid is months(1); the synthetic
    * events table spans one month, so the catalog query keys by DAY with
    * k=3 — identical composition and plan shape (session_window agg →
    * date_trunc → salted bounded top-k), a ~90-row oracle instead of a
    * 1-row one. Ties (Beam leaves Top comparator ties unspecified) are
    * pinned: smaller user_id, then earlier session_start. */
  def qTopSessions(s: SparkSession, dir: String): DataFrame = {
    val sessions = t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_edits"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_edits"))
    val daily = sessions.withColumn("sday", date_trunc("day", col("session_end")))
    Aggregates.topKPerKeySalted(daily, Seq(col("sday")),
        struct((-col("n_edits")).as("__neg"), col("user_id"),
          col("session_start"), col("session_end"), col("n_edits")),
        saltFrom = struct(col("user_id"), col("session_start")), k = 3)
      .select(col("sday"), col("item.user_id").as("user_id"),
        col("item.session_start").as("session_start"),
        col("item.session_end").as("session_end"),
        col("item.n_edits").as("n_edits"))
  }

  /** Multi-unit anchored calendar windows (reference CalendarWindows.java:56
    * weeks(n, startDayOfWeek)): Thursday-anchored fortnights. The epoch is
    * a Thursday, so the grid is the raw 14-day epoch-day grid — which is
    * exactly what the DuckDB oracle replays with integer arithmetic,
    * independent of any calendar/TZ library. */
  def qWindowWeekly(s: SparkSession, dir: String): DataFrame =
    Windows.aggregate(t(s, dir, "events"),
      Windows.WindowingStrategy(Windows.CalendarWindows("week", 2, startDayOfWeek = 4)),
      col("ts"), Seq(col("event_type")), Seq(count(lit(1)).as("n")))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("event_type"), col("n"))

  /** TfIdf (reference: examples/complete/TfIdf.java:195-370 — the classic
    * joining/side-input composition): `\W+`-split lowercased words →
    * tf(w,d) = count(w in d) / totalWords(d); df(w) = docsWith(w) /
    * totalDocs; score = tf · ln(1/df). Spark-first shape: ONE exploded
    * word frame feeds all three aggregates (Beam needs a CoGroupByKey
    * per join; here they are two shuffled joins Catalyst sizes itself,
    * with AQE free to broadcast the vocabulary-bounded df side); the
    * reference's totalDocuments side input is a scalar aggregate +
    * broadcast cross join (the repo-wide idiom, never a driver collect
    * of data rows). Output keeps the FULL computation but samples
    * doc_id % 50 == 0 rows so the oracle frame stays bounded; scores
    * round to 6 decimals (ln differs in the last ulp across engines). */
  def qTfIdf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val wc = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\W+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
    val docTotals = wc.groupBy(col("doc_id")).agg(sum(col("cnt")).as("total"))
    val docFreq = wc.groupBy(col("w")).agg(count(lit(1)).as("dwith"))
    val totalDocs = docs.agg(countDistinct(col("doc_id")).as("nd"))
    wc.join(docTotals, "doc_id").join(docFreq, "w")
      .crossJoin(broadcast(totalDocs))
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("w").as("word"),
        round((col("cnt") / col("total")) *
          log(col("nd").cast("double") / col("dwith")), 6).as("tfidf"))
  }

  /** AutoComplete (reference: examples/complete/AutoComplete.java:100-175,
    * ComputeTopFlat minPrefix=1): token counts → every prefix of every
    * token → top-3 candidates per prefix ordered by (count DESC, word
    * DESC) — Top.largestPerKey over CompletionCandidate.compareTo
    * (count, then value), ties to the LARGER string. The reference
    * needs withHotKeyFanout because 1-char prefixes concentrate the
    * whole vocabulary; [[Aggregates.topKPerKeySalted]] is that same
    * two-phase salted reduction (stage 1 ranks within (prefix, salt),
    * stage 2 merges ≤ fanout×k candidates per prefix), so short
    * prefixes never funnel into one task at 100 TB. Prefix explosion is
    * row-local (`transform(sequence(...))` inside codegen). */
  def qAutoComplete(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(explode(split(lower(col("text")), "\\W+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val prefixes = counts.select(
      explode(expr("transform(sequence(1, length(w)), i -> substring(w, 1, i))")).as("prefix"),
      col("w"), col("cnt"))
    Aggregates.topKPerKeySalted(prefixes, Seq(col("prefix")),
        struct(col("cnt"), col("w")), saltFrom = col("w"), k = 3,
        descending = true)
      .select(col("prefix"), col("item.w").as("word"), col("item.cnt").as("cnt"))
  }

  /** TrafficMaxLaneFlow (reference: examples/complete/
    * TrafficMaxLaneFlow.java:170-282): each sensor reading fans out into
    * per-lane tuples keyed by station (ExtractFlowInfoFn), SlidingWindows,
    * then a custom Combine.perKey (MaxFlow) that is an argmax RETAINING the
    * whole lane record — the reference uses a hand-written combiner exactly
    * because Max.perKey would drop the auxiliary fields. Spark-first shape:
    * the fan-out is a row-local explode over a codegen'd `sequence`, and the
    * argmax-with-payload is ONE `max(struct(flow, tiebreak..., payload))` in
    * a hash aggregate — map-side partial max means each of the 4 overlapping
    * sliding windows ships one candidate struct per (window, station) per
    * partition, never the raw readings. The reference's `flow >= max`
    * last-wins tie is iteration-order-dependent (unspecified); pinned here
    * to the total order (lane_flow, lane_idx, event_id) DESC. Lane flows are
    * synthesized deterministically from (event_id, lane) since the events
    * table has one value per reading, not eight.
    *
    * Plan note: the lane argmax runs ROW-LOCALLY (array_max over the 4 lane
    * structs inside each reading) BEFORE the 4× sliding-window fan-out — a
    * reading's lanes share its timestamp, so the per-(window, station) max
    * of per-reading maxima equals the max over all lane tuples, and the
    * window Expand plus the struct-ordering aggregate see 4× fewer rows
    * (1.9× wall at sf0.1; at scale the saving is the lane fan-out never
    * being materialized at all). */
  def qTrafficMaxLane(s: SparkSession, dir: String): DataFrame = {
    val readings = t(s, dir, "events")
      .select(col("ts"), (col("user_id") % 25).as("station"),
        array_max(expr("transform(sequence(1, 4), i -> " +
          "struct((event_id * i) % 997L as lane_flow, i as lane_idx, event_id))"))
          .as("m"))
    Windows.aggregate(readings,
        Windows.WindowingStrategy(Windows.SlidingWindows("1 hour", "15 minutes")),
        col("ts"), Seq(col("station")), Seq(max(col("m")).as("m")))
      .select(col("window.start").as("wstart"), col("station"),
        col("m.lane_flow").as("lane_max_flow"),
        concat(lit("lane"), col("m.lane_idx")).as("lane"),
        col("m.event_id").as("event_id"))
  }

  /** TrafficRoutes (reference: examples/complete/TrafficRoutes.java:215-254
    * GatherStats): readings keyed by route in SlidingWindows; within each
    * (window, route) the reference sorts by timestamp and walks a
    * per-station prevSpeeds map counting speedups (prev < cur) vs slowdowns
    * (prev >= cur), then emits the route's average speed and
    * `slowdownEvent = slowdowns >= 2 * speedups`. Spark-first shape: the
    * per-station walk runs ONCE per (route, station) — NOT once per
    * overlapping window — as a `lag` window over the (tsu, event_id,
    * speed)-ordered station sequence (one hash shuffle + an external
    * within-partition sort, both spill-safe); each consecutive pair is
    * then attributed to the ≤ 4 sliding windows covering both endpoints
    * ([[Windows.slidingWindowStartsCovering]], exact integer grid bins).
    * Exact because a window's per-station sequence is a contiguous slice
    * of the global (tsu, event_id, speed)-sorted sequence, so
    * window-consecutive ⟺ globally-consecutive with both endpoints inside
    * the window. The avg-speed side is a separate windowed sum/count over
    * narrow (route, speed) rows; the two small (window, route) aggregates
    * join at the end (left, zero-filled: a window whose stations each have
    * one reading has pairs=0 but still reports its average). vs the
    * fan-out-first formulation this ships each reading once with payload
    * instead of 4×, and walks each station's sequence once instead of 4×
    * — 2.3× wall at sf0.1. An earlier formulation materialized each
    * station's full history via sort_array(collect_list(...)): semantically
    * identical, but partial collect_list buffers every map task's whole
    * input partition as JVM objects (ObjectHashAggregate never falls back
    * to sort-based at ~100 groups), a corpus-sized heap spike that tipped
    * the r17 sf30 full sweep over at the default 8g heap — the WindowExec
    * formulation streams each group through a spillable row buffer
    * instead. Both shuffles key on their full grouping set, so no route
    * or station funnels through one task. route = event_type, station =
    * user_id % 20, speed = value-cents (exact integers; the avg divides
    * once at the end). */
  def qTrafficRoutes(s: SparkSession, dir: String): DataFrame = {
    val readings = t(s, dir, "events").select(col("ts"),
      col("event_type").as("route"), (col("user_id") % 20).as("station"),
      col("event_id"), cents(col("value")).as("speed"))
    val avgSide = Windows.aggregate(
        readings.select(col("ts"), col("route"), col("speed")),
        Windows.WindowingStrategy(Windows.SlidingWindows("1 hour", "15 minutes")),
        col("ts"), Seq(col("route")),
        Seq(sum(col("speed")).as("ss"), count(lit(1)).as("sc")))
    val seqWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("route"), col("station"))
      .orderBy(col("tsu"), col("event_id"), col("speed"))
    val pairs = readings
      .select(col("route"), col("station"), col("ts").as("tsu"),
        col("event_id"), col("speed"))
      .select(col("route"), col("tsu"), col("speed"),
        lag(col("tsu"), 1).over(seqWin).as("prev_tsu"),
        lag(col("speed"), 1).over(seqWin).as("prev_speed"))
      .filter(col("prev_tsu").isNotNull)
      .select(col("route"),
        when(col("speed") > col("prev_speed"), 1L).otherwise(0L).as("up"),
        explode(Windows.slidingWindowStartsCovering(col("prev_tsu"),
          col("tsu"), "1 hour", "15 minutes")).as("wstart"))
    val pairAgg = pairs.groupBy(col("wstart"), col("route"))
      .agg(sum(col("up")).as("speedups"),
        (count(lit(1)) - sum(col("up"))).as("slowdowns"))
    avgSide
      .select(col("window.start").as("wstart"), col("route"),
        col("ss"), col("sc"))
      .join(pairAgg, Seq("wstart", "route"), "left")
      .select(col("wstart"), col("route"),
        round(col("ss") / col("sc").cast("double"), 6).as("avg_speed"),
        coalesce(col("speedups"), lit(0L)).as("speedups"),
        coalesce(col("slowdowns"), lit(0L)).as("slowdowns"),
        (coalesce(col("slowdowns"), lit(0L)) >=
          lit(2) * coalesce(col("speedups"), lit(0L))).as("slowdown_event"))
  }

  /** WindowedWordCount (reference: examples/WindowedWordCount.java:90-221):
    * the last of the four word-count examples — lines get an event time in a
    * bounded range (AddTimestampFn :100-122 draws it randomly over 2 hours;
    * here it is a deterministic hash of doc_id over the same 2-hour span so
    * the oracle can replay it exactly), `Window.into(FixedWindows)` (:195-198,
    * 10-minute windows), then the reused CountWords transform over the
    * windowed collection (:204) — counts become per (window, word). The
    * companion sink contract — one output file per window, name derived from
    * the window bounds (common/WriteOneFilePerWindow.java) — is
    * [[graft.sources.IO.writeOneFilePerWindow]], asserted batch + streaming
    * in WindowedSinkSpec; this query pins the windowed-count semantics.
    * Plan: explode fuses with the scan in codegen; partial count absorbs the
    * word fan-out map-side, so the single shuffle carries (window, word)
    * partials — the same shape as q_flatmap_wc with a window key. */
  def qWindowedWc(s: SparkSession, dir: String): DataFrame = {
    val base = lit("2026-01-01 00:00:00").cast("timestamp")
    val lines = t(s, dir, "documents").select(
      timestamp_micros(unix_micros(base)
        + (col("doc_id") * 7919 % 7200) * 1000000L).as("ts"),
      col("text"))
    val words = lines
      .select(col("ts"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) > 0)
    Windows.aggregate(words,
        Windows.WindowingStrategy(Windows.FixedWindows("10 minutes")),
        col("ts"), Seq(col("word")), Seq(count(lit(1)).as("n")))
      .select(col("window.start").as("wstart"), col("word"), col("n"))
  }

  // ------------------------------------------------------- cookbook examples

  /** BigQueryTornadoes (reference: examples/cookbook/BigQueryTornadoes
    * .java:72-121 ExtractTornadoesFn + Count.perElement + FormatCountsFn):
    * filter rows where an indicator fires, count per calendar period.
    * Mapping: tornado → event_type = 'error'; the testdata spans one month,
    * so the period key is day-of-month (same filter→count-per-key shape,
    * real key cardinality). Partial count absorbs the fan-in map-side —
    * one shuffle of ≤31 rows regardless of input size. */
  def qTornadoes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type") === "error")
      .groupBy(dayofmonth(col("ts")).as("day"))
      .agg(count(lit(1)).as("tornado_count"))

  /** CombinePerKeyExamples (reference: examples/cookbook/
    * CombinePerKeyExamples.java:77-130 ExtractLargeWordsFn + Combine.perKey
    * (ConcatWords)): words of length >= 6 → the comma-joined list of works
    * they appear in. The reference's ConcatWords joins in arrival order
    * (nondeterministic under parallel merge); this port joins the SORTED
    * DISTINCT sources so the result is oracle-comparable — collect_set is
    * the associative/commutative accumulator ConcatWords should have been.
    * Set size is bounded by |sources| (20 here; plays in the reference),
    * not by corpus size, so per-key state stays small at 100 TB. */
  def qLargeWordPlays(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      // MIN_WORD_LENGTH scaled 9 -> 6: the synthetic corpus tops out at
      // 8-letter words, and a 0-row oracle match would prove nothing
      .filter(length(col("word")) >= 6)
      .groupBy(col("word"))
      .agg(array_join(sort_array(collect_set(col("source"))), ",").as("all_plays"))

  /** DistinctExample (reference: examples/cookbook/DistinctExample.java:
    * 84-95: TextIO lines → Distinct.create): distinct document texts —
    * hash-shuffle on the full line, the same plan Distinct lowers to. */
  def qDistinctLines(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("text")).distinct()

  /** FilterExamples (reference: examples/cookbook/FilterExamples.java:
    * 104-185 ProjectionFn + FilterSingleMonthDataFn + BelowGlobalMean with
    * Mean.globally as a singleton side input): project (year, month, day,
    * temp), keep one calendar period, keep readings below the global mean.
    * The global mean is computed as exact long cents sum / count — two
    * exact integers whose double quotient is bit-identical in Spark and
    * DuckDB, so the boundary filter can't flip on float summation order
    * (avg(double) is order-dependent). The scalar joins in as a broadcast
    * (the View.asSingleton pattern); day 7 stands in for MONTH_TO_FILTER
    * since the testdata spans a single month. */
  def qFilterBelowMean(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val stats = ev.agg(sum(cents(col("value"))).as("sc"), count(lit(1)).as("n"))
    ev.filter(dayofmonth(col("ts")) === 7)
      .crossJoin(broadcast(stats))
      .filter(cents(col("value")).cast("double") <
        col("sc").cast("double") / col("n").cast("double"))
      .select(year(col("ts")).as("year"), month(col("ts")).as("month"),
        dayofmonth(col("ts")).as("day"), cents(col("value")).as("mean_temp_cents"))
  }

  /** JoinExamples (reference: examples/cookbook/JoinExamples.java:69-121
    * joinEvents: CoGroupByKey over event info + country names, one output
    * line per event with getOnly(countryInfo)): customers (many per
    * nation) joined to nations (exactly one name per key) and formatted to
    * the reference's output string. The one-row-per-key side is a dim
    * table → broadcast hash join, no shuffle of the fact side. */
  def qJoinExamples(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "customer")
      .select(col("c_nationkey").as("code"), col("c_name").as("event_info"))
    val countries = t(s, dir, "nation")
      .select(col("n_nationkey").as("code"), col("n_name").as("country"))
    events.join(broadcast(countries), Seq("code"))
      .select(concat(lit("Country code: "), col("code"),
        lit(", Country name: "), col("country"),
        lit(", Event info: "), col("event_info")).as("result"))
  }

  /** MaxPerKeyExamples (reference: examples/cookbook/MaxPerKeyExamples
    * .java:72-125 ExtractTempFn + Max.doublesPerKey): max reading per
    * calendar period (day-of-month — the testdata spans one month). Max of
    * doubles is order-independent, so the oracle hash can't drift. */
  def qMaxPerDay(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(dayofmonth(col("ts")).as("day"))
      .agg(max(col("value")).as("max_mean_temp"))

  // ---------------------------------------------------------------- LLM-pipeline ops

  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** Incremental exact dedup: docs with doc_id < 400 play the existing
    * corpus (its digest store built once via [[Dedup.exact]]); docs >= 400
    * are the new increment, each getting a keep/dup verdict against corpus
    * AND batch without the corpus text ever being rescanned. */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val store = Dedup.exact(docs.filter(col("doc_id") < 400), col("text"), col("doc_id"))
      .select(col("content_hash"), col("rep_id").as("corpus_rep"))
    Dedup.exactIncremental(docs.filter(col("doc_id") >= 400),
      col("text"), col("doc_id"), store)
  }

  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashCandidates(t(s, dir, "documents"), col("text"), col("doc_id"),
        shingleN = 3, bands = 4)
      .select(col("band"), col("minhash"),
        array_join(transform(col("bucket_ids"), x => x.cast("string")), ",").as("ids"),
        col("bucket_size"))

  /** SimHash with its locality property as the oracle-checkable output: for
    * every verified near-dup pair (bigram Jaccard ≥ 0.8 over ≥10 surviving
    * shingles each — a pair set DuckDB computes exactly), the 64-bit
    * fingerprints must be within Hamming distance 24. The bound is the
    * binomial tail, not a vibe: H ~ Binomial(64, θ/π) with cos θ =
    * |A∩B|/√(|A||B|) ≥ 2J/(1+J) = 0.889 at the J = 0.8 admission floor
    * (balanced sets minimize cos at fixed J), so p ≤ 0.152, E[H] ≤ 9.7,
    * σ ≤ 2.9 — 24 is mean + 5σ (per-pair violation ~3e-7; expected-clean
    * through million-pair corpora) while the random-pair baseline is 32.
    * The previous bound of 16 was measured off the copy-suffix fixture's
    * J ≈ 0.95 pairs and sat at mean + 2.5σ for honest J ≈ 0.8-0.85 pairs —
    * the scale-honest sf1 corpus (12.6k verified pairs, planted quads at
    * J ≈ 0.85) promptly produced the expected tail violations. The
    * minShingles=10 floor matters: the stop-shingle cap can strip a doc to
    * 2-3 rare shingles, and jaccard=1.0 on that residue pairs unrelated
    * docs whose full fingerprints rightly disagree. The fingerprints
    * themselves are xxhash64-seeded (no DuckDB equivalent) — their exact
    * values are covered in DedupSimilaritySpec. */
  def qSimHash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = Dedup.simHash(docs, col("text"), col("doc_id"))
    val pairs = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      shingleN = 2, threshold = 0.8, maxShingleFreq = 200, minShingles = 10,
      partitions = Dedup.verifyPartitionsFor(s, tableCount(s, dir, "documents")))
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("simhash").as("__ha")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("simhash").as("__hb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= 24).as("hamming_close"))
  }

  def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    // threshold 0.8 = the operator's intended near-dup regime; the synthetic
    // corpus contains engineered near-dups that land above it (sf0.01: 25
    // pairs). A near-zero threshold would emit ~all pairs — quadratic output.
    // maxShingleFreq=200: the synthetic corpus has a ~900-bigram vocabulary
    // where filler shingles appear in 200-340 docs at sf0.1 — admitting them
    // makes the candidate join quadratic (73M pair-rows at sf0.1 vs 2.4k
    // capped) while contributing nothing to near-dup discrimination. The
    // absolute document-frequency cutoff is the standard stop-shingle
    // treatment and holds at any corpus size.
    // the shingle exchange is POPULATION-SIZED (verifyPartitionsFor: one
    // partition per 12.5k docs once past the session width) so per-task
    // sort state stays flat across the SF ladder — see the r17 sf30 note
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("text"), col("doc_id"),
        shingleN = 2, threshold = 0.8, maxShingleFreq = 200,
        partitions = Dedup.verifyPartitionsFor(s, tableCount(s, dir, "documents")))
      .withColumn("jaccard", round(col("jaccard"), 6))

  def qEmbedCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Similarity.cosineTopK(embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 5)
  }

  /** Quantized brute-force ANN (Similarity.cosineTopKQuantized): scores
    * come from the int8 store via quantizedDot — every term before the
    * scale multiplications is an exact integer, so the DuckDB oracle
    * replays the whole quantize→score→top-k pipeline bit-for-bit. */
  def qQuantAnn(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Similarity.cosineTopKQuantized(embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 5)
  }

  def qLshAnn(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Similarity.lshTopK(embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 5, planes = 6)
  }

  /** BM25 lexical retrieval: top-10 docs for a mixed-selectivity query —
    * two stopword-grade terms plus the discriminative "dup" (df 25 at
    * sf0.01) — fully replayed by DuckDB (9-dp idf literals, exact avgdl). */
  def qBm25(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(t(s, dir, "documents"), col("text"), col("doc_id"),
      queryTerms = Seq("join", "filter", "dup"), k = 10)

  /** Batch BM25 (the production contamination-check shape): three queries
    * of mixed selectivity scored against the corpus in one pass, top-5
    * each, bounded-heap per-query reduction — full DuckDB replay. */
  def qBm25Batch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (0L, Seq("join", "filter", "dup")),
      (1L, Seq("hash", "scan")),
      (2L, Seq("customer", "slow", "batch"))).toDF("query_id", "terms")
    Retrieval.bm25TopKBatch(t(s, dir, "documents"), col("text"), col("doc_id"),
      queries, col("query_id"), col("terms"), k = 5)
  }

  /** Hybrid retrieval: BM25 top-10 (lexical) fused with brute-force cosine
    * top-10 (embedding; doc_id ⟷ vec_id, the documents table's embedding
    * sibling) by reciprocal-rank fusion, top-5 fused per query — the
    * two-tower retrieval shape every RAG/hard-negative-mining pipeline
    * runs. Both side rankings carry the (score DESC, id ASC) tiebreak and
    * 6-dp rounded scores, so DuckDB replays ranks, fusion, and the final
    * cut exactly. */
  def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (0L, Seq("join", "filter", "dup")),
      (1L, Seq("hash", "scan")),
      (2L, Seq("customer", "slow", "batch"))).toDF("query_id", "terms")
    val lexical = Retrieval.bm25TopKBatch(t(s, dir, "documents"),
      col("text"), col("doc_id"), queries, col("query_id"), col("terms"), k = 10)
    val embs = t(s, dir, "embeddings")
    val semantic = Similarity.cosineTopK(embs, col("vec_id"), col("embedding"),
        embs.filter(col("vec_id") < 3), col("vec_id"), col("embedding"), k = 10)
      .withColumnRenamed("corpus_id", "doc_id")
    Retrieval.rrfFuse(Seq(lexical, semantic), k = 5)
  }

  /** Sub-document duplication (Lee et al. exact-substring style): per doc,
    * the fraction of its distinct 8-token spans that also occur verbatim in
    * another doc — a verdict column per doc, full DuckDB replay. */
  def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDuplication(t(s, dir, "documents"), col("text"), col("doc_id"), n = 8)

  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    // candidate pairs from verified n-gram jaccard (same config as
    // q_ngram_jaccard) → connected components → (doc_id, cluster_id)
    Dedup.nearDupClusters(
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("text"), col("doc_id"),
        shingleN = 2, threshold = 0.8, maxShingleFreq = 200,
        partitions = Dedup.verifyPartitionsFor(s, tableCount(s, dir, "documents"))),
      col("id_a"), col("id_b"))

  def qIvfAnn(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Similarity.ivfTopK(embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 5, nlist = 16, nprobe = 4)
  }

  /** Product-quantization ANN over the embeddings table (lloydIters=0 —
    * the md5-seeded oracle-replayable codebooks; 8 subspaces × 16
    * codewords = 8 bytes per stored vector, 32× under float). Top-5 per
    * query by asymmetric distance: the corpus side is scored from its
    * codes alone, the scan never touches the original vectors — the
    * billion-vector memory path. DuckDB replays codebook sampling, the
    * rounded per-subspace argmin encode, and the table-lookup scoring
    * step for step. */
  def qPqAnn(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Similarity.pqTopK(embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 5, m = 8, ksub = 16)
  }

  /** SemDeDup over the embeddings table: md5-seeded clusters (lloydIters=0
    * — the oracle-replayable path), within-cluster near-dup marking with
    * the min-id-representative policy. Threshold 0.3 = this fixture's
    * near-dup regime (near-orthogonal synthetic vectors, see
    * [[qEmbedNearDup]]); 150 of 500 rows get a dup_of verdict. */
  /** Cluster count is OCCUPANCY-DERIVED (the r13 q_semdedup_incr lesson,
    * applied to the batch variant after the r14 sf10 bench caught it
    * frozen at nlist=16: within-cell pairs grow as N²/k, 251 s at 200k
    * vectors): nlistFor(count, 125) keeps sf0.1 at exactly the previous
    * k=16 and scales to k=1600 at sf10 — within-cell comparisons stay
    * linear in N. The oracle derives the same k from count(*). */
  /** r15: the cluster count is now the BALANCED derivation
    * ([[Similarity.nlistBalancedFor]] — occupancy rule capped at the
    * integer power-of-two √n): the r15 sf30 probe caught the occupancy
    * rule's n·k centroid-assignment term quadratic (290 s at 600k
    * vectors). Identical k at all driver SFs and sf1; the oracle's kv CTE
    * derives the same min(occupancy, pow2-sqrt). */
  def qSemDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
      nlist = Similarity.nlistBalancedFor(tableCount(s, dir, "embeddings"), 125L),
      threshold = 0.3)

  def qEmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    // The synthetic embeddings are near-orthogonal random vectors (max
    // pairwise cosine ≈ 0.51 at sf0.01), so the "near-dup" regime for this
    // fixture is ≥0.3. Planes are OCCUPANCY-DERIVED (r14 sf10 ladder:
    // frozen planes=6 means within-bucket pairs grow as N²/64 — 25.8 s at
    // 200k vectors, superlinear past sf3): the smallest p in [6, 24] with
    // 2^p buckets ≥ n/32 keeps expected occupancy ≤ 32. PURE INTEGER
    // derivation so the DuckDB kv CTE lands on the identical p at every
    // scale (a float log2 could differ by one at exact powers of two);
    // the plane matrix is prefix-stable, so p=6 (all driver SFs) is
    // bit-identical to the previous fixed-plane query. Production
    // near-dup would use threshold ≥0.9 with multi-table probing
    // (lshTopKAuto); the floor of 6 preserves this fixture's recall demo.
    val embs = t(s, dir, "embeddings")
    val n = tableCount(s, dir, "embeddings")
    val planes = (6 to 24).find(p => (1L << p) * 32 >= n).getOrElse(24)
    Dedup.embeddingNearDup(embs, col("vec_id"), col("embedding"),
      planes = planes, threshold = 0.3)
      .withColumn("cos", round(col("cos"), 6))
  }

  def qTextQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFeatures(t(s, dir, "documents"), col("text"), col("doc_id"))

  def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("pred_lang"))

  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("ws_tokens"),
      TextAnalysis.tokenCountApprox(col("text")).as("approx_tokens"))

  /** Real BPE token counting (Bpe.tokenCount, the greedy merge loop) as a
    * CONTRACT query: the merge loop is not SQL-expressible, so the oracle
    * replays what IS deterministic and engine-neutral — n_docs, and the
    * global lower/upper token-count bounds (pretoken run count ≤ bpe ≤
    * non-whitespace char count, since merges only ever shrink a pretoken
    * and never cross one) — and pins the Spark-checked sandwich plus the
    * "merges actually fired" strictness booleans. Exact merge arithmetic
    * is law-tested in TextMultimodalSpec against hand-computed
    * tokenizations. */
  def qBpeCount(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val perDoc = Bpe.tokenCount(docs, col("text"), col("doc_id"))
      .join(docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0))).as("lo"),
        length(regexp_replace(col("text"), "\\s+", "")).as("hi")), "doc_id")
    perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("lo")).as("sum_lower"),
      sum(col("hi")).as("sum_upper"),
      bool_and(col("bpe_tokens") >= col("lo") && col("bpe_tokens") <= col("hi"))
        .as("bpe_within_bounds"),
      (sum(col("bpe_tokens")) < sum(col("hi"))).as("merges_fired"))
  }

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  def qMultimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImages(s,
      Multimodal.asMedia(t(s, dir, "documents"), col("doc_id"), col("text"), "image"))

  /** Audio-decode plumbing over the fixture corpus: text payloads are never
    * parseable audio, so every row exercises the deterministic fallback
    * header — fully replayed by DuckDB (md5-derived rate/channels, NULL pcm
    * stats). The REAL `javax.sound.sampled` path is pinned by
    * TextMultimodalSpec's in-test WAV round-trip. */
  def qMultimodalAudio(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudio(s,
      Multimodal.asMedia(t(s, dir, "documents"), col("doc_id"), col("text"), "audio"))

  /** Golden 8×8 MJPEG frame (fixed bytes, JDK-decodable JPEG): planting it
    * in q_mm_frames makes the REAL AVI→frames→ImageIO path oracle-gated —
    * frame sizes and decoded dims are fixed by this fixture, so DuckDB can
    * assert them as constants while Spark genuinely parses the container
    * and decodes the pixels. */
  val goldenJpeg: Array[Byte] =
    ("ffd8ffe000104a46494600010200000100010000ffdb004300080606070605080707070909080a0c140d0c0b0b0c1912130f" +
     "141d1a1f1e1d1a1c1c20242e2720222c231c1c2837292c30313434341f27393d38323c2e333432ffdb0043010909090c0b0c" +
     "180d0d1832211c21323232323232323232323232323232323232323232323232323232323232323232323232323232323232" +
     "3232323232323232ffc00011080008000803012200021101031101ffc4001f00000105010101010101000000000000000001" +
     "02030405060708090a0bffc400b5100002010303020403050504040000017d01020300041105122131410613516107227114" +
     "328191a1082342b1c11552d1f02433627282090a161718191a25262728292a3435363738393a434445464748494a53545556" +
     "5758595a636465666768696a737475767778797a838485868788898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5" +
     "b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9faffc4001f010003" +
     "0101010101010101010000000000000102030405060708090a0bffc400b51100020102040403040705040400010277000102" +
     "031104052131061241510761711322328108144291a1b1c109233352f0156272d10a162434e125f11718191a262728292a35" +
     "363738393a434445464748494a535455565758595a636465666768696a737475767778797a82838485868788898a92939495" +
     "969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae2e3e4e5e6e7e8e9ea" +
     "f2f3f4f5f6f7f8f9faffda000c03010002110311003f00cff0e7803ee7ee7f4a28a29d2a92e52f24ce317f548fbc7fffd9")
      .sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Frame sampling over the documents corpus (stub 256-byte blocks, NULL
    * dims) UNIONed with one planted golden MJPEG AVI (media_id = −1): three
    * golden frames, everyK=2 samples frames 0 and 2, and the oracle pins
    * their exact byte length and ImageIO-decoded 8×8 dims as constants. */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Multimodal.asMedia(
      t(s, dir, "documents"), col("doc_id"), col("text"), "video")
    val avi = Multimodal.VideoCodec.buildMjpegAvi(
      Seq(goldenJpeg, goldenJpeg, goldenJpeg), width = 8, height = 8)
    val planted = Multimodal.asMedia(
      Seq((-1L, avi)).toDF("id", "payload"), col("id"), col("payload"), "video")
    Multimodal.sampleFrames(s, docs.unionByName(planted), everyK = 2)
      .select(col("media_id"), col("frame_idx"),
        length(col("frame")).as("frame_bytes"), col("frame_w"), col("frame_h"))
  }

  def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(s,
      Multimodal.asMedia(t(s, dir, "documents"), col("doc_id"), col("text"), "image"))
      .select(col("media_id"),
        round(aggregate(col("features"), lit(0.0), (a, x) => a + x.cast("double")), 4).as("feat_l1"),
        size(col("features")).as("dim"))

  /** ParseJsons/AsJsons (jackson extension): parse the JSON `props`
    * payload to a typed struct, aggregate a parsed field, and count
    * distinct re-serialized payloads — both directions exercised in one
    * DuckDB-replayable query. Both sides are null-safe so the oracle
    * equivalence survives fixture changes: malformed JSON / absent `k`
    * parse to null (PERMISSIVE) and are excluded from both aggregates on
    * both engines (the oracle guards with json_valid; replay is exact for
    * integer-or-absent `k` — type-coercion edge cases differ by engine
    * and are covered in ElementWiseSpec instead). */
  def qJsonParse(s: SparkSession, dir: String): DataFrame = {
    import ElementWise.JsonOps
    val parsed = t(s, dir, "events").select(col("event_type"),
      JsonOps.parseJsons(col("props"), "k INT").as("p"))
    parsed.groupBy(col("event_type")).agg(
      sum(col("p.k")).as("sum_k"),
      countDistinct(when(col("p.k").isNotNull, JsonOps.asJsons(col("p"))))
        .as("distinct_payloads"))
  }

  // ---------------------------------------------------------------- curation

  /** Per-stratum exact-size sampling (Curation.stratifiedFixedSize) gated
    * by its contract: every language stratum yields exactly
    * min(n, |stratum|) distinct doc ids drawn from that stratum (the
    * reservoir's hash priorities are engine-specific, so — as with
    * qReservoir — the oracle pins the size/distinctness/membership
    * contract; value-level determinism is proven in CurationSpec). */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sample = Curation.stratifiedFixedSize(
      docs, Seq(col("lang")), col("doc_id"), n = 100, seed = 7L)
    val joined = sample.join(
      docs.select(col("lang"), col("doc_id").as("sample_id"), lit(1).as("__m")),
      Seq("lang", "sample_id"), "left")
    joined.groupBy(col("lang")).agg(
      count(lit(1)).as("n_sampled"),
      (countDistinct(col("sample_id")) === count(lit(1))).as("distinct_ok"),
      (sum(when(col("__m").isNull, 1).otherwise(0)) === 0).as("members_ok"))
  }

  /** Char-trigram LM scoring (TextAnalysis.lmTrigramScore): the DuckDB
    * oracle replays the whole self-trained model — same trigram grid,
    * same relative frequencies, ln-probability averages rounded to 6dp
    * (ln is ±1 ulp across engines; the per-doc average is ~1e-15 relative
    * noise, far below the rounding grain).
    *
    * The model vocabulary is POPULATION-CAPPED ([[TextAnalysis
    * .maxVocabFor]] over the document count — the r14 sf10 ladder's only
    * superlinear drift was this broadcast model's build cost): the oracle
    * derives the identical cap from count(*) and replays the top-N
    * selection + OOV floor, so the derivation sits inside the
    * engine-vs-oracle differential like nlistFor. At driver SFs the cap
    * (≥4096) exceeds the actual trigram vocabulary (~400 rows), so kept
    * values are identical to the uncapped model. */
  def qLmScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmTrigramScore(t(s, dir, "documents"), col("doc_id"), col("text"),
      maxVocab = TextAnalysis.maxVocabFor(tableCount(s, dir, "documents")))

  /** Context-window chunking (TextAnalysis.chunkTokens): 32-token chunks
    * advancing by 24 (8-token overlap); pure integer index arithmetic, so
    * the DuckDB oracle replays every chunk boundary and chunk text
    * exactly. */
  def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(t(s, dir, "documents"), col("doc_id"), col("text"),
      chunkSize = 32, overlap = 8)

  /** Int8 embedding quantization (Similarity.quantizeInt8): the DuckDB
    * oracle replays the whole quantization (engine-neutral floor(x+0.5)
    * arithmetic over float-widened doubles) and pins per-vector checksums;
    * the reconstruction bound |dequant − orig| ≤ scale/2 is emitted as a
    * contract boolean. */
  def qEmbedQuant(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val q = embs.select(col("vec_id"), col("embedding"),
      Similarity.quantizeInt8(col("embedding")).as("__q"))
    q.select(col("vec_id"),
      // the kernel's qsum field IS the byte sum — recomputing it with an
      // interpreted HOF would re-add the per-element overhead the native
      // expression removed; DuckDB recomputes independently on its side
      col("__q.qsum").as("q_sum"),
      array_min(col("__q.q")).cast("int").as("q_min"),
      array_max(col("__q.q")).cast("int").as("q_max"),
      size(col("__q.q")).as("dims"),
      (aggregate(
        zip_with(Similarity.dequantizeInt8(col("__q")), col("embedding"),
          (a, b) => abs(a - b.cast("double"))),
        lit(0.0), (m, d) => greatest(m, d))
        <= col("__q.scale") * lit(0.5) + lit(1e-9)).as("recon_ok"))
  }

  /** Weighted sampling (Curation.weightedSample, Efraimidis–Spirakis)
    * gated by its contract: exactly n distinct member docs, and the
    * sample's mean token count exceeds the corpus mean — the observable
    * footprint of token-share-proportional inclusion (ln() priorities are
    * engine-varying, so no value replay; value-level determinism and the
    * heavy-item preference law are proven in CurationSpec). */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("w"))
    // corpus mean rides as a broadcast 1-row frame, NOT a blocking
    // collect(): one action instead of two sequential jobs with a driver
    // round-trip between them (the q_train_sequences treatment — guide
    // §1.2 / §5 "the driver should do almost no data work"). avg(int) is
    // exact long-sum/count in Spark, so the value is identical to the
    // collected scalar under any plan.
    val corpusAvg = docs.agg(avg(col("w")).as("__ca"))
    val sample = Curation.weightedSample(docs, col("doc_id"), col("w"), 50, seed = 7L)
    sample.join(docs.select(col("doc_id"), lit(1).as("__m")), Seq("doc_id"), "left")
      .crossJoin(broadcast(corpusAvg))
      .agg(
        count(lit(1)).as("n_sampled"),
        (countDistinct(col("doc_id")) === count(lit(1))).as("distinct_ok"),
        (sum(when(col("__m").isNull, 1).otherwise(0)) === 0).as("members_ok"),
        (avg(col("w")) > min(col("__ca"))).as("weight_biased"))
  }

  /** The capstone training-data pipeline — quality gate → exact dedup →
    * per-language mixture thinning → sequence packing — composed from the
    * library's own ops, the workflow a user of the reference would run to
    * prep a pretraining corpus. The deterministic stages are replayed
    * EXACTLY by the DuckDB oracle (per-language candidate and
    * post-dedup-survivor counts: same quality predicate, same
    * min-doc-id-per-md5 dedup); the hash-seeded stages are gated by their
    * contracts (thinning rate in a 5σ band, exact for fraction-1.0
    * strata; packing coverage + caps + greedy tightness). */
  def qCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val fractions = Map("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0,
      "zh" -> 1.0)
    val cap = 512L
    // 1. quality gate (deterministic, shared 6dp-rounded formulas).
    // r18: project EARLY (guide §2.3) — everything downstream needs only
    // (doc_id, lang, __nt) plus the dedup hash, so the text column (and
    // the regex-heavy punct gate that reads it) is evaluated exactly once
    // and never materialized: the old shape recomputed `kept` — including
    // punctRatio's regex — for each of its three consumers and
    // checkpointed corpus-sized TEXT in `survivors`.
    val kept = docs
      .withColumn("__nt", TextAnalysis.tokenCountWs(col("text")))
      .withColumn("__pr", TextAnalysis.punctRatio(col("text")))
      .filter(col("__nt") >= 20 && col("__pr") <= lit(0.1))
      .select(col("doc_id"), col("lang"), col("__nt"), md5(col("text")).as("__h"))
      .localCheckpoint(false)
    // 2. exact dedup: the min doc id represents each content hash
    val reps = kept.groupBy(col("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // narrow now (16-byte rows) — cheap to materialize for its three
    // consumers (counts, thinning, packing)
    val survivors = kept.join(reps, Seq("doc_id"), "left_semi").localCheckpoint(false)
    // 3. mixture thinning  4. packing
    val mixed = Curation.stratifiedFractions(
      survivors, col("lang"), col("doc_id"), fractions, seed = 13L)
    val packed = Curation.packTokens(mixed, col("doc_id"), col("__nt"),
      capacity = cap, numGroups = 4, seed = 13L).localCheckpoint(false)
    // per-language exact counts (oracle replays these values)
    val cand = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_candidates"))
    val ded = survivors.groupBy(col("lang")).agg(count(lit(1)).as("n_dedup"))
    // thinning contract per language (exact for the 1.0 strata)
    val f = fractions.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col("lang") === lit(k), lit(v)).otherwise(acc)
    }
    val mixedCounts = mixed.groupBy(col("lang")).agg(count(lit(1)).as("__kept"))
    val n = col("n_dedup").cast("double")
    val kc = coalesce(col("__kept"), lit(0L)).cast("double")
    val tol = when(f === 0.0 || f === 1.0, lit(0.0))
      .otherwise(lit(5.0) * sqrt(f * (lit(1.0) - f) / n) + lit(2.0) / n)
    // packing contract, global (group ids are engine-specific)
    val binStats = packed.groupBy(col("group"), col("bin")).agg(
      sum(col("tok")).as("__bt"), count(lit(1)).as("__bd"))
    val packOk = binStats
      .agg((sum(when(col("__bt") > cap && col("__bd") > 1, 1).otherwise(0)) === 0).as("__capok"),
        sum(col("__bd")).as("__packed"))
      .crossJoin(mixed.agg(count(lit(1)).as("__mixed")))
      .select((col("__capok") && col("__packed") === col("__mixed")).as("pack_ok"))
    cand.join(ded, Seq("lang"))
      .join(mixedCounts, Seq("lang"), "left")
      .crossJoin(broadcast(packOk))
      .select(col("lang"), col("n_candidates"), col("n_dedup"),
        (abs(kc / n - f) <= tol).as("rate_ok"), col("pack_ok"))
  }

  /** Sequence packing (Curation.packTokens) gated by its contract, which
    * pins the GREEDY semantics, not just validity: (a) every document
    * lands in exactly one bin; (b) no multi-doc bin exceeds the token
    * capacity (oversize docs are singletons); (c) bins are tight — each
    * bin plus the first document of the next bin in its group would
    * overflow, and bin ids are dense from 0 — so a trivial
    * one-doc-per-bin assignment fails the oracle. Group ids are hash
    * values (engine-specific), so per-group doc counts are checked
    * globally rather than replayed. */
  def qPackTokens(s: SparkSession, dir: String): DataFrame = {
    val cap = 512L
    val docs = t(s, dir, "documents")
    // the contract reads `packed` twice (per-group bins + global coverage);
    // localCheckpoint materializes the pack once and lets the blocks be
    // GC-reclaimed after the query (unlike a CacheManager persist). The
    // operator itself stays single-pass — this is harness cost only.
    val packed = Curation.packTokens(docs, col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")), capacity = cap, numGroups = 8,
      seed = 3L).localCheckpoint(false)
    val bins = packed.groupBy(col("group"), col("bin")).agg(
      sum(col("tok")).as("bin_tok"), count(lit(1)).as("bin_docs"),
      min_by(col("tok"), col("doc")).as("first_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("bin"))
    val perGroup = bins.withColumn("next_first", lead(col("first_tok"), 1).over(w))
      .groupBy(col("group")).agg(
        (sum(when(col("bin_tok") > cap && col("bin_docs") > 1, 1).otherwise(0)) === 0).as("cap_ok"),
        ((sum(when(col("next_first").isNotNull && col("bin_tok") + col("next_first") <= cap, 1)
          .otherwise(0)) === 0) &&
          (countDistinct(col("bin")) === max(col("bin")) + 1)).as("tight_ok"))
    // n_docs_total / sum_tok_total derive from the PACK OUTPUT and are
    // independently recomputed by DuckDB from the raw table — dropped or
    // duplicated docs (or corrupted token accounting) hash-mismatch, so
    // the oracle is no longer a pure true-pin.
    val coverage = packed.agg(count(lit(1)).as("__n"), countDistinct(col("doc")).as("__nd"),
        sum(col("tok")).as("__st"))
      .crossJoin(docs.agg(count(lit(1)).as("__total")))
      .select((col("__n") === col("__total") && col("__nd") === col("__n")).as("all_docs_ok"),
        col("__n").as("n_docs_total"), col("__st").as("sum_tok_total"))
    perGroup.crossJoin(broadcast(coverage))
      .select(col("group").as("grp"), col("all_docs_ok"), col("cap_ok"), col("tight_ok"),
        col("n_docs_total"), col("sum_tok_total"))
  }

  /** Mixture-weight thinning (Curation.stratifiedFractions) gated by its
    * contract: per event type the kept rate sits within a 5σ binomial band
    * of its configured fraction (exact for the 0.0 / 1.0 strata — the
    * hash filter is deterministic, not sampled, so the rate is a fixed
    * property of the dataset; subset/monotonicity laws are in
    * CurationSpec). */
  def qStratifiedThin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val fractions = Map("click" -> 0.5, "view" -> 0.25, "purchase" -> 1.0,
      "error" -> 0.0, "signup" -> 0.8)
    val kept = Curation.stratifiedFractions(
      ev, col("event_type"), col("event_id"), fractions, seed = 11L)
    val keptCounts = kept.groupBy(col("event_type")).agg(count(lit(1)).as("__kept"))
    val f = fractions.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col("event_type") === lit(k), lit(v)).otherwise(acc)
    }
    val n = col("__n").cast("double")
    val kc = coalesce(col("__kept"), lit(0L)).cast("double")
    val tol = when(f === 0.0 || f === 1.0, lit(0.0))
      .otherwise(lit(5.0) * sqrt(f * (lit(1.0) - f) / n) + lit(2.0) / n)
    // det_kept: for the deterministic strata (fraction 0.0 / 1.0 — the
    // hash filter keeps none/all regardless of seed) the kept COUNT is
    // emitted raw and DuckDB independently recomputes it from the events
    // table (0, resp. count(*)); mid-fraction strata emit the -1 sentinel
    // (hash-dependent, covered by rate_ok + CurationSpec laws).
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("__n"))
      .join(keptCounts, Seq("event_type"), "left")
      .select(col("event_type"), (abs(kc / n - f) <= tol).as("rate_ok"),
        when(f === 0.0 || f === 1.0, coalesce(col("__kept"), lit(0L)))
          .otherwise(lit(-1L)).as("det_kept"))
  }

  /** Corpus scrub — TextAnalysis.Clean over documents. The synthetic corpus
    * carries no PII, so deterministic PII of every kind is planted from
    * doc_id IN BOTH ENGINES and the oracle replays non-trivial redaction
    * (markup strip, URL/email/IP/phone masking, whitespace collapse), not
    * identity. Pure codegen'd regexp chain — zero shuffle. */
  def qTextClean(s: SparkSession, dir: String): DataFrame = {
    import TextAnalysis.Clean
    val raw = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" Contact <b>admin</b> at user"), col("doc_id"),
        lit("@example.com or https://ex.com/d/"), col("doc_id"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)),
        lit(".7 tel +1555000"), col("doc_id")).as("raw"))
    raw.select(col("doc_id"),
      Clean.clean(col("raw")).as("clean_text"),
      size(regexp_extract_all(col("raw"), lit(Clean.EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("raw"), lit(Clean.UrlRe), lit(0)))
        .cast("long").as("n_urls"))
  }

  /** Repetition quality signals (the Gopher/C4 filter family, public
    * rules): duplicate-word fraction and top-word fraction per document.
    * Both are ROW-LOCAL higher-order-function evaluations over the split
    * array — no explode, no shuffle; a full-corpus quality pass stays one
    * narrow scan. The per-distinct-word count is O(words²) per row, bounded
    * by document length, not data size. */
  def qQualityRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // bind the split ONCE per row (transform-over-singleton let-binding
    // idiom — same reason as Dedup.shinglesLambda)
    val sig = transform(array(split(lower(trim(col("text"))), "\\s+")), ws => {
      val n = size(ws)
      val maxCnt = array_max(transform(array_distinct(ws),
        w => size(filter(ws, x => x === w))))
      struct(n.cast("long").as("n_words"),
        round(lit(1.0) - size(array_distinct(ws)).cast("double") / greatest(n, lit(1)), 6)
          .as("dup_word_frac"),
        round(maxCnt.cast("double") / greatest(n, lit(1)), 6).as("top_word_frac"))
    })(0)
    docs.select(col("doc_id"), sig.getField("n_words").as("n_words"),
      sig.getField("dup_word_frac").as("dup_word_frac"),
      sig.getField("top_word_frac").as("top_word_frac"))
  }

  /** Benchmark decontamination (public practice: strip training docs that
    * share n-grams with an eval set): the eval set's distinct shingles
    * broadcast, corpus shingles semi-joined against them, overlap count
    * per contaminated doc. At 100 TB the eval side is tiny (benchmarks),
    * so the plan is one narrow corpus scan + broadcast hash join — no
    * corpus shuffle. Here the "benchmark" is doc_id < 20 of the same
    * table, making the oracle replay exact. */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = docs.select(col("doc_id"),
      explode(Dedup.shingles(col("text"), 3)).as("s"))
    val bench = sh.filter(col("doc_id") < 20).select(col("s")).distinct()
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(bench), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_overlap"))
  }

  /** Abuse detection — GameStats.CalculateSpammyUsers (reference:
    * examples/java8/.../game/GameStats.java:109-145): per-key sums, the
    * global mean of those sums as a View.asSingleton side input, keep keys
    * whose total exceeds SCORE_WEIGHT (2.5) × the mean. Values are
    * cents-aligned per row before summing (exact longs, order-free), and
    * the threshold compare is exact integer arithmetic
    * (total·n·10 > 25·Σ ⟺ total > 2.5·Σ/n) so the boundary can't flip on
    * float noise between engines. The per-user verdict is EMITTED rather
    * than filtered — the synthetic totals cluster near the mean (no robots
    * planted), and an all-but-empty filtered set would verify almost
    * nothing, while this shape oracle-checks every total and every flag.
    * The singleton side input is the one-row total, broadcast into a
    * cross join inside the plan rather than collected while the query is
    * built: building starts no Spark job, and AQE reuses the per-user
    * aggregate's exchange for both consumers instead of scanning `events`
    * twice. */
  def qSpammyUsers(s: SparkSession, dir: String): DataFrame = {
    val sums = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(cents(col("value"))).as("total_cents"))
    val total = sums.agg(sum(col("total_cents")).as("sum_all"), count(lit(1)).as("n_users"))
    sums.crossJoin(broadcast(total))
      .select(col("user_id"), col("total_cents"),
        (col("total_cents") * col("n_users") * lit(10L) > lit(25L) * col("sum_all"))
          .as("is_spammy"))
  }

  /** Deterministic training shuffle: the corpus's reproducible random
    * permutation into 8 shards — (doc_id, shard, sort_key) fully replayed
    * by DuckDB from the same md5 scheme. */
  def qShuffleShards(s: SparkSession, dir: String): DataFrame =
    Curation.shuffleKeys(t(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), shards = 8)
      .select(col("doc_id"), col("shard"), col("sort_key"))

  /** CCNet-style perplexity bucketing: score every doc with the self-trained
    * char-trigram LM, split the corpus into head/middle/tail terciles by
    * EXACT percentile thresholds (a single-pass aggregate, not a global
    * rank window — no funnel), label each doc. head = highest lm_score =
    * lowest perplexity, the paper's keep-first slice. Thresholds and
    * scores both 6-dp rounded so the tercile boundaries replay exactly. */
  def qCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    // `scores` feeds the percentile aggregate AND the final bucket select;
    // deliberately left as lineage: the two consumers share the scoring
    // aggregate's canonical (doc_id) exchange, which AQE reuses at runtime
    // — a r19 lazy-localCheckpoint experiment here measured 1.22 → 3.34 s
    // same-window (materialization cost on top of reuse Spark already
    // does; same negative result as minHashIncremental's signature frame).
    val scores = TextAnalysis.lmTrigramScore(t(s, dir, "documents"),
      col("doc_id"), col("text")).select(col("doc_id"), col("lm_score"))
    val thr = scores.agg(
      round(call_function("percentile", col("lm_score"), lit(1.0 / 3.0)), 6).as("t1"),
      round(call_function("percentile", col("lm_score"), lit(2.0 / 3.0)), 6).as("t2"))
    scores.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("lm_score"),
        when(col("lm_score") <= col("t1"), "tail")
          .when(col("lm_score") <= col("t2"), "middle")
          .otherwise("head").as("ppl_bucket"))
  }

  /** Trained quality classifier (fastText/CCNet filter shape): logistic
    * regression over hashed unigram+bigram buckets, 3 full-batch GD rounds
    * predicting the lang='en' slice, then applied back to every doc. The
    * oracle replays TRAINING — all 3 gradient rounds — and scoring in
    * DuckDB (weights kept full-precision through the rounds; only the
    * emitted probability is rounded). NOTE: the synthetic corpus draws
    * text and lang independently, so there is no learnable signal HERE
    * (accuracy ≈ majority class — expected); the oracle gates the
    * distributed training math, and ClassifierSpec proves separation on
    * genuinely separable data. */
  def qQualityClf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Classifier.trainAndScore(docs, col("doc_id"), col("text"),
        col("lang") === "en", buckets = 512, rounds = 3, lr = 0.5)
      .select(col("doc_id"), round(col("quality_prob"), 6).as("quality_prob"),
        col("predicted"))
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016): learn the first 6
    * merges from the documents corpus — word-frequency vocabulary, per-round
    * weighted pair counts, lexicographic tiebreak. The oracle replays all 6
    * rounds in DuckDB (unrolled CTEs; merge application via the
    * double-separator string encoding, an exact simultaneous left-to-right
    * non-overlapping replace in both engines). */
  def qBpeLearn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // minFreq is POPULATION-DERIVED (Bpe.minFreqFor: one occurrence per
    // 20k docs, floor 1) — the r16 sf30 sweep OOM'd the word-vocabulary
    // aggregate at the default heap because this knob was frozen at 1
    // while the long-tail corpus made distinct words grow with the
    // corpus. The oracle re-derives the same floor from count(*).
    val docs = t(s, dir, "documents")
    Bpe.learnMerges(docs, col("text"), rounds = 6,
        minFreq = Bpe.minFreqFor(tableCount(s, dir, "documents")))
      .toDF("merge_rank", "pair_a", "pair_b", "pair_count")
  }

  /** Incremental SemDeDup — the semantic sibling of [[qDedupIncremental]]:
    * vectors < 400 play the already-deduped corpus (clustered store +
    * persisted centroids); vectors >= 400 are the new batch, each getting
    * a keep/dup verdict against corpus AND batch without re-clustering.
    * Full DuckDB replay (md5 seeds, 9-dp argmin, 6-dp cosine gate).
    *
    * Cluster count is the BALANCED derivation
    * ([[Similarity.nlistBalancedFor]] over the total population — at
    * sf0.1 and below exactly the previous k=8, at sf1/sf3 the occupancy
    * values 79/235, capped at the power-of-two √n from sf10 up). History
    * of this query's scale lessons: r13 caught frozen k=8 superlinear at
    * sf3 (13× wall for 3× data — occupancy fix); r15's sf30 probe caught
    * the SECOND quadratic, the frozen 400-row corpus capping k at the
    * seed limit while the batch grew (8.8× for 3× — fixed by the modulo
    * corpus split so the store grows with scale, plus the balanced k).
    * Production lifecycle for a store that outgrows its clustering is
    * [[Similarity.semDedupRecluster]]. */
  def qSemDedupIncr(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    // r15: corpus = the first 400 ids of EVERY 1e9 id-block (Sf1Gen shifts
    // copies by 1e9), not a frozen 400-row slice — identical membership at
    // driver SFs (all ids < 2000) but the store now GROWS with scale, the
    // realistic increment shape. The r15 sf30 probe caught the frozen
    // fixture superlinear (8.8x wall for 3x data): with the store stuck at
    // 400 rows the seed limit capped k at 400 while the batch grew, so the
    // within-cell batch-vs-batch term was quadratic. k is the BALANCED
    // derivation (same rationale as qSemDedup); the oracle replays both
    // the modulo corpus split and the kv derivation.
    val corpus = embs.filter(pmod(col("vec_id"), lit(1000000000L)) < 400)
    val k = Similarity.nlistBalancedFor(tableCount(s, dir, "embeddings"),
      targetClusterSize = 256L)
    val cents = Similarity.kmeansCentroids(corpus, col("vec_id"), col("embedding"), k = k)
    val store = Similarity.semDedupStore(corpus, col("vec_id"), col("embedding"), cents)
    Similarity.semDedupIncremental(
        embs.filter(pmod(col("vec_id"), lit(1000000000L)) >= 400),
        col("vec_id"), col("embedding"), cents, store, threshold = 0.3)
      .select(col("id").as("vec_id"), col("cell").cast("int").as("cell"),
        col("dup_of"), col("keep"))
  }

  /** Spherical k-means with ONE Lloyd refinement round, fully replayed by
    * DuckDB (md5-ordered seeds → 9-dp argmin assignment → spherical
    * per-cell mean → re-assignment): the only oracle gate on the
    * lloydRound path every ANN operator shares. Output also carries the
    * final per-cell size so a collapsed/empty-cell bug can't hide behind
    * matching assignments of a few sampled rows. */
  def qKmeans(s: SparkSession, dir: String): DataFrame = {
    val asgn = Similarity.kmeans(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), k = 8, iters = 1)
    val sizes = asgn.groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))
    asgn.join(broadcast(sizes), "cell")
      .select(col("id").as("vec_id"), col("cell").cast("int").as("cell"),
        col("cell_size"))
  }

  /** DSIR importance resampling (Xie et al. 2023): score every non-English
    * doc by how target-like (lang='en' slice) its hashed unigram+bigram bag
    * is, then Gumbel-top-k resample 50 docs with probability ∝ exp(weight).
    * FULL DuckDB replay: engine-neutral md5 bucket hash, exact-integer
    * models, 6-dp-rounded weights before the seeded Gumbel perturbation,
    * salted bounded top-k (never a global rank window). */
  def qDsir(s: SparkSession, dir: String): DataFrame = {
    // bucket count is POPULATION-DERIVED (Dsir.bucketsFor — one bucket per
    // 16 docs, floor 512, budget 2^16): exactly 512 at all driver SFs
    // (bit-identical to the previous constant), growing at sf1+ so hash
    // collisions don't blur the contrast as the corpus diversifies; the
    // oracle derives the same count from count(*)
    val w = operators.Dsir.importanceWeights(
      t(s, dir, "documents"), col("doc_id"), col("text"),
      col("lang") === "en",
      buckets = operators.Dsir.bucketsFor(tableCount(s, dir, "documents")),
      alpha = 1.0)
    val raw = w.filter(!col("is_target"))
      .select(col("doc_id"), round(col("dsir_logw"), 6).as("dsir_logw"))
    operators.Dsir.resample(raw, k = 50)
      .select(col("doc_id"), col("dsir_logw"),
        round(col("gumbel_key"), 6).as("gumbel_key"))
  }

  /** ProtoCoder capability (reference: sdks/java/extensions/protobuf/...
    * /ProtoCoder.java:49) via the pure-Scala wire codec: every document row
    * is encoded to canonical tf.train.Example bytes (the TFRecord training
    * format) and decoded back through the schema-driven parser — the oracle
    * is the identity, so a single wire-format bug (varint, tag, packed
    * list, map entry) breaks the hash compare. Row-local both ways: the
    * plan is one narrow mapPartitions chain, zero shuffle, O(1 record)
    * memory — embarrassingly parallel at any corpus size. */
  def qTfExample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    sources.TfExampleIO.decodeBytes(sources.TfExampleIO.encodeRows(docs), docs.schema)
  }

  /** Whitespace token count, the exact formula the DuckDB oracles replay
    * (`len(regexp_split_to_array(trim(text),'\s+'))`, 0 for blank). */
  private def wsTokens(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** Mixture-targeted domain resampling (Mixing.mixToWeights): resample the
    * corpus so per-lang token mass matches integer target weights under a
    * budget of 3/2 the observed mass — upsampling scarce langs by whole +
    * fractional epochs, thinning abundant ones. `target_tok` and
    * `full_epochs` are DETERMINISTIC corpus arithmetic the DuckDB oracle
    * replays exactly (integer weights, wsum = 100 exact, so the doubles
    * agree bit-for-bit); `mass_ok` is the achieved-mass contract — the
    * realized token mass of each lang within 5σ of its target (σ from the
    * fractional-epoch Bernoulli over per-doc token counts, + 2 for the
    * floor truncations). */
  def qDomainMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nt = wsTokens(col("text"))
    val weights = Map("en" -> 50.0, "de" -> 20.0, "fr" -> 15.0,
      "es" -> 10.0, "zh" -> 5.0)
    val total = docs.agg(sum(nt)).head().getLong(0)
    val budget = total * 3 / 2
    val plan = Mixing.epochPlan(docs, col("lang"), nt, weights, budget)
    val mixed = Mixing.applyPlan(docs, col("lang"), col("doc_id"), plan, seed = 7L)
    val sSess = s; import sSess.implicits._
    val planDf = plan.toDF("lang", "__full", "__frac", "target_tok")
    val stats = docs.groupBy(col("lang"))
      .agg(sum(nt).as("__m"), sum(nt * nt).as("__sq"))
    val achieved = mixed.groupBy(col("lang"))
      .agg(sum(wsTokens(col("text"))).as("__ach"))
    planDf.join(stats, Seq("lang")).join(achieved, Seq("lang"), "left")
      .select(col("lang"), col("target_tok"),
        col("__full").cast("long").as("full_epochs"),
        (abs(coalesce(col("__ach"), lit(0L)) - col("target_tok")) <=
          lit(5.0) * sqrt(col("__frac") * (lit(1.0) - col("__frac")) *
            col("__sq").cast("double")) + lit(2.0)).as("mass_ok"))
  }

  /** Deterministic hash train/val/test split (Mixing.hashSplit): every doc
    * lands in exactly one split (interval partition — total + disjoint by
    * construction, `coverage_ok` asserts it), per-split rates within 5σ of
    * the fractions. Append-stable by design (a doc's split never changes as
    * the corpus grows) — the property per-split `sample()` calls lack;
    * MixingSpec pins it under corpus growth. */
  def qHashSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val fractions = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val split = Mixing.hashSplit(docs, col("doc_id"), fractions, seed = 5L)
    val n = docs.count()
    val f = fractions.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col("split") === lit(k), lit(v)).otherwise(acc)
    }
    split.groupBy(col("split")).agg(count(lit(1)).as("__n"))
      .select(col("split"),
        (abs(col("__n").cast("double") / lit(n.toDouble) - f) <=
          lit(5.0) * sqrt(f * (lit(1.0) - f) / lit(n.toDouble)) + lit(2.0) / lit(n.toDouble))
          .as("rate_ok"),
        // 3-row frame post-aggregation — the unpartitioned window is fine
        (sum(col("__n")).over() === lit(n)).as("coverage_ok"))
  }

  /** Incremental MinHash-LSH dedup (Dedup.minHashIncremental): batch =
    * every 5th doc, corpus store = the rest's band buckets
    * (Dedup.minHashStore). FULL DuckDB replay — signatures are min-md5 per
    * band over word 3-shingles exactly as q_dedup_minhash, then the
    * store/batch verdict joins are replayed relationally. Docs with no
    * shingles (< 3 words) have no signature and keep=true by the left-join
    * contract in BOTH engines. */
  def qMinhashIncr(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val store = Dedup.minHashStore(corpus, col("text"), col("doc_id"),
      shingleN = 3, bands = 4)
    Dedup.minHashIncremental(batch, col("text"), col("doc_id"), store,
      shingleN = 3, bands = 4)
  }

  /** Incremental near-dup with PRECISION verification — the composition
    * the Dedup scaladocs prescribe: minHashIncremental's recall-oriented
    * candidates (batch = every 5th doc vs the corpus store, as
    * q_minhash_incr) post-verified by exact 3-shingle Jaccard computed
    * ONLY for candidate pairs (never all-pairs). FULL DuckDB replay of
    * candidates AND verification. */
  def qIncrVerified(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val store = Dedup.minHashStore(corpus, col("text"), col("doc_id"), 3, 4)
    val verdicts = Dedup.minHashIncremental(batch, col("text"), col("doc_id"),
      store, 3, 4)
    // localCheckpoint: the downstream verification references `pairs` four
    // times (candKeys' union twice, inter's probe side, the final join) and
    // `shCand` four more (sa/sb, both `sizes` joins) — left as lazy lineage
    // the minhash store/verdict subtree expands ~108× in the physical plan
    // (806 nodes, 248 Exchanges at r18 capture) and the candidate docs are
    // re-scanned and re-shingled once per reference. Both frames are
    // bounded (candidate pairs; candidate docs' 16-byte shingle-hash rows),
    // so materialize each once and let every consumer read the blocks.
    val pairs = verdicts
      .select(col("doc_id"), explode(array(col("corpus_cand"), col("batch_cand")))
        .as("cand"))
      .filter(col("cand").isNotNull).distinct()
      .localCheckpoint(false)
    // "computed ONLY for candidate pairs" must hold in the PLAN, not just
    // the output: the previous formulation joined the corpus-sized shingle
    // frame wholesale (the sb side sorted EVERY doc's shingle strings to
    // serve a candidate-only probe — 100-200 MB per task at sf30, one of
    // the r17 in-sweep OOMs). Semi-join both sides down to candidate-pair
    // membership first (candidate ids are bounded by the verdict set, so
    // AQE broadcasts the filter), and carry 64-bit xxhash shingle ids
    // instead of strings through the equality join — same counts (equality
    // is all Jaccard needs; collision odds are the documented
    // ngramJaccardPairs bound), a quarter of the shuffle bytes.
    val candKeys = pairs.select(col("doc_id").as("__d"))
      .union(pairs.select(col("cand").as("__d"))).distinct()
    // localCheckpoint for the same reason as `pairs`: three consumers
    // (sa, sb, sizes) would otherwise each re-scan and re-shingle the
    // corpus; the frame is bounded (candidate docs only, 16-byte rows).
    // The candidate semi-join applies to DOCS, before the shingle explode:
    // candKeys is an opaque checkpointed RDD, so the optimizer can neither
    // infer a pushable filter from it nor move the LeftSemi below the
    // Generate (r19 probe) — left after the explode, the verification pass
    // tokenized the ENTIRE corpus to serve a candidates-only probe. A
    // doc-grain semi-join commutes exactly with the per-doc explode.
    val shCand = docs
      .join(candKeys, col("doc_id") === col("__d"), "leftsemi")
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("__h"))
      .localCheckpoint(false)
    // sizes only ever joins on candidate ids, so it too reads the
    // restricted frame (non-candidates would be dropped by those inner
    // joins anyway; zero-shingle docs are absent either way)
    val sizes = shCand.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = pairs.as("p")
      .join(shCand.as("sa"), col("p.doc_id") === col("sa.doc_id"))
      .join(shCand.as("sb"), col("p.cand") === col("sb.doc_id") &&
        col("sa.__h") === col("sb.__h"))
      .groupBy(col("p.doc_id").as("doc_id"), col("p.cand").as("cand"))
      .agg(count(lit(1)).as("__i"))
    pairs.join(inter, Seq("doc_id", "cand"), "left")
      .join(sizes.select(col("doc_id"), col("sz").as("__sa")), Seq("doc_id"))
      .join(sizes.select(col("doc_id").as("cand"), col("sz").as("__sb")), Seq("cand"))
      .select(col("doc_id"), col("cand"),
        round(coalesce(col("__i"), lit(0L)).cast("double") /
          (col("__sa") + col("__sb") - coalesce(col("__i"), lit(0L))), 6)
          .as("jaccard"))
      .withColumn("verified", col("jaccard") >= 0.8)
  }

  /** Corpus composition report — ROLLUP(lang, source) in one scan: doc
    * counts, token mass and char mass at every grain (lang × source, lang,
    * grand total), the dashboard a corpus owner reads before fixing
    * mixture weights. Spark `rollup` = partial aggregation + a single
    * Exchange reused across all grouping sets (never one scan per grain);
    * DuckDB replays GROUP BY ROLLUP exactly. */
  def qCorpusReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.rollup(col("lang"), col("source"))
      .agg(grouping_id().as("__gid"), count(lit(1)).as("n_docs"),
        sum(wsTokens(col("text"))).as("sum_tok"),
        sum(col("n_chars")).as("sum_chars"))
      .select(
        when(col("__gid").bitwiseAND(2) === 2, lit("ALL"))
          .otherwise(col("lang")).as("lang"),
        when(col("__gid").bitwiseAND(1) === 1, lit("ALL"))
          .otherwise(col("source")).as("source"),
        col("n_docs"), col("sum_tok"), col("sum_chars"))
  }

  /** JL random-projection contract (Similarity.randomProject, native
    * seeded-Rademacher kernel): projecting sf embeddings to k=32 dims.
    * Checks computed in-query, pinned by the oracle: output dim == k for
    * every row (`dim_ok`); bit-identical across two independent
    * evaluations (`det_ok` — the implicit matrix really is a pure function
    * of the seed); exact 2x homogeneity (`scale2_ok` — doubling the input
    * doubles the output BIT-EXACTLY, power-of-two scaling is rounding-free,
    * so any data-dependent branch in the kernel breaks it); norm
    * preservation in the mean (`mean_ok`, E‖y‖²=‖x‖², band ±0.5 — a
    * missing 1/√k scale reads ~k, a broken sign hash collapses to a rank-1
    * projection, both far outside) and bounded worst case (`max_ok`). */
  def qRandProj(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.VectorExpressions.randomProjectVec
    val e = t(s, dir, "embeddings")
    val k = 32
    val base = e.select(col("vec_id"), col("embedding"),
      randomProjectVec(col("embedding"), k, 42L).as("p1"),
      randomProjectVec(col("embedding"), k, 42L).as("p2"),
      randomProjectVec(transform(col("embedding"), x => x * lit(2.0f)), k, 42L).as("p2x"))
    val r2 = base.select(col("vec_id"), size(col("p1")).as("__dim"),
      (col("p1") === col("p2")).as("__det"),
      (col("p2x") === transform(col("p1"), x => x * lit(2.0))).as("__sc"),
      (aggregate(col("p1"), lit(0.0d), (a, x) => a + x * x) /
        aggregate(col("embedding"), lit(0.0d), (a, x) => a + x.cast("double") * x.cast("double")))
        .as("__r2"))
    r2.agg(count(lit(1)).as("n_vecs"),
      (min(col("__dim")) === k && max(col("__dim")) === k).as("dim_ok"),
      min(col("__det")).as("det_ok"),
      min(col("__sc")).as("scale2_ok"),
      (abs(avg(col("__r2")) - 1.0) < 0.5).as("mean_ok"),
      (max(col("__r2")) < 8.0).as("max_ok"))
  }

  /** Misra–Gries heavy hitters (MisraGriesFn, capacity 30 over a 31-word
    * vocabulary — threshold N/31 = the mean share, so about half the
    * vocabulary qualifies at every SF and the decrement/truncation paths
    * still fire). Counter values are processing-order-dependent, so the
    * output carries only the THEOREM guarantees, checked per TRUE heavy
    * hitter (exact freq > N/(capacity+1), computed in both engines):
    * `present_ok` — the item is in the summary (guaranteed for every true
    * heavy hitter under any order); `err_ok` — its estimate undercounts by
    * at most N/(capacity+1). `word`/`freq` are exact corpus arithmetic the
    * oracle replays. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val capacity = 30
    def wordsOf = t(s, dir, "documents")
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
    val fn = new graft.functions.MisraGriesFn[String](capacity)
    val summary = wordsOf.as[String]
      .select(fn.asAggregator.toColumn.name("__mg"))
      .select(explode(col("__mg")).as("e"))
      .select(col("e._1").as("word"), col("e._2").as("est"))
    val exact = wordsOf.groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // total word mass rides as a broadcast 1-row frame, NOT a blocking
    // head(): the old shape tokenized and aggregated the whole corpus in a
    // separate action just to fetch one scalar, then re-ran the identical
    // aggregate inside the main action (no reuse across actions). As one
    // action the total's subtree shares `exact`'s canonical (word)
    // exchange, which AQE reuses at runtime — one corpus tokenize+aggregate
    // instead of two (guide §1.2; the q_ccnet_buckets percentile-threshold
    // pattern). n.toDouble/(capacity+1) is replayed as the same double ops.
    val tot = exact.agg(sum(col("freq")).as("__n"))
    val bound = col("__n").cast("double") / lit((capacity + 1).toDouble)
    exact.crossJoin(broadcast(tot))
      .filter(col("freq") > bound)
      .join(summary, Seq("word"), "left")
      .select(col("word"), col("freq"),
        col("est").isNotNull.as("present_ok"),
        (coalesce(col("est"), lit(0L)) <= col("freq") &&
          (col("freq") - coalesce(col("est"), lit(0L))) <= bound).as("err_ok"))
  }

  /** Key-skew profile (Aggregates.keySkewProfile) over events.user_id —
    * top-10 heaviest users with 6-dp shares, distribution entropy and key
    * count; FULL DuckDB replay (total-order tiebreak, exact counts). */
  def qKeySkew(s: SparkSession, dir: String): DataFrame =
    Aggregates.keySkewProfile(t(s, dir, "events"), col("user_id"), topN = 10)

  /** Snapshot diff (Dedup.snapshotDiff): old = docs with id % 7 ≠ 0, new =
    * docs with id % 5 ≠ 0 where every id % 3 = 0 doc's text is amended —
    * yields all four verdicts (added / removed / changed / unchanged);
    * FULL DuckDB replay of the digest-join classification. */
  def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val newSnap = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
    Dedup.snapshotDiff(oldSnap, newSnap, col("doc_id"), col("text"))
  }

  /** One-scan declarative data-quality gate (Quality.run): six checks
    * over events — key uniqueness, completeness, set membership, range,
    * regex, size — all compiled into ONE aggregate pass; every metric is
    * exact and the oracle recomputes each in SQL. */
  def qDataChecks(s: SparkSession, dir: String): DataFrame = {
    import Quality._
    Quality.run(t(s, dir, "events"), Seq(
      Unique("event_id"),
      NotNull("user_id"),
      NotNull("props", minRatio = 0.5),
      InSet("event_type", Seq("click", "view", "purchase", "error", "signup")),
      InRange("value", -1e6, 1e6),
      SizeBetween(1L)))
  }

  /** Word co-occurrence above support (TextAnalysis.cooccurrence — the
    * market-basket first level over documents-as-baskets): unordered
    * distinct-word pairs per doc, support ≥ 50, stop-word frequency cap
    * active. FULL DuckDB replay of the dedup→cap→pair-join→support
    * pipeline. */
  def qCooccur(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cooccurrence(t(s, dir, "documents"), col("text"),
      col("doc_id"), minSupport = 50L, maxWordFreq = 100000L)

  /** Event-type transition matrix (first-order Markov estimate): per-user
    * ordered lag pairs → (prev, next) counts and 6-dp row-normalized
    * transition probabilities — the behavioral-sequence summary that
    * feeds next-action models. One keyed lag window + one tiny aggregate;
    * FULL DuckDB replay. */
  def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = t(s, dir, "events")
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev")).agg(sum(col("n")).as("__t"))
    pairs.join(totals, Seq("prev"))
      .select(col("prev"), col("next"), col("n"),
        round(col("n").cast("double") / col("__t"), 6).as("p"))
  }

  /** Cohort retention — the classic activation analysis: users cohorted
    * by first-seen day, then distinct active users per (cohort_day,
    * day_offset) with 6-dp retention vs the cohort's size. Two keyed
    * aggregates + one broadcast-size join (first-seen frame is one row
    * per user); FULL DuckDB replay. */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val sized = firstSeen.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    ev.join(firstSeen, Seq("user_id"))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .join(sized, Seq("cohort_day"))
      .select(col("cohort_day").cast("string").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"),
        col("active_users"), col("cohort_size"),
        round(col("active_users").cast("double") / col("cohort_size"), 6)
          .as("retention"))
  }

  /** Exact keyed percentiles (Spark's sort-based `percentile` aggregate ≡
    * DuckDB quantile_cont — both linear interpolation over the sorted
    * group): P50/P90/P99 of event values per type, 6-dp. The exact
    * latency-grid rollup; at 100 TB swap to percentile_approx (the
    * q_approx_quant path) — exact keyed percentiles buffer each group. */
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))

  /** Pivot / cross-tab (Dataset.pivot with EXPLICIT column values — the
    * one-pass form; valueless pivot would add a distinct-scan job):
    * user-decile × event_type count matrix. Spark plans pivot as a single
    * aggregate with pivot-value projections; DuckDB replays via CASE
    * columns. */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(pmod(col("user_id"), lit(10)).as("user_decile"))
      .pivot("event_type", Seq("click", "view", "purchase", "error", "signup"))
      .agg(count(lit(1)))

  /** EWMA per user (Windows.ewma through flatMapSortedGroups — the
    * inherently-sequential recurrence Spark's frame windows can't
    * express). Self-verifying contract, pinned by the oracle: the
    * recurrence z_i = α·v_i + (1−α)·z_{i−1} holds BIT-EXACTLY when
    * recomputed relationally via lag (identical IEEE ops on identical
    * operands), and every key's first observation passes through
    * unchanged. n_rows replays from the events table. */
  def qEwma(s: SparkSession, dir: String): DataFrame = {
    val alpha = 0.3
    val e = Windows.ewma(t(s, dir, "events"), col("user_id"), col("ts"),
      col("event_id"), col("value"), alpha)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ord_ts"), col("ord"))
    e.withColumn("__prev", lag(col("ewma"), 1).over(w))
      .select(
        when(col("__prev").isNull, col("ewma") === col("value"))
          .otherwise(col("ewma") ===
            lit(alpha) * col("value") + lit(1 - alpha) * col("__prev"))
          .as("__ok"),
        col("__prev").isNull.as("__first"))
      .agg(count(lit(1)).as("n_rows"), min(col("__ok")).as("recurrence_ok"),
        (sum(when(col("__first"), 1L).otherwise(0L)) > 0).as("has_first_rows"))
  }

  /** Rolling z-score (Windows.rollingZScore, trailing-10 frame, ≥5 obs)
    * per user over event values — the spike/outage signal; FULL DuckDB
    * replay of the identical ROWS frame (4-dp z, the catalog's
    * double-rounding convention). */
  def qRollingZ(s: SparkSession, dir: String): DataFrame =
    Windows.rollingZScore(t(s, dir, "events"), col("user_id"),
        Seq(col("ts"), col("event_id")), col("value"), window = 10)
      .select(col("event_id"), col("user_id"), col("z"))

  /** Gap-filled resample (Windows.resampleFill): per-user 6-hour grid over
    * events with forward-filled values (event_id tiebreak on same-ts
    * observations), 6-dp value rounding. FULL DuckDB replay of slot
    * assignment, deterministic last-observation, per-key grid, and the
    * IGNORE NULLS forward fill. */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // maxSlotsPerKey is resampleFill's ACCIDENT guard (a span/step combo
    // that would explode the grid), not a scale cap — and this fixture's
    // span grows honestly with the ladder (Sf1Gen shifts events by 31 days
    // per copy: ~37k six-hour slots/key at sf30, ~124k at sf100 — over the
    // operator's 100k default, caught by the r18 sf100 catalog sweep). A
    // 2^20 budget covers the ladder through ~sf800; per-key grid state is
    // a spillable keyed window, so the cost of a wider budget is linear
    // grid rows, never per-task memory.
    Windows.resampleFill(ev, col("user_id"), col("ts"),
        round(col("value"), 6), stepSeconds = 21600L,
        order = Seq(col("event_id")),
        maxSlotsPerKey = 1L << 20)
      .select(col("key").as("user_id"), col("slot_ts"),
        round(col("value"), 6).as("value"), col("filled"))
  }

  /** Packed training sequences end-to-end (Bpe.encode with the default
    * merge table → Curation.packSequences at capacity 512): contracts
    * computed in-query, pinned by the oracle — token coverage (packed ids
    * = every encoded token exactly once), per-pack capacity (any
    * multi-doc pack ≤ 512; overflow only for oversize singletons), span
    * integrity (contiguous prefix-sum offsets whose lengths partition the
    * pack — spot-checked against the concatenated ids), and id-range
    * sanity. n_docs replays from the documents table. */
  def qTrainSequences(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = Bpe.defaultMerges
    val vocab = Bpe.vocabFromCorpus(docs, col("text"), merges)
    // lazy checkpoint: `enc` feeds the packer AND the independent total —
    // left as lineage the corpus would BPE-encode twice (the old shape
    // additionally ran the total as its own blocking job at construction);
    // the materialized frame is the same (doc_id, input_ids) payload the
    // pack shuffle moves anyway
    val enc = Bpe.encode(docs, col("text"), col("doc_id"), merges, vocab)
      .localCheckpoint(false)
    val packs = Curation.packSequences(enc, capacity = 512L, numGroups = 8,
      seed = 13L)
    val perPack = packs.select(
      size(col("input_ids")).cast("long").as("__sz"), col("n_tokens"),
      col("overflow"), size(col("spans")).as("__nd"),
      // spans partition [0, n_tokens): starts are the running sums of lens
      expr("""aggregate(spans, struct(CAST(0 AS BIGINT) AS expect, true AS ok),
               (acc, sp) -> struct(acc.expect + sp.len,
                                   acc.ok AND sp.start = acc.expect),
               acc -> acc.ok)""").as("__contig"),
      expr("aggregate(spans, CAST(0 AS BIGINT), (a, sp) -> a + sp.len)")
        .as("__spansum"))
    // the independent corpus token total rides as a broadcast 1-row frame
    // instead of a collected driver literal: same exact-long comparison,
    // ONE action instead of a blocking construction job + the final action
    val totalDf = enc.agg(sum(col("n_tokens")).as("__tot"))
    perPack.agg(
        sum(col("__nd")).as("n_docs"),
        sum(col("__sz")).as("__sumsz"),
        sum(col("n_tokens")).as("__sumnt"),
        min(when(col("__nd") >= 2, col("__sz") <= 512L).otherwise(!col("overflow") ||
          col("__nd") === 1)).as("capacity_ok"),
        min(col("__contig")).as("spans_contiguous_ok"),
        sum(col("__spansum")).as("__sumspan"))
      .crossJoin(broadcast(totalDf))
      .select(col("n_docs"),
        (col("__sumsz") === col("__tot") && col("__sumnt") === col("__tot"))
          .as("coverage_ok"),
        col("capacity_ok"), col("spans_contiguous_ok"),
        (col("__sumspan") === col("__tot")).as("span_lens_ok"))
  }

  /** StreamingWordExtract port (reference:
    * examples/.../complete/StreamingWordExtract.java:57-86 — ExtractWords
    * splits on ExampleUtils.TOKENIZER_PATTERN `[^\p{L}]+`, Uppercase
    * uppercases, StringToRowConverter emits one single-column row per
    * word): the same ParDo chain over documents.text, one row per word
    * occurrence. The reference's BigQuery streaming sink is the GCP
    * boundary (out of scope); its TRANSFORMS are fully replayed — the
    * streaming delivery path is the file-stream + foreachBatch machinery
    * covered in StreamingSpec. Closes the LAST unported non-GCP example
    * transform chain. */
  def qWordExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(col("text"), "[^\\p{L}]+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(upper(col("w")).as("word"))

  /** One-scan column profile (Quality.profile) over customer — null /
    * exact-distinct counts and engine-neutral min/max per column from a
    * single aggregate pass; FULL per-column SQL replay. */
  def qProfile(s: SparkSession, dir: String): DataFrame =
    Quality.profile(t(s, dir, "customer"))

  /** PSI drift (Quality.psiDrift) between the even- and odd-doc_id halves'
    * lang distributions — the snapshot-to-snapshot mix-shift metric. Two
    * |categories|-bounded aggregates + a tiny join; FULL SQL replay of
    * every contribution and the total. */
  def qDriftPsi(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Quality.psiDrift(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2)) =!= 0),
      col("lang"))
  }

  /** Per-row sessionization (Windows.sessionize, 30-min inactivity gap,
    * event_id tiebreak for a total order) rolled up to per-session stats —
    * the event-analytics sibling of the Sessions window aggregations.
    * FULL DuckDB replay of the lag-gap-flag + running-sum construction. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    Windows.sessionize(ev, col("user_id"), col("ts"), gapSeconds = 1800L,
      order = Seq(col("event_id")))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
  }

  /** First-touch conversion funnel over events: first view per user →
    * first click within 1h of it → first purchase within 1h of that
    * click. Three keyed aggregates + two keyed joins (never a per-user
    * event-list materialization); FULL DuckDB replay. */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click").as("e")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("v_ts") &&
        col("ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase").as("e2")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("c_ts") &&
        col("ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.agg(count(lit(1)).as("n_view_users"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_users")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_users")))
      .select(col("n_view_users"), col("n_click_users"), col("n_purchase_users"),
        round(col("n_click_users").cast("double") / col("n_view_users"), 6)
          .as("click_rate"),
        round(col("n_purchase_users").cast("double") /
          greatest(col("n_click_users"), lit(1L)), 6).as("purchase_rate"))
  }

  /** Unicode NFC normalization (expressions.UnicodeNormalize): the ASCII
    * corpus carries no decomposed sequences, so combining-mark text
    * (e+U+0301, i+U+0308, A+U+030A) is PLANTED deterministically in both
    * engines and the oracle replays real composition via DuckDB's
    * nfc_normalize — not identity. `changed` pins that normalization
    * actually fired on every row. */
  def qTextNfc(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.TextExpressions.unicodeNormalize
    val raw = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" café naïve Ångström")).as("raw"))
    raw.select(col("doc_id"),
      unicodeNormalize(col("raw"), "NFC").as("nfc"),
      (unicodeNormalize(col("raw"), "NFC") =!= col("raw")).as("changed"))
  }

  /** BPE encode to input_ids (Bpe.encode over a 6-round learned merge
    * table + corpus-derived vocabulary — the full train→vocab→encode
    * tokenizer pipeline). Contracts computed in-query, pinned by the
    * oracle: `roundtrip_ok` — decoding every doc's ids through the vocab
    * reproduces its pretoken concatenation EXACTLY (a single wrong id
    * breaks it); `count_ok` — n_tokens agrees with the independent
    * tokenCount operator; `ids_ok` — every id within [0, |vocab|).
    * n_docs is replayed from the documents table. */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // population-derived minFreq — see qBpeLearn; frozen-at-1 was the
    // r16 sf30/8g OOM (corpus-sized vocabulary frame)
    val merges = Bpe.learnMerges(docs, col("text"), rounds = 6,
        minFreq = Bpe.minFreqFor(tableCount(s, dir, "documents")))
      .map(m => (m._2, m._3))
    val vocab = Bpe.vocabFromCorpus(docs, col("text"), merges)
    val enc = Bpe.encode(docs, col("text"), col("doc_id"), merges, vocab)
    val counts = Bpe.tokenCount(docs, col("text"), col("doc_id"), merges)
    // decode side of the roundtrip via the codegen'd kernel — the HOF
    // spelling (concat_ws over transform/element_at on a vocab literal
    // array) evaluated the lambda interpreted once per corpus TOKEN
    // (r19; guide rule 4), with identical null/out-of-range semantics
    // (TextMultimodalSpec pins the equivalence)
    enc.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .join(counts, Seq("doc_id"))
      .select(
        (graft.expressions.TextExpressions.vocabDecodeConcat(
          col("input_ids"), vocab) ===
          concat_ws("", regexp_extract_all(col("text"),
            lit(Bpe.pretokenPattern), lit(0)))).as("__rt"),
        (col("n_tokens") === col("bpe_tokens")).as("__cnt"),
        forall(col("input_ids"),
          i => i >= 0 && i < lit(vocab.length)).as("__ids"))
      .agg(count(lit(1)).as("n_docs"), min(col("__rt")).as("roundtrip_ok"),
        min(col("__cnt")).as("count_ok"), min(col("__ids")).as("ids_ok"))
  }

  /** TPC-H Q3 shape (shipping-priority): 3-way join with filters on every
    * input, revenue aggregation, bounded top-10 — the classic composed
    * analytic plan (pushdown on all three scans, broadcast dim, partial
    * aggregation, TakeOrdered — pinned in PlanShapeSpec). Revenue is per-row
    * cents-rounded then summed as exact integers (the catalog's money
    * discipline), so the DuckDB replay hash-matches. */
  def qTpchQ3(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue_cents"))
      .orderBy(desc("revenue_cents"), asc("o_orderkey")).limit(10)
  }

  /** TPC-H Q5 shape (local-supplier volume): 6-way snowflake join —
    * region→nation→(customer ⋈ supplier co-nationality)→orders→lineitem —
    * with a year filter, grouped revenue per nation. The deepest composed
    * join in the catalog; the tiny dims broadcast, the fact joins shuffle
    * on their keys, AQE re-plans at runtime. Exact-cents replay. */
  def qTpchQ5(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    t(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue_cents"))
  }

  /** Corpus-level Jaccard from KMV sketches (Dedup.kmvSketch/kmvJaccard):
    * even/odd doc_id halves compared WITHOUT a cross-corpus join — each
    * side reduces to a 256-hash bottom-k signature. md5 ordering is
    * engine-neutral, so DuckDB replays the estimate EXACTLY; `err_ok`
    * additionally pins the estimate against the true shingle-set Jaccard
    * (both engines compute both numbers identically). */
  def qCorpusJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val a = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
    val k = 256
    val est = Dedup.kmvJaccard(
      Dedup.kmvSketch(a, col("text"), col("doc_id"), 3, k),
      Dedup.kmvSketch(b, col("text"), col("doc_id"), 3, k), k)
    // Exact-side ground truth in ONE corpus pass on LONG keys: per-shingle
    // A/B presence flags grouped on xxhash64(shingle), not two string-keyed
    // distinct()s unioned and regrouped — the string formulation held two
    // corpus-wide hash maps of ~40-byte keys and OOM'd the 8g heap at
    // sf100, while a single long-keyed aggregate is 8x smaller per entry,
    // spills declaratively, and shuffles the corpus once instead of three
    // times. xxhash64 collisions merge distinct shingles with probability
    // ~n²/2^65 (≈ single digits at sf100's ~1e9-1e10 distinct shingles) —
    // a ~1e-9 perturbation of __j that cannot move the ±0.2 err_ok band
    // the query outputs, so the string-exact DuckDB oracle agrees.
    val exact = docs
      .select((pmod(col("doc_id"), lit(2)) === 0).as("__a"),
        explode(Dedup.shingles(col("text"), 3)).as("s"))
      .groupBy(xxhash64(col("s")).as("__h"))
      .agg(max(when(col("__a"), 1).otherwise(0)).as("__ina"),
        max(when(!col("__a"), 1).otherwise(0)).as("__inb"))
      .agg((sum(when(col("__ina") + col("__inb") === 2, 1).otherwise(0)).cast("double") /
        count(lit(1))).as("__j"))
    est.crossJoin(exact)
      .select(col("j_est"), col("k_used"),
        (abs(col("j_est") - col("__j")) <= lit(0.2)).as("err_ok"))
  }

  /** End-to-end increment pipeline — the composed daily-crawl shape the
    * incremental stores exist for: snapshotDiff classifies the new crawl
    * vs the previous snapshot; only `added`+`changed` docs proceed to
    * exactIncremental against the previous corpus digest store; `ingest` =
    * the content survives both the corpus store and within-batch dedup
    * (unchanged/removed docs never re-ingest). Every stage is
    * md5-deterministic — FULL DuckDB replay of the whole composition. */
  def qIncrementPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val newSnap = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
    val diff = Dedup.snapshotDiff(oldSnap, newSnap, col("doc_id"), col("text"))
    val work = newSnap.join(
      diff.filter(col("status").isin("added", "changed")).select(col("doc_id")),
      Seq("doc_id"))
    val store = Dedup.exact(oldSnap, col("text"), col("doc_id"))
      .select(col("content_hash"), col("rep_id").as("corpus_rep"))
    val verdicts = Dedup.exactIncremental(work, col("text"), col("doc_id"), store)
    diff.join(verdicts.select(col("doc_id"), col("keep")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("status"),
        coalesce(col("keep"), lit(false)).as("ingest"))
  }

  /** Distributed zipWithIndex (Aggregates.sequentialIds): global dense
    * 0-based ids over documents ordered by (n_chars, doc_id) — real
    * reordering, total order. FULL DuckDB replay via row_number(); the
    * Spark plan is range-partitioned with a per-PARTITION offset table,
    * pinned to contain NO single-partition rank window. */
  def qSeqIds(s: SparkSession, dir: String): DataFrame =
    Aggregates.sequentialIds(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars"), col("doc_id")))
      .select(col("doc_id"), col("n_chars"), col("seq_id"))

  /** Embedding outlier screen contract (Similarity.centroidOutliers, k=8
    * cells, 1 Lloyd round, flag the top ~10% cosine-farthest per cell):
    * `sep_ok` — in every cell the flagged rows are strictly farther than
    * every kept row (the threshold cut's defining invariant); `range_ok` —
    * cosine distance stays in [0, 2]; `rate_ok` — the global flag rate is
    * near the target (the percentile sketch can smear per-cell, never 2.5×
    * global). n_total is replayed from the embeddings table. */
  def qEmbedOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val out = Similarity.centroidOutliers(e, col("vec_id"), col("embedding"),
      k = 8, iters = 1, flagFraction = 0.1)
    val perCell = out.groupBy(col("cell")).agg(
      min(when(col("outlier"), col("dist"))).as("__minf"),
      max(when(!col("outlier"), col("dist"))).as("__maxk"),
      count(lit(1)).as("__n"), sum(when(col("outlier"), 1L).otherwise(0L)).as("__nf"))
    perCell.agg(
      sum(col("__n")).as("n_total"),
      min(coalesce(col("__minf") > col("__maxk"), lit(true))).as("sep_ok"),
      (sum(col("__nf")) <= lit(0.25) * sum(col("__n"))).as("rate_ok"))
      .crossJoin(out.agg((min(col("dist")) >= -1e-9 && max(col("dist")) <= 2.0 + 1e-9)
        .as("range_ok")))
  }
}
