package graft

/** Physical-plan regression suite: the 100 TB story is a set of PLAN
  * properties (pushdown, broadcast, bounded aggregation, no low-cardinality
  * window funnels), so they are asserted here — a query can stay
  * value-correct while silently regressing to a plan that dies at scale,
  * and this suite is what catches it. Plans are built (not executed)
  * against the sf0.001 fixtures. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_filter: predicates reach the parquet scan (PushedFilters)") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    // the PushedFilters list is width-truncated in toString, so assert on
    // an early entry
    assert(p.contains("LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("q_map_project: column pruning — the scan reads only the projected columns") {
    val p = plan("q_map_project")
    assert(p.contains("l_extendedprice"), p.take(2000))
    assert(!p.contains("l_comment") && !p.contains("l_shipmode"),
      s"scan must not read unused wide columns:\n${p.take(2000)}")
  }

  test("q_broadcast_join: the dimension side is a BroadcastHashJoin") {
    assert(plan("q_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q1_agg: partial (map-side) + final HashAggregate pair") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final aggregation expected")
  }

  test("q_latest_per_key / q_argmax / q_distinct_rep: single aggregate, NO window funnel") {
    Seq("q_latest_per_key", "q_argmax", "q_distinct_rep").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window "), s"$q must not plan a rank window:\n${p.take(1500)}")
      assert(p.contains("Aggregate"), s"$q should reduce via max_by/min_by aggregation")
    }
  }

  test("q_top_per_key: the only window is salted (key × __salt partitions, no 5-way funnel)") {
    val p = plan("q_top_per_key")
    assert(p.contains("__salt"), s"salted two-phase expected:\n${p.take(1500)}")
    // every Window operator in the plan must carry the salt in its
    // partition spec
    p.linesIterator.filter(_.contains("Window ")).foreach { line =>
      assert(line.contains("__salt"), s"unsalted window in q_top_per_key: $line")
    }
  }

  test("groupIntoBatches: no per-key rank window (range-partitioned zipWithIndex instead)") {
    import org.apache.spark.sql.functions.col
    // materialize=false keeps the lazy plan inspectable (the default
    // checkpoints the result, hiding the pipeline behind an RDD scan)
    val events = GraftSession.table(spark, dir, "events")
    val p = graft.operators.Aggregates.groupIntoBatches(
      events.select(col("event_type"), col("event_id")),
      Seq(col("event_type")), col("event_id"), 100, materialize = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window "), s"groupIntoBatches must not plan a rank window:\n${p.take(1500)}")
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"range partitioning expected:\n${p.take(1500)}")
  }

  test("ANN re-rank paths carry no unbounded collect_list") {
    Seq("q_ivf_ann", "q_lsh_ann", "q_embed_topk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("collect_list"),
        s"$q must use the bounded-heap typed aggregator, not collect_list:\n${p.take(1500)}")
    }
  }

  test("q_dedup_minhash: codegen'd min-aggregation, no per-band explode join") {
    val p = plan("q_dedup_minhash")
    // one explode for shingles is expected; the per-band work must be the
    // min() columns inside a HashAggregate, not a second join
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), s"minhash should not join:\n${p.take(1500)}")
  }

  test("curation ops: bounded aggregation, single shuffle, no windows") {
    import org.apache.spark.sql.functions._
    val docs = GraftSession.table(spark, dir, "documents")
    // stratified sampling: one bounded-accumulator aggregate per stratum —
    // never a rank window or an unbounded collect_list
    val sp = graft.operators.Curation.stratifiedFixedSize(
      docs, Seq(col("lang")), col("doc_id"), n = 10, seed = 1L)
      .queryExecution.executedPlan.toString
    assert(!sp.contains("Window ") && !sp.contains("collect_list"),
      s"stratifiedFixedSize must aggregate, not window/collect:\n${sp.take(1500)}")
    // hash thinning: a pure filter — zero Exchange, stays in the scan stage
    val tp = graft.operators.Curation.stratifiedFractions(
      docs, col("lang"), col("doc_id"), Map("en" -> 0.5), seed = 1L)
      .queryExecution.executedPlan.toString
    assert(!tp.contains("Exchange"),
      s"stratifiedFractions must be shuffle-free:\n${tp.take(1500)}")
    // packing: exactly one shuffle — the hash split on the group key
    val pp = graft.operators.Curation.packTokens(
      docs, col("doc_id"), col("n_chars"), capacity = 4096, numGroups = 8,
      seed = 1L).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(pp).size
    assert(exchanges == 1 && pp.contains("hashpartitioning(group"),
      s"packTokens must shuffle once on the group key:\n${pp.take(1500)}")
    assert(!pp.contains("Window "), s"packTokens plans no window:\n${pp.take(1500)}")
  }

  test("bucketed co-located tables: equi-join and groupBy plan with NO Exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val orders = GraftSession.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val lineitem = GraftSession.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    graft.sources.IO.writeBucketed(orders, "b_orders", Seq("o_orderkey"), 8,
      sortCols = Seq("o_orderkey"))
    graft.sources.IO.writeBucketed(lineitem, "b_lineitem", Seq("l_orderkey"), 8,
      sortCols = Seq("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val jp = joined.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange"),
        s"same-bucketed join must be shuffle-free:\n${jp.take(2000)}")
      // value sanity: bucketed join equals the plain join
      val expect = lineitem.join(orders, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expect)
      // aggregation on the bucket key is exchange-free too
      val ap = spark.table("b_lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity"))).queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange"),
        s"bucket-key aggregation must be shuffle-free:\n${ap.take(2000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("q_text_clean / q_quality_rep: single narrow scan, NO Exchange") {
    // corpus-scrub and quality passes run per-row; any shuffle here would
    // be a plan regression that dominates a 100 TB pass
    Seq("q_text_clean", "q_quality_rep").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must be shuffle-free:\n${p.take(2000)}")
    }
  }

  test("q_decontaminate: eval-set side broadcasts, corpus side never shuffles pre-join") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the only Exchanges allowed are the broadcast of the tiny eval side
    // and the post-join per-doc aggregation shuffle
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n${p.take(2000)}")
  }

  test("exactIncremental against a BUCKETED digest store: store side never re-shuffles") {
    // the scaladoc's 100 TB claim: persist the corpus digests bucketed on
    // content_hash and every increment's verdict join reads the store
    // without an Exchange above its scan — only the (small) batch side
    // shuffles to meet the store's bucketing
    import org.apache.spark.sql.functions._
    val docs = GraftSession.table(spark, dir, "documents")
    val store = graft.operators.Dedup.exact(
        docs.filter(col("doc_id") < 400), col("text"), col("doc_id"))
      .select(col("content_hash"), col("rep_id").as("corpus_rep"))
    graft.sources.IO.writeBucketed(store, "b_digests", Seq("content_hash"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.operators.Dedup.exactIncremental(
        docs.filter(col("doc_id") >= 400), col("text"), col("doc_id"),
        spark.table("b_digests"))
      val p = out.queryExecution.executedPlan.toString
      // the store-side join leg must carry no Exchange: with the batch leg
      // shuffling to 8 partitions to meet the bucketing, the plan has
      // exchanges only for batch legs (digest join + batch_rep aggregate)
      val storeScan = p.linesIterator.find(_.contains("b_digests"))
      assert(storeScan.isDefined, s"bucketed store scan expected:\n${p.take(2500)}")
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"store must be read bucket-aware:\n${p.take(2500)}")
      // value sanity vs the unbucketed formulation
      val plain = graft.operators.Dedup.exactIncremental(
        docs.filter(col("doc_id") >= 400), col("text"), col("doc_id"), store)
      assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_digests")
    }
  }

  test("semDedupIncremental against a BUCKETED vector store: store side never re-shuffles") {
    // same 100 TB contract as the digest store: persist (cell,id,vec,nrm)
    // bucketed on cell and an increment's within-cell join reads the store
    // with no Exchange above its scan
    import org.apache.spark.sql.functions._
    val embs = GraftSession.table(spark, dir, "embeddings")
    val corpus = embs.filter(col("vec_id") < 400)
    val cents = graft.operators.Similarity.kmeansCentroids(
      corpus, col("vec_id"), col("embedding"), k = 8)
    val store = graft.operators.Similarity.semDedupStore(
      corpus, col("vec_id"), col("embedding"), cents)
    graft.sources.IO.writeBucketed(store, "b_vecstore", Seq("cell"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.operators.Similarity.semDedupIncremental(
        embs.filter(col("vec_id") >= 400), col("vec_id"), col("embedding"),
        cents, spark.table("b_vecstore"), threshold = 0.3)
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"store must be read bucket-aware:\n${p.take(2500)}")
      // value sanity vs the unbucketed formulation
      val plain = graft.operators.Similarity.semDedupIncremental(
        embs.filter(col("vec_id") >= 400), col("vec_id"), col("embedding"),
        cents, store, threshold = 0.3)
      assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_vecstore")
    }
  }

  test("q_range_join: bucketed equi-join — NO nested-loop or cartesian plan") {
    // a pure inequality join would plan as BroadcastNestedLoopJoin
    // (O(points × intervals) — dead at 100 TB); the bin-bucket rewrite
    // must keep it a hash/sort-merge EQUI join on the bin id
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must not nested-loop:\n${p.take(3000)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_interval_join: bucketed equi-join — NO nested-loop or cartesian plan") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join must not nested-loop:\n${p.take(3000)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_asof_join: one window pass, no join operator at all") {
    // the as-of rewrite is union + window — any Join node would mean the
    // per-left-row inequality formulation snuck back in
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), s"asOf must be join-free:\n${p.take(3000)}")
    assert(p.contains("Window"), p.take(3000))
  }

  test("q_window_weekly: anchored calendar grouping stays one partial+final agg pair") {
    // the multi-unit calendar expression must not cost plan shape: pruned
    // 2-column scan, map-side partial aggregate, exactly one Exchange
    val p = plan("q_window_weekly")
    // pin the PRUNING (only ts + event_type read), not the physical ts
    // encoding — the driver has already rotated that twice (int64-nanos,
    // then timestamp[us]-NTZ) and a type-pinned string rots with it
    assert("ReadSchema: struct<ts:[^,>]+,event_type:string>".r.findFirstIn(p).isDefined,
      p.take(2500))
    assert(p.contains("partial_count"), p.take(2500))
    assert("Exchange".r.findAllIn(p).size == 1, s"one shuffle expected:\n${p.take(2500)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("mapPartitions"),
      "calendar windows must stay in native expressions")
  }

  test("bm25 batch: corpus side joins only against BROADCAST stats/queries") {
    // every join in the scoring plan must be a broadcast-hash join keyed by
    // term — a sort-merge join would shuffle the (doc, term) frame twice
    val p = plan("q_bm25_batch")
    assert(!p.contains("SortMergeJoin"), s"bm25 joins must broadcast:\n${p.take(3000)}")
  }

  test("weightedSample: bounded TakeOrderedAndProject, never a global Sort") {
    // orderBy + limit must fuse into per-partition top-n heaps + a driver
    // merge; a global Sort would materialize the whole corpus ordering
    val docs = graft.GraftSession.table(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), "\\s+")).as("w"))
    val p = graft.operators.Curation.weightedSample(
      docs, org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("w"), 50, seed = 7L)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort must not appear:\n${p.take(2000)}")
  }

  test("q_lm_score: no single-partition WindowExec, no checkpointed corpus scan") {
    // the model normalizer must be a scalar aggregate + broadcast cross
    // join — an unpartitioned WindowExec would serialize the whole trigram
    // vocabulary through one task; and the default path must recompute the
    // trigram extraction rather than materialize O(corpus chars) rows to
    // executor storage (localCheckpoint shows up as an ExistingRDD scan)
    val p = plan("q_lm_score")
    assert(!p.contains("Window "), s"unpartitioned window in q_lm_score:\n${p.take(2500)}")
    assert(!p.contains("ExistingRDD"),
      s"corpus-sized localCheckpoint must not be the default:\n${p.take(2500)}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"scalar total must broadcast:\n${p.take(2500)}")
  }

  test("q_traffic_max_lane: argmax-with-payload is one partial+final agg, no window funnel") {
    // the MaxFlow combiner must be max(struct(...)) in a hash aggregate with
    // a map-side partial (each overlapping sliding window ships ONE candidate
    // per (window, station) per partition) — NOT a row_number/WindowExec,
    // which would sort every exploded lane row inside each window partition
    val p = plan("q_traffic_max_lane")
    assert(!p.contains("Window "), s"argmax must not use WindowExec:\n${p.take(2500)}")
    assert(p.contains("partial_max") || p.contains("partial, max"),
      s"map-side partial max expected:\n${p.take(2500)}")
  }

  test("q_traffic_routes: per-station walk is one spillable lag window, no collect_list, no UDF") {
    // the consecutive-reading comparison runs ONCE per (route, station) as a
    // lag() over the timestamp-ordered station sequence — WindowExec streams
    // each group through a spillable row buffer, so the per-station history
    // never sits on the heap (the earlier sort_array(collect_list(...))
    // formulation buffered whole map partitions as JVM objects inside
    // ObjectHashAggregate's partial and tipped the sf30 sweep at 8g); pairs
    // then fan out to the <=4 covering windows and hash-aggregate
    val p = plan("q_traffic_routes")
    assert(p.contains("Window "), s"spillable lag window expected:\n${p.take(2500)}")
    assert(p.contains("partitionBy=[route#") || p.contains("route#"),
      s"window must partition by (route, station):\n${p.take(2500)}")
    assert(!p.contains("collect_list"),
      s"no corpus-sized collect_list buffering:\n${p.take(2500)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"no UDFs in the traffic-routes path:\n${p.take(2500)}")
    assert(!p.contains("ObjectHashAggregate"),
      s"no object-hash aggregate of raw readings:\n${p.take(2500)}")
    // both shuffles key on their full grouping sets — no route funnel
    assert(p.contains("hashpartitioning(route#") ||
      p.contains("hashpartitioning(wstart#"),
      s"shuffles must key on full grouping sets:\n${p.take(2500)}")
  }

  test("q_join_examples: dim side broadcasts — no shuffle of the fact table") {
    // JoinExamples' one-row-per-key country side is a dim table; the CoGBK
    // must lower to a broadcast-hash join, never a sort-merge (which would
    // shuffle every fact row on the join key)
    val p = plan("q_join_examples")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), s"dim join must broadcast:\n${p.take(2500)}")
  }

  test("q_tornadoes: indicator filter pushes to the scan, partial+final count pair") {
    // BigQueryTornadoes' shape: the event_type predicate must reach the
    // parquet scan, and the per-period count must combine map-side so the
    // single exchange carries <= 31 period rows per task, not raw events
    val p = plan("q_tornadoes")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]"),
      p.take(2500))
    assert(p.contains("partial_count"), s"map-side partial count expected:\n${p.take(2500)}")
    assert("Exchange".r.findAllIn(p).size == 1, s"one shuffle expected:\n${p.take(2500)}")
  }

  test("q_windowed_wc: word fan-out combines map-side; one shuffle of (window, word) partials") {
    // WindowedWordCount's shape: the explode fuses with the scan, and the
    // per-(window, word) count must combine BEFORE the exchange — the
    // shuffle carries vocabulary x window partials, never the raw word
    // fan-out (at 100 TB the fan-out is ~200x the document bytes)
    val p = plan("q_windowed_wc")
    assert(p.contains("partial_count"), s"map-side partial count expected:\n${p.take(2500)}")
    assert("Exchange".r.findAllIn(p).size == 1, s"one shuffle expected:\n${p.take(2500)}")
    assert(p.contains("Generate explode"), s"explode stays in the plan (codegen-fused):\n${p.take(2500)}")
  }

  test("q_filter_below_mean: the global-mean side input joins as a broadcast scalar") {
    // FilterExamples' Mean.globally singleton view: the 1-row stats frame
    // must broadcast (BroadcastNestedLoopJoin over a single row is free);
    // a shuffled join here would re-partition the whole events table to
    // meet one row
    val p = plan("q_filter_below_mean")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"singleton side input must broadcast:\n${p.take(2500)}")
  }

  test("q_spammy_users: building starts no Spark job; the one-row total broadcasts " +
      "and the per-user aggregate's exchange is reused") {
    GraftSession.table(spark, dir, "events") // the memoized schema read is not the query's
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val df = try {
      val built = SparkEntry.queries("q_spammy_users")(spark, dir)
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      built
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0, s"building q_spammy_users started ${jobs.get} Spark job(s)")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2500))
    df.collect()
    val done = df.queryExecution.executedPlan.toString
    assert(done.contains("ReusedExchange"), s"events scanned twice:\n${done.take(4000)}")
  }

  test("domain-mix apply: the epoch-rate table joins as a BROADCAST; the corpus never " +
       "shuffles and no window appears") {
    // Mixing.applyPlan's 100 TB claim: the only join is corpus ⋈ broadcast
    // (|domains| rows); a SortMergeJoin here would shuffle the whole corpus
    // to meet a 5-row table
    import org.apache.spark.sql.functions._
    val docs = GraftSession.table(spark, dir, "documents")
    val plan5 = Seq(("en", 1, 0.5, 100L), ("de", 0, 0.25, 50L))
    val out = graft.operators.Mixing.applyPlan(
      docs, col("lang"), col("doc_id"), plan5, seed = 7L)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window "),
      s"corpus must not shuffle against the tiny rate table:\n${p.take(2500)}")
  }

  test("q_corpus_report: ROLLUP is one Expand + one Exchange (never a scan per grain)") {
    val p = plan("q_corpus_report")
    assert(p.contains("Expand"), s"rollup should plan an Expand:\n${p.take(2500)}")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"all grouping sets must share a single shuffle:\n${p.take(2500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"partial+final aggregation expected:\n${p.take(2500)}")
  }

  test("randomProject: row-local — zero Exchange, native kernel in the projection") {
    import org.apache.spark.sql.functions._
    val embs = GraftSession.table(spark, dir, "embeddings")
    val out = graft.operators.Similarity.randomProject(
      embs, col("vec_id"), col("embedding"), 16, 42L)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n${p.take(2000)}")
    assert(p.contains("random_project"), s"native kernel expected:\n${p.take(2000)}")
  }

  test("q_key_skew: top-N is a bounded TakeOrdered over the counts frame, never a global Sort") {
    val p = plan("q_key_skew")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Sort "), s"profile must not globally sort:\n${p.take(2000)}")
  }

  test("q_corpus_diff: both sides reduce to digest frames before the join — no text in the shuffle") {
    // the Exchange inputs must carry (doc_id, md5) projections, not text
    val p = plan("q_corpus_diff")
    assert(p.contains("md5"), p.take(2500))
    assert(!p.linesIterator.filter(_.contains("Exchange")).mkString.contains("text"),
      s"digest-only shuffle expected:\n${p.take(2500)}")
  }

  test("q_tpch_q3: filters push to all three scans, bounded TakeOrdered top-10") {
    val p = plan("q_tpch_q3")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must reach the customer scan:\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q_tpch_q5: snowflake dims broadcast, no cartesian, partial+final agg") {
    val p = plan("q_tpch_q5")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"equi-joins only:\n${p.take(3000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("q_seq_ids: distributed zipWithIndex — range exchange, NO single-partition rank window") {
    val p = plan("q_seq_ids")
    assert(!p.contains("Window "),
      s"global row_number window funnel must not appear:\n${p.take(2000)}")
  }

  test("minHashIncremental against a BUCKETED band store: store side never re-shuffles") {
    // same 100 TB contract as the digest/vector stores: persist the band
    // buckets bucketed on (band, minhash) and an increment probes them
    // with no Exchange above the store scan
    import org.apache.spark.sql.functions._
    val docs = GraftSession.table(spark, dir, "documents")
    val store = graft.operators.Dedup.minHashStore(
      docs.filter(col("doc_id") < 400), col("text"), col("doc_id"), 3, 4)
    graft.sources.IO.writeBucketed(store, "b_mhstore", Seq("band", "minhash"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = graft.operators.Dedup.minHashIncremental(
        docs.filter(col("doc_id") >= 400), col("text"), col("doc_id"),
        spark.table("b_mhstore"), 3, 4)
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"store must be read bucket-aware:\n${p.take(2500)}")
      // value sanity vs the unbucketed formulation
      val plain = graft.operators.Dedup.minHashIncremental(
        docs.filter(col("doc_id") >= 400), col("text"), col("doc_id"), store, 3, 4)
      assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_mhstore")
    }
  }

  test("classifier GD round: JOIN-FREE codegen pass over the per-doc array cache; " +
      "rollup = one map-side-combined bucket shuffle") {
    // r18 contract (replaces the r14 exploded-frame pin): features live as
    // per-doc (bkts, cnts) arrays built by the HashedNgramBuckets kernel;
    // the per-round margin is the codegen'd WeightedBucketDot (no
    // broadcast join, no groupBy(doc_id)), and the WHOLE gradient round is
    // one pass whose only shuffle is the <= buckets+1-row rollup.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = GraftSession.table(spark, dir, "documents")
    val hashed = graft.operators.Classifier.hashedByDoc(
      docs, col("doc_id"), col("text"), col("lang") === "en", 512)
    try {
      def shuffles(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan
          .collect { case _: ShuffleExchangeExec => 1 }.sum
      // one GD-round pass, exactly as trainOnHashed builds it
      val w = new Array[Double](512); w(1) = 0.5
      val err = (lit(1.0) / (lit(1.0) + exp(-(lit(0.0) +
        graft.expressions.TextExpressions
          .weightedBucketDot(col("bkts"), col("cnts"), w)))) - col("y")).as("err")
      val round = hashed.select(err,
          explode(concat(
            array(struct(lit(-1L).as("bkts"), lit(1L).as("cnts"))),
            arrays_zip(col("bkts"), col("cnts")))).as("e"))
        .groupBy(col("e.bkts").as("bucket"))
        .agg(sum(col("err") * col("e.cnts")).as("g"), count(lit(1)).as("rows"))
      val rp = round.queryExecution.executedPlan
      assert(shuffles(round) == 1,
        s"GD round = exactly the per-bucket rollup shuffle:\n${rp.toString.take(2500)}")
      assert(!rp.toString.contains("Join"),
        s"GD round must be join-free (kernel-scored margin):\n${rp.toString.take(2500)}")
      // and the rollup partial-aggregates before it moves (<= buckets+1
      // rows per partition cross the wire)
      assert(rp.toString.contains("partial_sum") || rp.toString.contains("partial"),
        s"bucket rollup must map-side combine:\n${rp.toString.take(2000)}")
      // scoring stays a zero-shuffle row-local pass
      val scored = graft.operators.Classifier.scoreHashed(hashed, 0.0, w)
      assert(shuffles(scored) == 0,
        s"scoring must be row-local:\n${scored.queryExecution.executedPlan.toString.take(2000)}")
    } finally {
      hashed.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
