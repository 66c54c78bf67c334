package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session bootstrap + table loading for the graft engine.
  *
  * Spark-native replacement for the reference's `Pipeline.create(options)`
  * (reference: sdks/java/core/src/main/java/org/apache/beam/sdk/Pipeline.java:131):
  * a Beam Pipeline is a deferred DAG; in graft the SparkSession plus lazy
  * DataFrame lineage plays that role, and Catalyst supplies the optimizer
  * Beam never had.
  *
  * Scale notes: the master defaults to `local[N]` and shuffle partitions
  * to N, where N is `SPARK_GRAFT_CPUS` or, when that is unset, the JVM's
  * available processors; on a real cluster AQE coalesces and re-splits at
  * runtime, so we enable it unconditionally.
  *
  * State store provider: the session sets none, so each stateful operator
  * family gets the store it needs.
  *  - flatMapGroupsWithState (the fixed-window trigger engine,
  *    `Triggers.triggeredAggregate`), streaming dedup and Spark's built-in
  *    stateful operators run on Spark's default, the HDFS-backed provider:
  *    one key-value map per partition, no column families needed, and a
  *    per-batch commit that only writes a delta file. It keeps every state
  *    row on the heap; a stream whose state approaches the heap sets
  *    `spark.sql.streaming.stateStore.providerClass` to RocksDB itself
  *    before its first start.
  *  - transformWithState (stateful ParDo, GroupIntoBatches, the one pane
  *    processor for composite triggers on fixed, sliding and merging
  *    windows, the streaming as-of joins) needs
  *    column families, which only RocksDB has: each of those builders calls
  *    `Stateful.requireRocksDBStateStore`.
  *  - batch transformWithState builds a RocksDB store whatever the conf
  *    says, so no catalog query depends on it.
  * A query keeps the provider it first started with: the checkpoint's
  * offset log records it and a restart reads it back from there.
  *
  * Buffer sizes: under G1 an object of half a heap region or more is
  * humongous. It skips eden and holds whole regions of its own until the
  * next young GC, and every page it touches stays resident. At small
  * heaps the defaults of Spark and parquet make several kinds of them:
  * the 4 MiB chunks every broadcast (each stage's task binary included)
  * is cut into; the Tungsten pages of sorts, aggregates and joins, whose
  * size Spark derives from the execution pool (8 MiB at a 1 GiB heap);
  * the parquet writer's 1 MiB page compressor; parquet's vectored reads,
  * one buffer per run of column chunks; and HashAggregate's fast map,
  * whose two arrays are 512 KiB each. The builder sizes each of them at a
  * quarter of this JVM's region, so all are young objects; see
  * [[bufferSizes]] for the bounds.
  */
object GraftSession {

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** This JVM's G1 region size in bytes, or None under any other
    * collector. */
  private def g1RegionBytes: Option[Long] = scala.util.Try {
    val hs = java.lang.management.ManagementFactory.getPlatformMXBean(
      classOf[com.sun.management.HotSpotDiagnosticMXBean])
    if (hs.getVMOption("UseG1GC").getValue == "true")
      Some(hs.getVMOption("G1HeapRegionSize").getValue.toLong).filter(_ > 0)
    else None
  }.toOption.flatten

  /** The buffer families sized from the G1 region, one row each: the
    * library's own default size, whether only a local master's tasks
    * allocate it in this JVM, and the confs that set a size in bytes.
    * Spark's byte confs read a bare number in their own unit, so they get a
    * `k` suffix; parquet reads `Configuration.getInt`, so plain bytes. */
  private def bufferFamilies(heap: Long): Seq[(Long, Boolean, Long => Seq[(String, String)])] = Seq(
    // the chunks every broadcast, each stage's task binary included, is cut into
    (4L << 20, false, b => Seq("spark.broadcast.blockSize" -> s"${b >> 10}k")),
    // the Tungsten page of sorts, aggregates and joins, capped at 1 MiB, the
    // floor of the size Spark derives from the pool; a task holds at most
    // 8192 pages and fails rather than spills past them, so only while
    // 8192 pages cover heap - 300 MiB, which bounds the unified pool
    // whatever `spark.memory.fraction` is
    (1L << 20, true, b =>
      if (8192L * b >= heap - (300L << 20)) Seq("spark.buffer.pageSize" -> s"${b >> 10}k") else Nil),
    // the parquet writer's page, which is also its compressor's buffer
    (1L << 20, true, b => Seq("spark.hadoop.parquet.page.size" -> b.toString)),
    // parquet column-chunk reads: a vectored read allocates one buffer per
    // run of consecutive chunks, however long; the plain read cuts each run
    // into pieces of the allocation size
    (8L << 20, true, b => Seq("spark.hadoop.parquet.hadoop.vectored.io.enabled" -> "false",
      "spark.hadoop.parquet.read.allocation.size" -> b.toString)),
    // HashAggregate's first-level fast map: `int[2 << bit]` buckets and a
    // `long[1 << bit]` key-offset array, 8 << bit bytes each
    (8L << 16, true, b => Seq("spark.sql.codegen.aggregate.fastHashMap.capacityBit" ->
      (63 - java.lang.Long.numberOfLeadingZeros(b / 8)).toString)))

  /** The [[bufferFamilies]] confs at a quarter of the G1 region, never
    * above each family's default; none without G1 (`g1Region` None). A
    * family that only a local master's tasks allocate is left to Spark and
    * parquet on any other master, since the executors' regions are not
    * this JVM's. The builder passes this JVM's region and max heap. */
  private[graft] def bufferSizes(master: String, g1Region: Option[Long], heap: Long)
      : Seq[(String, String)] = {
    val local = master == "local" || master.startsWith("local[")
    for {
      region <- g1Region.toSeq
      (default, localOnly, confs) <- bufferFamilies(heap) if local || !localOnly
      kv <- confs(math.min(region / 4, default))
    } yield kv
  }

  def builder(master: String = s"local[$cpus]", shufflePartitions: Int = cpus)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // NOT raising spark.sql.adaptive.coalescePartitions.initialPartitionNum
      // globally: a 512-start was A/B'd in r17 as the fix for the sf30
      // verify-join per-task memory squeeze and it worked there, but the
      // catalog's ITERATIVE drivers (GD rounds, BPE merge rounds — many
      // tiny exchanges per query) regressed ~3x at sf0.1 from the
      // per-exchange map-side bucket overhead. Operators whose reduce-side
      // state grows with the corpus size instead size their own exchange
      // from the population (Dedup.verifyPartitionsFor — the SCALING.md
      // rule applied to partition counts).
      // Storage floor 0.1 (Spark default 0.5): every persist in this
      // library is MEMORY_AND_DISK (recomputable lineage or disk-backed
      // block), so evicting a cached block under pressure costs one disk
      // read — while the default floor pins half the unified pool away
      // from execution even when sorts/joins are starving. The failure
      // mode it prevents is real: the r15 sf30 sweep OOM'd
      // q_dedup_clusters' star-contraction sorts while half the pool sat
      // in no-longer-hot verify-join caches (BASELINE.md r16). On a
      // production cluster the same reasoning holds per executor. A/B on
      // healthy fixtures: BASELINE.md round 18, "spark.memory.storageFraction
      // A/B".
      .config("spark.memory.storageFraction", "0.1")
      // ContextCleaner depends on DRIVER GC to discover unreferenced
      // broadcasts/persists (several operators share an intermediate
      // across two branches of one action and rely on the cleaner for
      // release — Dedup.pairSimilarity's shingle-doc lists being the
      // largest). The default periodic-GC interval (30 min) lets a
      // long-lived session running many heavy queries back-to-back
      // accumulate tens of GBs of dead-but-unGC'd blocks; the r17 sf30
      // full sweep at the default 8g heap OOM'd two verify-join queries
      // in-sweep that pass in isolation. Two minutes bounds dead-block
      // lifetime at negligible GC cost (one driver GC per 2 min).
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Catalyst extensions (a NO-OP unless spark.graft.* confs enable a
      // rule — see graft.plans.GraftExtensions)
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
    bufferSizes(master, g1RegionBytes, Runtime.getRuntime.maxMemory)
      .foreach { case (k, v) => b.config(k, v) }
    b
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    // diagnosis knob: INFO exposes DAGScheduler stage→callsite mapping
    s.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    s
  }

  /** The driver's synthetic star schema (see /root/repo/TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Load one table from a scale-factor directory, normalizing every
    * timestamp column to session-local TIMESTAMP (LTZ) regardless of the
    * physical parquet encoding. The driver has regenerated the testdata
    * with three encodings so far — `events.ts` was int64 TIMESTAMP(NANOS)
    * through round 7 and `timestamp[us]` with no timezone (Spark:
    * TIMESTAMP_NTZ) from round 8 — so downstream code must never see the
    * physical type:
    *
    *  - int64-nanos: `nanosAsLong` surfaces it as LongType ns-since-epoch,
    *    floor-truncated to µs (the same truncation DuckDB's
    *    TIMESTAMP_NS→TIMESTAMP cast performs, so oracle comparisons agree);
    *  - TIMESTAMP_NTZ: the wall clock is interpreted as UTC — exactly how
    *    the DuckDB oracle reads a no-timezone timestamp[us] — via a cast
    *    under the enforced UTC session timezone;
    *  - TIMESTAMP (LTZ): passed through.
    *
    * After this, `unix_micros(ts)` (LTZ-only in Spark 4) is legal on every
    * table column everywhere downstream. */
  /** Parquet schemas inferred once per (absolute path) per JVM — METADATA
    * only, never data or results: schema inference is a distributed
    * footer-read job (30-100 ms) that the old path re-ran on every single
    * `table()` call, i.e. hundreds of times per bench sweep for the same
    * ten immutable fixture files. Passing the memoized schema via
    * `read.schema(...)` skips that job; the scan itself still reads the
    * parquet data from disk on every query (nothing computed is reused).
    * Keyed by absolute path so distinct scale dirs never collide; the
    * entry is exactly what inference under the enforced nanosAsLong conf
    * would return for that immutable file. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Normalized LOGICAL PLANS memoized per (session, absolute path) — the
    * same metadata-only discipline as [[schemaCache]], one level up: the
    * timestamp-normalization foldLeft below re-runs the analyzer once per
    * `withColumn` per call, ~5.7 ms/call measured warm at r19, and a full
    * bench sweep makes ~1000 `table()` calls for the same ten immutable
    * fixtures. A DataFrame is an immutable lazy plan (relation + one
    * projection) — reusing it is byte-identical to rebuilding it; the scan
    * still reads parquet data on every action, nothing computed is reused.
    * The entry is valid only for the session that built it (plans are
    * session-bound): keyed on path with the owning session checked by
    * REFERENCE on every hit, so a rebuilt session (bench ensureAlive after
    * an executor OOM) can never be served a stale plan. */
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, DataFrame)]()

  /** Drop memoized schemas/plans under `dir` — the sibling of
    * Queries.invalidateCounts for flows that REWRITE fixture tables at the
    * same path inside one JVM (Sf1Gen): a replaced table's file listing and
    * schema are captured in the memoized relation at build time, so a stale
    * entry would scan deleted part-files. Immutable fixture dirs (the
    * normal case) never need this. */
  private[graft] def invalidateTables(dir: String): Unit = {
    val prefix = new java.io.File(dir).getAbsolutePath + java.io.File.separator
    def drop[V](m: java.util.concurrent.ConcurrentHashMap[String, V]): Unit = {
      val it = m.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    }
    drop(schemaCache); drop(planCache)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = new java.io.File(path).getAbsolutePath
    val hit = planCache.get(key)
    if (hit != null && (hit._1 eq spark)) return hit._2
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    val normalized = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if name == "events" && f.name == "ts" =>
          // integer `div`, NOT floor(ts/1000): double division of an ~1e18
          // ns value loses precision below 2^-53 relative — off-by-1µs
          // truncations that break oracle hash-compares.
          d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          requireUtc(spark,
            s"normalizing NTZ column `${f.name}` of table `$name` to LTZ")
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
    planCache.put(key, (spark, normalized))
    normalized
  }

  /** Epoch microseconds from either timestamp flavor — a native identity
    * expression (both flavors store µs-since-epoch as a long internally)
    * that rejects, at ANALYSIS time, any non-timestamp input and any NTZ
    * input under a non-UTC session. See
    * [[graft.expressions.EpochMicrosExpr]] for the full contract; the old
    * cast-based formulation would have read a LongType epoch-micros column
    * as SECONDS since epoch — a silent 10^6 error this version fail-louds
    * on. */
  def epochMicros(c: Column): Column =
    ColumnBridge.column(graft.expressions.EpochMicrosExpr(ColumnBridge.expression(c)))

  /** Semantic UTC check: accepts "UTC", "Etc/UTC", "GMT", "+00:00", … —
    * any zone whose rules normalize to the UTC offset — not just the exact
    * string "UTC". Unknown zone ids are NOT UTC (fail-loud downstream). */
  private[graft] def isUtcZone(tz: String): Boolean =
    try java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS)
      .normalized() == java.time.ZoneOffset.UTC
    catch { case _: java.time.DateTimeException => false }

  private[graft] def requireUtc(spark: SparkSession, what: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(isUtcZone(tz),
      s"$what requires spark.sql.session.timeZone=UTC, got '$tz' (an NTZ " +
        "wall clock cast under any other zone would silently shift epoch " +
        "micros)")
  }

  /** Load every table and register temp views (for spark.sql usage). */
  def registerAll(spark: SparkSession, sfDir: String): Map[String, DataFrame] =
    tableNames.map { n =>
      val df = table(spark, sfDir, n)
      df.createOrReplaceTempView(n)
      n -> df
    }.toMap
}
