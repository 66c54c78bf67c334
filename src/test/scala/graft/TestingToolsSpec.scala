package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.Triggers
import graft.streaming.Triggers._
import org.apache.spark.sql.Encoders

import graft.testing.{CombineFnTester, DoFnTester, GatherAllPanes, TestStream}

/** A DoFn exercising every lifecycle hook: records the call sequence,
  * splits words to the main output, routes empties to a tag, and emits a
  * per-bundle count from finishBundle. Top-level so the distributed test
  * serializes the fn, not the enclosing suite. */
class WordSplitFn(log: scala.collection.mutable.Buffer[String])
    extends DoFnTester.DoFn[String, String] {
  private var bundleCount = 0
  override def setup(): Unit = log += "setup"
  override def startBundle(): Unit = { bundleCount = 0; log += "startBundle" }
  def processElement(input: String, out: DoFnTester.MultiOutputReceiver[String]): Unit = {
    bundleCount += 1
    if (input.trim.isEmpty) out.output("empty", input)
    else input.split("\\s+").foreach(out.output)
  }
  override def finishBundle(out: DoFnTester.MultiOutputReceiver[String]): Unit = {
    out.output("bundle_size", bundleCount.toString); log += "finishBundle"
  }
  override def teardown(): Unit = log += "teardown"
}

/** The user-facing testing surface: TestStream scripting, the CombineFn
  * sharding-matrix tester, and per-window pane gathering — each replayed
  * against behavior the conformance suites already pin, so these helpers
  * are proven equivalent to the ad-hoc scripting they replace. */
class TestingToolsSpec extends SparkSpec {
  import spark.implicits._

  test("TestStream replays the fixed_default transcript through the trigger engine") {
    val script = TestStream.create[(String, Long)]
      .addElements((("data", 1L), 1000L), (("data", 2L), 2000L), (("data", 3L), 3000L),
        (("data", 10L), 10000L), (("data", 11L), 11000L))
      .advanceWatermarkTo(25000L)
    val table = TestStream.play(spark, script, to => ("__wm", to / 1000)) { ds =>
      val typed = ds.toDF("kv", "t")
        .select(col("kv._1").as("k"), col("t"), col("kv._2").as("v"))
        .withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)]
      val assigned = Triggers.assignFixedWindows(typed, 10000)
      Triggers.triggeredAggregateComposite(assigned, collectLongsFn,
          RepeatedlyT(AfterWatermarkT), windowSizeMs = 10000,
          allowedLatenessMs = 1000000L, accumulating = true)
        .toDF("k", "wstart", "wend", "values", "pane_index", "timing", "is_final")
    }
    val panes = table.filter(col("k") === "data").collect()
      .map(r => (r.getAs[Long]("wstart") / 1000, r.getSeq[Long](3).toList,
        r.getAs[String]("timing"))).toSet
    assert(panes == Set(
      (0L, List(1L, 2L, 3L), "ON_TIME"),
      (10L, List(10L, 11L), "ON_TIME")), s"got $panes")
  }

  test("TestStream.advanceProcessingTime and ToInfinity order events as scripted") {
    // a pure element script through an identity pipeline: every batch lands,
    // and the infinity watermark sentinel arrives last
    val script = TestStream.create[(String, Long)]
      .addElements((("a", 1L), 1000L))
      .advanceProcessingTime(50L)
      .addElements((("b", 2L), 2000L))
      .advanceWatermarkToInfinity()
    val table = TestStream.play(spark, script, to => ("__wm", to)) { ds =>
      ds.toDF("kv", "t").select(col("kv._1").as("k"), col("kv._2").as("v"), col("t"))
    }
    val rows = table.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("a", 1L), ("b", 2L), ("__wm", TestStream.EndOfTimeMs)))
  }

  test("CombineFnTester: order/sharding-insensitive fns pass the matrix") {
    CombineFnTester.testCombineFn(new graft.functions.MeanFn(),
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0), 3.5)
    CombineFnTester.testCombineFn(new graft.functions.TopKCombineFn[Long](2),
      Seq(5L, 1L, 4L, 2L, 3L), List(5L, 4L))
    CombineFnTester.testCombineFn(collectLongsFn, Seq(3L, 1L, 2L), List(1L, 2L, 3L))
  }

  test("CombineFnTester: a legitimate NaN output is not a false failure") {
    val ratio = new graft.functions.CombineFn[Double, (Double, Double), Double] {
      def createAccumulator(): (Double, Double) = (0.0, 0.0)
      def addInput(acc: (Double, Double), in: Double): (Double, Double) =
        (acc._1 + in, acc._2 + math.abs(in))
      def mergeAccumulators(a: (Double, Double), b: (Double, Double)): (Double, Double) =
        (a._1 + b._1, a._2 + b._2)
      def extractOutput(acc: (Double, Double)): Double = acc._1 / acc._2 // 0/0 = NaN
    }
    CombineFnTester.testCombineFn(ratio, Seq(0.0, 0.0, 0.0, 0.0, 0.0), Double.NaN)
  }

  test("CombineFnTester: an order-sensitive fn is caught by the reversed-shard pass") {
    val firstSeen = new graft.functions.CombineFn[Long, Option[Long], Long] {
      def createAccumulator(): Option[Long] = None
      def addInput(acc: Option[Long], in: Long): Option[Long] = acc.orElse(Some(in))
      def mergeAccumulators(a: Option[Long], b: Option[Long]): Option[Long] = a.orElse(b)
      def extractOutput(acc: Option[Long]): Long = acc.getOrElse(-1L)
    }
    intercept[AssertionError] {
      CombineFnTester.testCombineFn(firstSeen, Seq(1L, 2L, 3L, 4L, 5L, 6L), 1L)
    }
  }

  test("GatherAllPanes folds a pane stream into per-window pane sequences") {
    val panes = Seq(
      ("k1", 0L, 10L, Seq(1L), 0L, "EARLY", false),
      ("k1", 0L, 10L, Seq(1L, 2L), 1L, "ON_TIME", true),
      ("k1", 10L, 20L, Seq(9L), 0L, "ON_TIME", true),
      ("k2", 0L, 10L, Seq(7L), 0L, "ON_TIME", true)
    ).toDF("k", "wstart", "wend", "values", "pane_index", "timing", "is_final")
    val gathered = GatherAllPanes.perWindow(panes)
    assert(gathered.count() == 3)
    val k1w0 = gathered.filter(col("k") === "k1" && col("wstart") === 0L)
      .select(col("panes")).collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(k1w0.size == 2)
    assert(k1w0.head.getAs[String]("timing") == "EARLY" &&
      k1w0.last.getAs[String]("timing") == "ON_TIME")
    assert(k1w0.last.getAs[Boolean]("is_final"))
  }

  // ---------------------------------------------------------- DoFnTester

  test("DoFnTester drives setup/startBundle/process/finishBundle/teardown and captures tags") {
    val log = scala.collection.mutable.Buffer.empty[String]
    val tester = DoFnTester.of(new WordSplitFn(log))
    val main1 = tester.processBundle(Seq("a b", "", "c"))
    assert(main1 == Seq("a", "b", "c"))
    assert(tester.peekOutputElements("empty") == Seq(""))
    assert(tester.peekOutputElements("bundle_size") == Seq("3"))
    // second bundle: setup NOT repeated, bundle counter reset
    val main2 = tester.processBundle(Seq("d e"))
    assert(main2 == Seq("d", "e"))
    assert(tester.peekOutputElements("bundle_size") == Seq("3", "1"))
    // peek accumulates across bundles; take clears
    assert(tester.peekOutputElements == Seq("a", "b", "c", "d", "e"))
    assert(tester.takeOutputElements == Seq("a", "b", "c", "d", "e"))
    assert(tester.peekOutputElements.isEmpty)
    tester.close()
    assert(log.toList == List("setup", "startBundle", "finishBundle",
      "startBundle", "finishBundle", "teardown"))
    intercept[IllegalArgumentException] { tester.processBundle(Seq("x")) }
  }

  test("DoFnTester.asPartitionFunction runs the same DoFn distributed, partition = bundle") {
    val input = spark.createDataset(Seq("a b", "c", "", "d e f"))(Encoders.STRING)
      .repartition(2)
    val out = input.mapPartitions(
        DoFnTester.asPartitionFunction(new WordSplitFn(
          scala.collection.mutable.ArrayBuffer.empty[String])))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .collect()
    val main = out.collect { case (DoFnTester.MainTag, v) => v }.toSet
    assert(main == Set("a", "b", "c", "d", "e", "f"))
    assert(out.collect { case ("empty", v) => v }.toSeq == Seq(""))
    // one finishBundle emission per non-empty partition, sizes sum to 4
    val bundleSizes = out.collect { case ("bundle_size", v) => v.toInt }
    assert(bundleSizes.sum == 4 && bundleSizes.forall(_ >= 0))
  }

  test("the shared test session carries GraftSession.builder's confs") {
    // the confs the session was built with, not the runtime SQL conf that
    // a suite may have changed and restored since
    val conf = spark.sparkContext.getConf
    val expected = Seq(
      "spark.master" -> "local[4, 2]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.memory.storageFraction" -> "0.1",
      "spark.cleaner.periodicGC.interval" -> "2min",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> classOf[graft.plans.GraftExtensions].getName)
    for ((k, v) <- expected) assert(conf.getOption(k).contains(v), k)
    // the buffer sizes the builder derived from this JVM's G1 region and
    // heap, and 8192 pages (a task's page table) cover the execution pool
    val region = Some(SparkSpec.g1RegionBytes).filter(_ > 0)
    val heap = Runtime.getRuntime.maxMemory
    val derived = GraftSession.bufferSizes("local[4, 2]", region, heap)
    assert(derived.nonEmpty == region.nonEmpty)
    for ((k, v) <- derived) assert(conf.getOption(k).contains(v), k)
    val pool = (heap - (300L << 20)) * conf.getDouble("spark.memory.fraction", 0.6)
    for (_ <- conf.getOption("spark.buffer.pageSize"))
      assert(8192L * conf.getSizeAsBytes("spark.buffer.pageSize") >= pool)

    // the benchmark's 1 GiB heap (1 MiB regions): every buffer at 256 KiB,
    // a quarter region; the fast map's two arrays are 8 << 15 bytes
    val MiB = 1L << 20
    assert(GraftSession.bufferSizes("local[4]", Some(MiB), 1L << 30).toMap == Map(
      "spark.broadcast.blockSize" -> "256k",
      "spark.buffer.pageSize" -> "256k",
      "spark.hadoop.parquet.page.size" -> "262144",
      "spark.hadoop.parquet.hadoop.vectored.io.enabled" -> "false",
      "spark.hadoop.parquet.read.allocation.size" -> "262144",
      "spark.sql.codegen.aggregate.fastHashMap.capacityBit" -> "15"))
    // 4 MiB regions (a 7 GiB heap): a quarter region is 1 MiB, and nothing
    // goes above the libraries' defaults (1 MiB parquet page, 8 MiB read
    // allocation, capacity bit 16)
    assert(GraftSession.bufferSizes("local", Some(4 * MiB), 7L << 30).toMap == Map(
      "spark.broadcast.blockSize" -> "1024k",
      "spark.buffer.pageSize" -> "1024k",
      "spark.hadoop.parquet.page.size" -> "1048576",
      "spark.hadoop.parquet.hadoop.vectored.io.enabled" -> "false",
      "spark.hadoop.parquet.read.allocation.size" -> "1048576",
      "spark.sql.codegen.aggregate.fastHashMap.capacityBit" -> "16"))
    // a heap that 8192 one-MiB pages do not cover keeps Spark's page size
    assert(!GraftSession.bufferSizes("local", Some(8 * MiB), 16L << 30)
      .exists(_._1 == "spark.buffer.pageSize"))
    // on a cluster the executors' regions are not this JVM's: only the
    // driver-made broadcast chunk is sized
    assert(GraftSession.bufferSizes("spark://host:7077", Some(MiB), 1L << 30) ==
      Seq("spark.broadcast.blockSize" -> "256k"))
    // without G1 nothing is set
    assert(GraftSession.bufferSizes("local[4]", None, 1L << 30).isEmpty)
  }
}
