package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM). The PAssert analogue (reference:
  * SDK/testing/PAssert.java:263 containsInAnyOrder) is `assertRows`. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** containsInAnyOrder: compare ignoring row order (and Seq flavor);
    * delegates to the library's PAssert (graft.testing.PAssert). */
  def assertRows(df: org.apache.spark.sql.DataFrame, expected: Seq[Seq[Any]]): Unit =
    graft.testing.PAssert.containsInAnyOrder(df, expected)

  /** A session of its own with no-data micro-batches on or off. With them
    * off, every micro-batch reads data: one `addData`, one batch, and
    * timers fire only in batches that read data. */
  def sessionWithNoDataBatches(enabled: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", enabled.toString)
    s
  }

  /** Fresh streaming-checkpoint dir (shared by every streaming suite). */
  def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  /** The conf that picks the state store, and the two providers Spark
    * ships. A fresh `spark.newSession()` starts on the HDFS-backed default;
    * the shared [[spark]] session is on RocksDB for good once any suite
    * has built a transformWithState query in it. */
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDBProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val HdfsProvider = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** The provider recorded in each `offsets/<n>` entry of a streaming
    * checkpoint, in batch order. Spark records it at the first start and
    * reads it back on every restart, whatever the session says then. */
  def checkpointProviders(cp: String): Seq[String] = {
    val entry = ("\"" + java.util.regex.Pattern.quote(ProviderKey) + "\":\"([^\"]+)\"").r
    Option(new java.io.File(cp, "offsets").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      .map { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        entry.findFirstMatchIn(text).map(_.group(1))
          .getOrElse(fail(s"no state store provider in $f"))
      }
  }

  /** Names of the files under a checkpoint's `state` directory: the
    * HDFS-backed store writes `<version>.delta`, RocksDB `<version>.zip`
    * and `.sst` files. */
  def stateFileNames(cp: String): Seq[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(cp, "state"))
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.getFileName.toString).toList
    finally files.close()
  }

  /** The list-collecting CombineFn the trigger/session suites aggregate
    * with (sorted output so bags compare deterministically). */
  val collectLongsFn: graft.functions.CombineFn[Long, List[Long], List[Long]] =
    new graft.functions.CombineFn[Long, List[Long], List[Long]] {
      def createAccumulator(): List[Long] = Nil
      def addInput(acc: List[Long], in: Long): List[Long] = in :: acc
      def mergeAccumulators(a: List[Long], b: List[Long]): List[Long] = a ++ b
      def extractOutput(acc: List[Long]): List[Long] = acc.sorted
    }
}

object SparkSpec {
  /** This JVM's G1 region size in bytes, read straight from HotSpot; 0
    * under any other collector. */
  def g1RegionBytes: Long = java.lang.management.ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.HotSpotDiagnosticMXBean])
    .getVMOption("G1HeapRegionSize").getValue.toLong

  lazy val session: SparkSession = {
    // local[4, 2]: 4 threads, task maxFailures = 2 — a task that throws
    // retries once before failing the job. Inert for every suite except
    // RetryDeterminismSpec (whose planted first-attempt failures need the
    // retry); suites that assert job failure still fail (the retried
    // attempt throws the same deterministic error).
    // Every other conf is GraftSession.builder's, so the suites test the
    // session config that the oracle checks and the benchmark times.
    val s = GraftSession.builder("local[4, 2]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
