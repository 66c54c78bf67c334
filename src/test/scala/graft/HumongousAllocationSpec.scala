package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.functions.{broadcast, col, count, length, sum}

/** The mechanism behind `GraftSession.builder`'s buffer sizes: G1
  * allocates an object of half a region or more as humongous, outside
  * eden. A JFR recording of allocations outside TLABs, taken in this JVM
  * around some work, must hold no such allocation from the buffers the
  * builder sizes. A region-sized array allocated inside the same recording
  * must be found by the same filter, so an empty result cannot come from a
  * recording that saw nothing. */
class HumongousAllocationSpec extends SparkSpec {

  /** Runs `body`, then allocates a region-sized probe array, inside one
    * recording; returns the stack (frame names, innermost first) of every
    * allocation of half a region or more, once the probe is among them. */
  private def humongousStacks(body: => Unit): Seq[Seq[String]] = {
    val region = SparkSpec.g1RegionBytes
    assume(region > 0, "this JVM does not run G1")
    val file = Files.createTempFile("humongous", ".jfr")
    val rec = new Recording()
    var probe: Array[Byte] = null
    try {
      rec.enable("jdk.ObjectAllocationOutsideTLAB").withStackTrace()
      rec.setDestination(file)
      rec.start()
      body
      probe = new Array[Byte](region.toInt)
      rec.stop()
    } finally rec.close()

    def frames(e: RecordedEvent): Seq[String] = Option(e.getStackTrace).toSeq
      .flatMap(_.getFrames.asScala.map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
    val humongous = try RecordingFile.readAllEvents(file).asScala.toSeq
      .filter(e => e.getEventType.getName == "jdk.ObjectAllocationOutsideTLAB" &&
        e.getLong("allocationSize") >= region / 2)
      .map(frames)
    finally Files.deleteIfExists(file)

    assert(probe.length == region)
    assert(humongous.exists(_.exists(_.startsWith(classOf[HumongousAllocationSpec].getName))),
      s"the region-sized probe array is missing from ${humongous.size} humongous allocations")
    humongous
  }

  /** Fails on every stack that names one of `sites`. */
  private def assertNoneFrom(stacks: Seq[Seq[String]], sites: String*): Unit = {
    val hits = stacks.filter(_.exists(f => sites.exists(f.contains)))
    assert(hits.isEmpty, hits.map(_.take(8).mkString(" < ")).mkString("\n"))
  }

  test("no broadcast chunk is humongous; a region-sized array in the same recording is") {
    val stacks = humongousStacks {
      val facts = spark.range(0, 200000).selectExpr("id", "id * 2 AS v")
      val dim = spark.range(0, 50000).selectExpr("id", "id % 7 AS g")
      assert(facts.join(broadcast(dim), "id").count() == 50000)
    }
    assertNoneFrom(stacks, "TorrentBroadcast")
  }

  test("no parquet page, read buffer or aggregate fast map is humongous") {
    // one file whose single column chunk is twice a region of hash bytes,
    // which no codec compresses; the grouped aggregate over it runs its
    // partial step on HashAggregate's fast map
    val rows = 2 * SparkSpec.g1RegionBytes / 512
    val dir = Files.createTempDirectory("humongous-parquet").toString
    val stacks = try humongousStacks {
      val path = s"$dir/t"
      spark.range(0, rows, 1, 1).selectExpr("id % 100 AS g",
        "unhex(concat_ws('', transform(sequence(0, 15), i -> sha2(concat(id, ':', i), 256)))) AS payload")
        .write.parquet(path)
      val agg = spark.read.parquet(path).groupBy("g")
        .agg(count("*").as("n"), sum(length(col("payload"))).as("bytes"))
      assert(agg.collect().map(_.getLong(2)).sum == rows * 512)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    assertNoneFrom(stacks, "HeapBytesCompressor", "VectorIOBufferPool", "ConsecutivePartList",
      "hashAgg_FastHashMap", "RowBasedKeyValueBatch")
  }
}
