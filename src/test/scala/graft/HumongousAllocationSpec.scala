package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.functions.broadcast

/** The mechanism behind `GraftSession.builder`'s broadcast block size: G1
  * allocates an object of half a region or more as humongous, outside
  * eden. A JFR recording of allocations outside TLABs, taken in this JVM
  * around a broadcast join, must hold no such allocation made by Spark's
  * TorrentBroadcast (with Spark's 4 MiB default every broadcast makes at
  * least one). A region-sized array allocated inside the same recording
  * must be found by the same filter, so an empty result cannot come from a
  * recording that saw nothing. */
class HumongousAllocationSpec extends SparkSpec {

  test("no broadcast chunk is humongous; a region-sized array in the same recording is") {
    val region = SparkSpec.g1RegionBytes
    assume(region > 0, "this JVM does not run G1")
    val file = Files.createTempFile("humongous", ".jfr")
    val rec = new Recording()
    var probe: Array[Byte] = null
    try {
      rec.enable("jdk.ObjectAllocationOutsideTLAB").withStackTrace()
      rec.setDestination(file)
      rec.start()
      val facts = spark.range(0, 200000).selectExpr("id", "id * 2 AS v")
      val dim = spark.range(0, 50000).selectExpr("id", "id % 7 AS g")
      assert(facts.join(broadcast(dim), "id").count() == 50000)
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
    val fromBroadcast = humongous.filter(_.exists(_.contains("TorrentBroadcast")))
    assert(fromBroadcast.isEmpty, fromBroadcast.map(_.take(8).mkString(" < ")).mkString("\n"))
  }
}
