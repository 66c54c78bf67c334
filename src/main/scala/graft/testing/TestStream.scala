package graft.testing

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Scripted unbounded source for tests (reference:
  * SDK/testing/TestStream.java:52 — element batches, watermark advances
  * and processing-time advances replayed in order, each processed to
  * quiescence before the next, `:112` addElements, `:145` advanceWatermarkTo,
  * `:165` advanceProcessingTime, `:153` advanceWatermarkToInfinity).
  *
  * Spark mapping and its two documented narrowings:
  *  - Spark derives the watermark from data (max event time − delay), so
  *    `advanceWatermarkTo` rides a SENTINEL element carrying the target
  *    time — the caller supplies `sentinel: Long => T` and filters those
  *    rows downstream (the same idiom the trigger-transcript conformance
  *    suite uses).
  *  - processing time is wall-clock in Spark (no scriptable clock), so
  *    `advanceProcessingTime` sleeps for real — keep the delays short.
  */
object TestStream {

  /** Beam's BoundedWindow.TIMESTAMP_MAX_VALUE analogue: 9999-12-31. */
  val EndOfTimeMs: Long = 253402300799000L

  sealed trait Event[+T]
  final case class ElementEvent[T](els: Seq[(T, Long)]) extends Event[T]
  final case class WatermarkEvent(toMs: Long) extends Event[Nothing]
  final case class ProcessingTimeEvent(advanceMs: Long) extends Event[Nothing]

  final class Builder[T] private[TestStream] (
      private[TestStream] val events: Vector[Event[T]]) {
    /** addElements: (value, eventTimeMs) pairs appended as one batch. */
    def addElements(els: (T, Long)*): Builder[T] =
      new Builder(events :+ ElementEvent(els))
    def advanceWatermarkTo(ms: Long): Builder[T] =
      new Builder(events :+ WatermarkEvent(ms))
    def advanceProcessingTime(byMs: Long): Builder[T] =
      new Builder(events :+ ProcessingTimeEvent(byMs))
    def advanceWatermarkToInfinity(): Builder[T] = advanceWatermarkTo(EndOfTimeMs)
  }

  def create[T]: Builder[T] = new Builder[T](Vector.empty)

  /** Run the script against `pipeline` (a streaming transform over the
    * (value, event_time) dataset) and return the collected sink table.
    * Every event is processed to completion before the next one fires —
    * the reference runner's TestStream contract — so triggers observe the
    * same element/watermark interleaving the script declares. */
  def play[T](spark: SparkSession, script: Builder[T], sentinel: Long => T,
              outputMode: String = "append")(
      pipeline: Dataset[(T, Timestamp)] => DataFrame)(
      implicit enc: Encoder[(T, Timestamp)]): DataFrame = {
    val source = MemoryStream[(T, Timestamp)](spark)
    val name = s"teststream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-teststream")
    val q = pipeline(source.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(outputMode).option("checkpointLocation", ckpt.toString).start()
    try {
      script.events.foreach {
        case ElementEvent(els) =>
          source.addData(els.map { case (v, t) => (v, new Timestamp(t)) }: _*)
          q.processAllAvailable()
        case WatermarkEvent(to) =>
          source.addData((sentinel(to), new Timestamp(to)))
          q.processAllAvailable()
        case ProcessingTimeEvent(by) =>
          Thread.sleep(by)
          q.processAllAvailable()
      }
      q.processAllAvailable()
    } finally {
      q.stop()
      // the checkpoint (state-store files for stateful pipelines)
      // is dead once the query stops — reclaim it so repeated play() calls
      // don't grow /tmp for the life of the suite
      deleteRecursively(ckpt)
    }
    // Detach the result from the memory sink and drop its temp view before
    // returning — otherwise every play() permanently leaks a uniquely-named
    // view (and its buffered rows) for the life of the session.
    val sink = spark.table(name)
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(sink.collect().toIndexedSeq, 1), sink.schema)
    spark.catalog.dropTempView(name)
    out
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }
}
