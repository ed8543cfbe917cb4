package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EventCodec, Sinks}
import graft.streaming.{Replay, StreamingFeatures}

/** SURVEY §5 row 4 — the full replay test: an S13-style ordered two-stream
  * replay (events + page_views interleaved in timestamp order, paced in
  * rate-controlled chunks like the producer's scaled sleeps) driven through
  * the complete streaming feature pipeline (decode shape → tag → watermark
  * → 20-min windows → union-pivot → both sinks), asserting the
  * feature-store contents at window boundaries against an independently
  * computed expectation.
  */
class ReplayE2ESpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rate-controlled two-stream replay lands correct features in the KV store") {
    val events = Replay.syntheticEvents(spark, 60) // 7 users, 1s apart
    val pageViews = events.drop("display_id").withColumn("traffic_source", lit(2))
    val log = Replay.mergedLog(events, pageViews)
    val chunks = Replay.batches(log, nBatches = 6)

    Sinks.InMemoryKV.clear()
    val stream = MemoryStream[(String, Long, String)](spark)
    val decoded = stream.toDF.toDF("uuid", "timestamp", "stream")
      .withColumn("event_time", EventCodec.eventTime(col("timestamp")))
    TestSpark.withFeatureTable("replaye2e") { url =>
      val q = StreamingFeatures.featurePipeline(
        StreamingFeatures.tagged(
          decoded.filter($"stream" === "events"),
          decoded.filter($"stream" === "page_views")),
        url, TestSpark.FeatureTable, Sinks.InMemoryKV)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("replay-e2e").toString)
        .start()

      // Rate control: the producer sleeps Δt·scale between sends
      // (`kafka_stream_producer.py:213-229`); under test that pacing becomes
      // chunked addData with a bounded pause — arrival order preserved.
      chunks.foreach { chunk =>
        stream.addData(chunk.toSeq.map(r =>
          (r.getString(0), r.getLong(1), r.getString(2))))
        Thread.sleep(20)
        q.processAllAvailable()
      }
      // Advance the watermark far past the data so every window closes.
      stream.addData(("zz", 100L * 86400 * 1000, "events"))
      q.processAllAvailable()
      q.stop()
    }

    // Independent expectation: batch recompute of per-user per-window counts.
    val expected = events.select($"uuid", $"event_time").withColumn("tag", lit("click"))
      .unionByName(pageViews.select($"uuid", $"event_time").withColumn("tag", lit("view")))
      .groupBy(window($"event_time", "20 minutes").as("w"), $"uuid")
      .agg(count(when($"tag" === "click", 1)).as("clicks"),
        count(when($"tag" === "view", 1)).as("views"))
      .select(
        concat(lit("feat:user:{"), $"uuid", lit("}:"),
          date_format($"w.end", "yyyyMMddHHmm")).as("key"),
        $"clicks", $"views")
      .collect()
      .map(r => r.getString(0) -> Map(
        "click20m" -> r.getLong(1).toString, "view20m" -> r.getLong(2).toString))
      .toMap

    val got = Sinks.InMemoryKV.data.toMap.removedAll(
      Sinks.InMemoryKV.data.keys.filter(_.contains("{zz}")))
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
