package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.sources.Sinks
import graft.streaming.StreamingFeatures

/** `feature_stream`: the reference pipeline. A seeded clickstream flows
  * through `MemoryStream` into the 20-minute `windowedCounts` and, per
  * micro-batch, into both the JDBC upsert (in-memory Derby) and the KV
  * HSET sink. A closed-loop drain measures per-pass cost; an open loop at
  * a fixed rate measures send-to-commit latency.
  */
final class StreamRun(run: Run) {
  import run.{spark, tracer}
  import spark.implicits._

  val DrainRows = 8000
  val DrainBatch = 4000
  val RatePerS = 2000
  val TickMs = 100
  /** Seconds of one warm drain pass on 4 cores. */
  val DrainPassS = 5.5
  val Start = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  val Sentinel: Inputs.Click =
    ("__sentinel__", new java.sql.Timestamp(Start + 90L * 86400000), "click")

  /** Commit instants and watermark drops of every micro-batch, from the
    * progress events; the end offset says which sent rows a batch held.
    */
  private final class Commits extends StreamingQueryListener {
    val seen = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var dropped = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      dropped += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      val end = scala.util.Try(p.sources.head.endOffset.toLong).getOrElse(-1L)
      val commitMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L)
      synchronized(seen += (end -> commitMs))
    }
  }
  private val commits = new Commits

  private var passN = 0

  /** One pipeline from a fresh source, state and sink. `feed` sends the
    * rows, then [[Sentinel]], whose far-future event time closes every
    * window, and waits until all is processed. The sinks must then equal
    * `expected`. Returns the seconds `feed` took.
    */
  private def pipeline(expected: Set[Inputs.Feature], label: String)(
      feed: (MemoryStream[Inputs.Click], StreamingQuery) => Unit): Double = {
    passN += 1
    val url = s"jdbc:derby:memory:perfbench$passN;create=true"
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE features_20m (uuid VARCHAR(64) NOT NULL,
        | window_key VARCHAR(12) NOT NULL, clicks BIGINT, views BIGINT,
        | PRIMARY KEY (uuid, window_key))""".stripMargin)
    finally conn.close()
    Sinks.InMemoryKV.clear()
    val dropped0 = commits.dropped
    val sinkRows = spark.sparkContext.longAccumulator("sink_rows")
    val stream = MemoryStream[Inputs.Click](spark)
    val features = StreamingFeatures.windowedCounts(
      stream.toDF().toDF("uuid", "event_time", "tag"), "20 minutes")
    val ckpt = Files.createTempDirectory(Paths.get(run.work), "ckpt")
    val passSpan = tracer.current
    val q: StreamingQuery = features.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span("micro_batch", id.toString, parent = passSpan) {
          val t0 = System.nanoTime()
          tracer.span("sources.jdbc_upsert")(Sinks.jdbcUpsertBatchPortable(
            batch.select(col("uuid"),
              date_format(col("window_end"), "yyyyMMddHHmm").as("window_key"),
              col("clicks"), col("views")),
            url, "features_20m", Seq("uuid", "window_key")))
          val t1 = System.nanoTime()
          tracer.span("sources.kv_hset")(StreamingFeatures.redisRows(batch)
            .foreachPartition { (it: Iterator[Row]) =>
              it.foreach { r =>
                Sinks.InMemoryKV.hset(r.getString(0), r.getMap[String, String](1).toMap)
                sinkRows.add(1)
              }
            })
          if (tracer.on) run.counters.foreach { c =>
            c.record("sources.jdbc_upsert_ms", (t1 - t0) / 1e6)
            c.record("sources.kv_hset_ms", (System.nanoTime() - t1) / 1e6)
          }
        }
      }
      .start()
    try {
      val (_, s) = run.secs(feed(stream, q))
      Shim.drain(spark)
      if (tracer.on) run.counters.foreach(_.record("sources.sink_rows", sinkRows.value.toDouble))
      run.attempted += 1
      val derby = derbyRows(s"jdbc:derby:memory:perfbench$passN")
      val kv = Sinks.InMemoryKV.data.toMap
      val expectedKv = expected.map { case (u, w, c, v) =>
        s"feat:user:{$u}:$w" -> Map("click20m" -> c.toString, "view20m" -> v.toString)
      }.toMap
      val drops = commits.dropped - dropped0
      if (derby != expected || kv != expectedKv || drops != 0)
        run.fail(label, new IllegalStateException(
          s"sink mismatch: derby ${derby.size}/${expected.size} rows, kv ${kv.size}/" +
            s"${expectedKv.size} keys, ${derby == expected}/${kv == expectedKv}, $drops dropped"))
      s
    } finally {
      q.stop()
      try DriverManager.getConnection(s"jdbc:derby:memory:perfbench$passN;drop=true")
      catch { case _: SQLException => () } // a dropped in-memory DB reports 08006
      Files.walk(ckpt).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }
  }

  private def derbyRows(url: String): Set[Inputs.Feature] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT uuid, window_key, clicks, views FROM features_20m")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    } finally conn.close()
  }

  private def drain(rows: Array[Inputs.Click], expected: Set[Inputs.Feature],
      label: String): Double = tracer.span("stream_pass", label) {
    pipeline(expected, label) { (stream, q) =>
      val chunks = rows.grouped(DrainBatch).toSeq
      chunks.init.foreach { chunk =>
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      stream.addData(chunks.last.toSeq :+ Sentinel)
      q.processAllAvailable()
    }
  }

  /** Open loop: ticks of `RatePerS * TickMs / 1000` fresh rows sent on a
    * fixed schedule whatever the pipeline does. Each row's latency runs
    * from its tick's due instant to the commit of the batch holding it.
    */
  private def openLoop(ticks: Array[Array[Inputs.Click]],
      expected: Set[Inputs.Feature]): (Seq[Double], Double) = {
    val latencies = mutable.ArrayBuffer.empty[Double]
    var lateMax = 0.0
    pipeline(expected, "open_loop") { (stream, q) =>
      commits.synchronized(commits.seen.clear())
      val epoch0 = System.currentTimeMillis() + 100
      val nano0 = System.nanoTime() + 100L * 1000000
      val sent = ticks.indices.map { k =>
        val dueNs = nano0 + k.toLong * TickMs * 1000000
        var wait = dueNs - System.nanoTime()
        while (wait > 0) {
          Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          wait = dueNs - System.nanoTime()
        }
        lateMax = math.max(lateMax, -wait / 1e6)
        stream.addData(ticks(k).toSeq).json().toLong -> (epoch0 + k.toLong * TickMs)
      }
      stream.addData(Seq(Sentinel))
      q.processAllAvailable()
      Shim.drain(spark)
      val seen = commits.synchronized(commits.seen.toList).sortBy(_._1)
      sent.zip(ticks).foreach { case ((offset, dueMs), rows) =>
        seen.find(_._1 >= offset).foreach { case (_, commitMs) =>
          latencies ++= Iterator.fill(rows.length)((commitMs - dueMs).toDouble)
        }
      }
    }
    (latencies.toSeq, lateMax)
  }

  def apply(): Map[String, Any] = {
    spark.streams.addListener(commits)
    val spacingMs = 50.0
    val tickRows = RatePerS * TickMs / 1000
    val openS = run.seconds / 2
    // set-up: the seeded drain and open-loop inputs, made three times
    var drainRows: Array[Inputs.Click] = null
    var ticks: Array[Array[Inputs.Click]] = null
    val setups = (1 to 3).map(_ => run.secs {
      drainRows = Inputs.clicks(run.seed, DrainRows, Start, spacingMs)
      ticks = Inputs.clicks(run.seed + 1, (openS * RatePerS).toInt, Start,
        1000.0 / RatePerS).grouped(tickRows).toArray
      DriverManager.getConnection("jdbc:derby:memory:perfbench_setup;create=true").close()
    }._2)
    val expectedDrain = Inputs.expectedFeatures(drainRows.toSeq)
    val expectedOpen = Inputs.expectedFeatures(ticks.flatten.toSeq)
    val (cold, coldLayer) = run.coldCodegen(
      tracer.span("workload", "cold")(drain(drainRows, expectedDrain, "cold")))
    run.sampleHeap()
    run.counters.foreach(_.reset())
    val (warm, withTrace) = tracer.span("workload", "warm") {
      run.warmPasses(run.passCount(run.seconds - openS, DrainPassS))(on =>
        drain(drainRows, expectedDrain, if (on) "traced" else "warm"))
    }
    val layer = run.layers(withTrace.size) ++ coldLayer
    tracer.on = false
    val (latencies, lateMs) = openLoop(ticks, expectedOpen)
    run.attempted += 1
    if (lateMs > TickMs)
      run.fail("open_loop", new IllegalStateException(f"generator $lateMs%.1f ms late"))
    if (latencies.size != ticks.map(_.length).sum)
      run.fail("open_loop", new IllegalStateException("a sent tick has no commit"))
    run.sampleHeap()
    spark.streams.removeListener(commits)
    run.common ++ Map("setup_s" -> setups, "cold_s" -> cold, "warm_s" -> warm,
      "traced_warm_s" -> withTrace, "drain_rows" -> DrainRows,
      "latency_ms" -> latencies, "late_ms_max" -> lateMs,
      "layers" -> (if (tracer.enabled) layer + ("loadgen.late_ms_max" -> lateMs) else layer))
  }
}
