package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sinks
import graft.streaming.{Replay, StreamingFeatures}

/** End-to-end pipeline specs: the declared Redis key families, the J5
  * chained-stateful global feature, upsert idempotence (T7), replay
  * ordering (S13), and the preprocessing layout (S14/S15).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("all declared Redis key families render the reference key grammar") {
    val doc = Seq((7L, ts("2016-06-14 00:05:00"), 3L)).toDF("document_id", "window_end", "cnt")
    assert(StreamingFeatures.docKeyRows(doc).select("redis_key").as[String].head()
      == "feat:doc:{7}:201606140005")
    val disp = Seq((9L, ts("2016-06-14 00:05:00"), 2L)).toDF("display_id", "window_end", "cnt")
    assert(StreamingFeatures.displayKeyRows(disp).select("redis_key").as[String].head()
      == "feat:display:{9}:201606140005")
    val geo = Seq((ts("2016-06-14 00:05:00"), "US>TX>623", 11L)).toDF("window_end", "top_geo", "total")
    assert(StreamingFeatures.geoKeyRows(geo, "geo_doc").select("redis_key").as[String].head()
      == "feat:geo_doc:{US>TX>623}")
  }

  test("J5: stream-agg inner join on window end (feat:global:5m) runs chained stateful") {
    val ev = MemoryStream[(String, Timestamp, Long, String)](spark)
    val events = ev.toDF.toDF("uuid", "event_time", "display_id", "geo_location")
    val geoTop = StreamingFeatures.geoTop(events)
    val active = StreamingFeatures.activeUsers(
      events.select(col("uuid"), col("event_time"), lit("click").as("tag")))
    val global = StreamingFeatures.globalFeature(geoTop, active)

    val q = global.writeStream.outputMode("append").format("memory")
      .queryName("global5m").start()
    ev.addData(
      ("u1", ts("2016-06-14 00:01:00"), 1L, "US>TX>623"),
      ("u2", ts("2016-06-14 00:02:00"), 2L, "US>TX>623"),
      ("u3", ts("2016-06-14 00:03:00"), 3L, "US>CA>803"))
    q.processAllAvailable()
    ev.addData(("zz", ts("2016-06-14 06:00:00"), 9L, "ZZ"))
    q.processAllAvailable()
    ev.addData(("zz", ts("2016-06-14 23:00:00"), 9L, "ZZ"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("global5m").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    val first = rows.get("feat:global:5m:201606140005")
    assert(first.isDefined, s"missing first-window key in ${rows.keySet}")
    assert(first.get("top_geo") == "US>TX>623")
    assert(first.get("geo_total") == "2")
    assert(first.get("active_users") == "3")
  }

  test("T7: re-applying the same batch to the upsert sink is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("ups").toString + "/t"
    val b1 = Seq(("u1", ts("2016-06-14 00:20:00"), 1L, 2L), ("u2", ts("2016-06-14 00:20:00"), 3L, 0L))
      .toDF("uuid", "window_end", "click20m", "view20m")
    Sinks.parquetUpsert(b1, dir, Seq("uuid", "window_end"))
    Sinks.parquetUpsert(b1, dir, Seq("uuid", "window_end")) // idempotent
    assert(spark.read.parquet(dir).count() == 2)
    // PK conflict: new values win
    val b2 = Seq(("u1", ts("2016-06-14 00:20:00"), 5L, 9L))
      .toDF("uuid", "window_end", "click20m", "view20m")
    Sinks.parquetUpsert(b2, dir, Seq("uuid", "window_end"))
    val out = spark.read.parquet(dir)
    assert(out.count() == 2)
    assert(out.filter($"uuid" === "u1").select("click20m").as[Long].head() == 5L)
  }

  test("E1 lifecycle twin: raw stream -> projection -> PK-upsert table") {
    // The Kafka->Postgres continuous pipe (SURVEY §3 E1): decoded rows +
    // proc-time audit column, foreachBatch PK upsert; late duplicates of a
    // PK overwrite rather than append (the reference's idempotence story).
    val ev = MemoryStream[(Long, String, Long)](spark)
    val decoded = ev.toDF.toDF("display_id", "uuid", "timestamp")
      .withColumn("event_time", graft.sources.EventCodec.eventTime(col("timestamp")))
    val projected = StreamingFeatures.rawSinkProjection(decoded)
    val table = java.nio.file.Files.createTempDirectory("rawsink").toString + "/events"
    val q = projected.writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("rawsink-ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Sinks.parquetUpsert(batch, table, Seq("uuid", "display_id"))
      }.start()
    ev.addData((1L, "u1", 1000L), (2L, "u1", 2000L), (3L, "u2", 3000L))
    q.processAllAvailable()
    ev.addData((1L, "u1", 9000L)) // same PK re-delivered: upsert, not append
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(table)
    assert(out.count() == 3) // PK (uuid, display_id) deduped
    assert(out.columns.contains("act_load_time")) // P1 audit column present
    val u1d1 = out.filter($"uuid" === "u1" && $"display_id" === 1L)
      .select("timestamp").as[Long].head()
    assert(u1d1 == 9000L, "newest delivery must win the PK conflict")
  }

  test("S13: merged replay log is globally timestamp-ordered with both streams") {
    val events = Replay.syntheticEvents(spark, 20)
    val pv = events.drop("display_id").withColumn("traffic_source", lit(1))
    val log = Replay.mergedLog(events, pv)
    val tsSeq = log.select("timestamp").as[Long].collect().toSeq
    assert(tsSeq == tsSeq.sorted)
    assert(log.select("stream").distinct().count() == 2)
    val batches = Replay.batches(log, 4)
    assert(batches.map(_.length).sum == 40)
  }

  test("S14: CSV ingest reads header + infers schema like the notebook") {
    val dir = java.nio.file.Files.createTempDirectory("csv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/events.csv"),
      "display_id,timestamp,platform\n1,1000,1\n2,2000,\\N\n3,3000,2\n")
    val df = operators.Preprocess.readCsv(spark, s"$dir/events.csv")
    assert(df.columns.toSeq == Seq("display_id", "timestamp", "platform"))
    assert(df.schema("display_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df.count() == 3)
    val fixed = operators.Preprocess.repairPlatform(
      df.withColumn("platform", col("platform").cast("string")), Seq(2L))
    assert(fixed.count() == 3) // \N row repaired to platform 1
  }

  test("preprocess: platform repair drops out-of-domain rows and repairs known ids") {
    val raw = Seq(
      (1L, 100L, "1"), (2L, 200L, "\\N"), (3L, 300L, "7"), (4L, 400L, "2"))
      .toDF("display_id", "timestamp", "platform")
    val fixed = operators.Preprocess.repairPlatform(raw, knownDisplayIds = Seq(2L))
    val plats = fixed.select("display_id", "platform").as[(Long, String)].collect().toMap
    assert(plats == Map(1L -> "1", 2L -> "1", 4L -> "2")) // 3 dropped, 2 repaired
  }

  test("S15: toPartitionedLayout writes platform=/event_date= dirs of time-sorted, repaired rows") {
    val out = java.nio.file.Files.createTempDirectory("layout").toString + "/events"
    val day = 86400000L
    // timestamp offset 2 ms decodes to 2016-06-14 04:00 UTC; + day is the 15th
    val raw = Seq(
      (1L, day + 500L, "1"), (1L, 40L, "1"), (1L, 2L, "1"),
      (2L, 30L, "\\N"),  // known display id: repaired to platform 1
      (3L, 20L, "7"),    // out of domain, unknown id: dropped
      (4L, day + 9L, "2"), (4L, day + 3L, "2"), (4L, 10L, "2"))
      .toDF("display_id", "timestamp", "platform")
    operators.Preprocess.toPartitionedLayout(raw, out, knownDisplayIds = Seq(2L))
    def dirs(p: String): Seq[String] =
      new java.io.File(p).listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs(out) == Seq("platform=1", "platform=2"))
    for (p <- dirs(out))
      assert(dirs(s"$out/$p") == Seq("event_date=2016-06-14", "event_date=2016-06-15"), p)
    val back = spark.read.parquet(out)
    assert(back.select("display_id", "platform").as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 1), (1L, 1), (1L, 1), (2L, 1), (4L, 2), (4L, 2), (4L, 2)))
    val byFile = back.select(input_file_name(), $"timestamp").as[(String, Long)]
      .collect().groupBy(_._1).values.map(_.map(_._2).toSeq)
    assert(byFile.nonEmpty && byFile.forall(ts => ts == ts.sorted), byFile.toString)
  }

  test("E3 lifecycle: per-processingDate daily runs upserted day-by-day equal the all-days job") {
    // The reference job takes --processingDate (Airflow {{ ds }}) and
    // PK-upserts one day per run (`feature_batch_update.py:98-139`).
    // Replaying every day through the upsert sink — with one day re-run to
    // prove idempotence — must reconstruct exactly the all-days aggregate.
    import java.nio.file.Files
    val sf = TestSpark.sf
    val days = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("d"))
      .distinct().as[String].collect().sorted
    assert(days.length > 1, "fixture must span multiple days")
    val table = Files.createTempDirectory("e3feat").toString + "/features"
    days.foreach { d =>
      Sinks.parquetUpsert(operators.FeatureJobs.dailyFeatures(spark, sf, d),
        table, Seq("user_id", "window_end"))
    }
    // idempotent re-run of the last day (T7 over the E3 path)
    Sinks.parquetUpsert(operators.FeatureJobs.dailyFeatures(spark, sf, days.last),
      table, Seq("user_id", "window_end"))
    val got = spark.read.parquet(table)
      .select("user_id", "window_end", "click20m", "view20m").collect().toSet
    val oracle = operators.FeatureJobs.dailyFeatures(spark, sf)
      .select("user_id", "window_end", "click20m", "view20m").collect().toSet
    assert(got == oracle)
  }

  test("JDBC upsert round-trip on embedded Derby: live bindings + PK idempotence") {
    // Round-1 gap: the upsert writers had SQL goldens only, never a real
    // JDBC connection. Derby ships in /opt/spark/jars, so the portable
    // (UPDATE-then-INSERT) writer gets a genuine driver/binding/PK test.
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE features_20m (uuid VARCHAR(64) NOT NULL,
        | window_end TIMESTAMP NOT NULL, click20m BIGINT, view20m BIGINT,
        | PRIMARY KEY (uuid, window_end))""".stripMargin)
    finally conn.close()
    val pk = Seq("uuid", "window_end")
    val b1 = Seq(("u1", ts("2016-06-14 00:20:00"), 1L, 2L),
      ("u2", ts("2016-06-14 00:20:00"), 3L, 4L))
      .toDF("uuid", "window_end", "click20m", "view20m")
    Sinks.jdbcUpsertBatchPortable(b1, url, "features_20m", pk)
    val b2 = Seq(("u1", ts("2016-06-14 00:20:00"), 10L, 20L),
      ("u3", ts("2016-06-14 00:40:00"), 5L, 6L))
      .toDF("uuid", "window_end", "click20m", "view20m")
    Sinks.jdbcUpsertBatchPortable(b2, url, "features_20m", pk)
    Sinks.jdbcUpsertBatchPortable(b2, url, "features_20m", pk) // re-run: no-op
    // an absent PK appearing twice in ONE batch must upsert once, not
    // race both occurrences into duplicate INSERTs (PK violation)
    val b3 = Seq(("u4", ts("2016-06-14 01:00:00"), 7L, 8L),
      ("u4", ts("2016-06-14 01:00:00"), 7L, 8L))
      .toDF("uuid", "window_end", "click20m", "view20m").repartition(4)
    Sinks.jdbcUpsertBatchPortable(b3, url, "features_20m", pk)
    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "features_20m").load()
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      ("u1", ts("2016-06-14 00:20:00"), 10L, 20L), // updated by b2
      ("u2", ts("2016-06-14 00:20:00"), 3L, 4L),   // untouched from b1
      ("u3", ts("2016-06-14 00:40:00"), 5L, 6L),   // inserted by b2
      ("u4", ts("2016-06-14 01:00:00"), 7L, 8L)))  // deduped within b3
  }

  test("S9 live: jdbcTable helper reads Derby back, plain and partitioned") {
    // The round-2/3 residual gap: PipelineSpec read Derby back via raw
    // spark.read.format("jdbc"), so Sinks.jdbcTable's own option plumbing
    // (partitionColumn/lowerBound/upperBound/numPartitions) never
    // executed against a live database. Both paths now do, through the
    // helper, and the partitioned read must actually split the scan.
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftsrc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE user_scores (user_id BIGINT NOT NULL,
          | score BIGINT, PRIMARY KEY (user_id))""".stripMargin)
      val ins = conn.prepareStatement("INSERT INTO user_scores VALUES (?, ?)")
      (0 until 100).foreach { i =>
        ins.setLong(1, i.toLong); ins.setLong(2, i * 10L); ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()
    val expected = (0 until 100).map(i => (i.toLong, i * 10L)).toSet
    val plain = Sinks.jdbcTable(spark, url, "user_scores")
    assert(plain.rdd.getNumPartitions == 1)
    assert(plain.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    val parted = Sinks.jdbcTable(spark, url, "user_scores",
      partitionColumn = Some(("user_id", 0L, 100L, 4)))
    // the scan itself must parallelize: 4 JDBC partitions, same rows, no
    // stride duplication or boundary loss
    assert(parted.rdd.getNumPartitions == 4)
    assert(parted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("S5 live: streaming upsert into embedded Derby survives redelivery (T7)") {
    // The full streaming sink contract against a real database: micro-
    // batches PK-upsert partition-parallel; re-delivered keys overwrite
    // idempotently instead of duplicating (the reference's at-least-once +
    // ON CONFLICT story, `events_postgres_sink.sql:37-57`).
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftstream;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE raw_events (event_id BIGINT NOT NULL,
        | uuid VARCHAR(64), n BIGINT, PRIMARY KEY (event_id))""".stripMargin)
    finally conn.close()
    val mem = MemoryStream[(Long, String, Long)](spark)
    val df = mem.toDF.toDF("event_id", "uuid", "n")
    val ckpt = java.nio.file.Files.createTempDirectory("derbyckpt").toString
    val q = Sinks.jdbcUpsertStreamPortable(df, url, "raw_events", Seq("event_id"), ckpt).start()
    mem.addData((1L, "a", 1L), (2L, "b", 2L))
    q.processAllAvailable()
    mem.addData((1L, "a", 5L), (3L, "c", 3L)) // PK 1 redelivered with new value
    q.processAllAvailable()
    q.stop()
    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "raw_events").load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 5L), (2L, "b", 2L), (3L, "c", 3L)))
  }

  test("streaming as-of attribution matches the batch window sweep") {
    val sf = TestSpark.sf
    val ev = Tables.events(spark, sf).filter(col("event_type").isin("click", "view"))
      .select(col("user_id").cast("string"), col("ts"), col("event_type"), col("event_id"))
      .orderBy("ts", "event_id")
      .as[(String, Timestamp, String, Long)].collect()
    val mem = MemoryStream[(String, Timestamp, String, Long)](spark)
    val df = mem.toDF().toDF("uuid", "event_time", "tag", "event_id")
    val q = StreamingFeatures.attributionStream(df)
      .toDF("uuid", "event_id", "click_ts", "last_view_ts")
      .writeStream.outputMode("append").format("memory").queryName("attr").start()
    ev.grouped(500).foreach(chunk => mem.addData(chunk.toSeq))
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getTimestamp(2), Option(r.getTimestamp(3)))
    val got = spark.table("attr").collect().map(key).toSet
    val want = operators.EventAnalytics.clickAttribution(spark, sf)
      .select(col("user_id").cast("string"), col("event_id"),
        col("click_ts"), col("last_view_ts"))
      .collect().map(key).toSet
    assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
  }

  test("streaming attribution state is monotonic under late out-of-order views") {
    // A view arriving in a later micro-batch with an OLDER timestamp than
    // the saved maximum must not regress the state: batch semantics are
    // max(view_ts <= click_ts), not last-processed-view.
    val mem = MemoryStream[(String, Timestamp, String, Long)](spark)
    val df = mem.toDF().toDF("uuid", "event_time", "tag", "event_id")
    val q = StreamingFeatures.attributionStream(df)
      .toDF("uuid", "event_id", "click_ts", "last_view_ts")
      .writeStream.outputMode("append").format("memory").queryName("lateattr").start()
    mem.addData(("u", ts("2016-06-14 10:00:00"), "view", 1L),
      ("u", ts("2016-06-14 10:05:00"), "click", 2L))
    q.processAllAvailable()
    // late batch: an out-of-order old view plus a new click
    mem.addData(("u", ts("2016-06-14 09:00:00"), "view", 3L),
      ("u", ts("2016-06-14 10:10:00"), "click", 4L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("lateattr")
      .collect().map(r => r.getLong(1) -> r.getTimestamp(3)).toMap
    assert(got(2L) == ts("2016-06-14 10:00:00"))
    // the 09:00 late view must not have regressed the 10:00 state
    assert(got(4L) == ts("2016-06-14 10:00:00"), s"state regressed: ${got(4L)}")
  }

  test("streaming attribution never attributes a view from the click's future") {
    // A LATE CLICK arriving after a newer view crossed in an earlier
    // micro-batch: the state (max view = 10:05) is in this click's
    // future, and the correct older view (10:00 per the batch twin) is
    // gone from the single-timestamp state — the stream must emit None
    // (missed-not-wrong), never last_view_ts > click_ts.
    val mem = MemoryStream[(String, Timestamp, String, Long)](spark)
    val df = mem.toDF().toDF("uuid", "event_time", "tag", "event_id")
    val q = StreamingFeatures.attributionStream(df)
      .toDF("uuid", "event_id", "click_ts", "last_view_ts")
      .writeStream.outputMode("append").format("memory").queryName("futattr").start()
    mem.addData(("u", ts("2016-06-14 10:00:00"), "view", 1L),
      ("u", ts("2016-06-14 10:05:00"), "view", 2L))
    q.processAllAvailable()
    mem.addData(("u", ts("2016-06-14 10:02:00"), "click", 3L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("futattr")
      .collect().map(r => r.getLong(1) -> Option(r.getTimestamp(3))).toMap
    assert(got(3L).isEmpty,
      s"late click attributed a future view: ${got(3L)}")
  }

  test("streaming per-doc and per-display counts (A5) aggregate per window") {
    val ev = MemoryStream[(Timestamp, Long, Long)](spark)
    val events = ev.toDF.toDF("event_time", "document_id", "display_id")
    val doc = StreamingFeatures.docCounts(events)
    val q = doc.writeStream.outputMode("append").format("memory").queryName("doccnt").start()
    ev.addData((ts("2016-06-14 00:01:00"), 5L, 1L), (ts("2016-06-14 00:02:00"), 5L, 2L),
      (ts("2016-06-14 00:03:00"), 6L, 3L))
    ev.addData((ts("2016-06-14 01:00:00"), 9L, 9L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("doccnt").filter($"window_end" === ts("2016-06-14 00:05:00"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(5L -> 2L, 6L -> 1L))
  }
}
