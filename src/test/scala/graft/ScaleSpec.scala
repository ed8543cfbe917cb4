package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bucketing
import graft.streaming.StreamingFeatures

/** Scale-machinery specs: bucketed co-located joins (no Exchange),
  * SparkSessionExtensions function registration, custom keyed state,
  * approximate distinct.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("bucketed tables join with no shuffle exchange on either side") {
    val sf = TestSpark.sf
    Bucketing.writeBucketed(Tables.orders(spark, sf), "orders_b", "o_orderkey", 4,
      sortCol = Some("o_orderkey"))
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4, sortCol = Some("o_orderkey"))
    // Tiny test tables would broadcast (also shuffle-free, but that hides
    // the bucketing); force the sort-merge path a 100 TB fact-fact join
    // would take and assert bucketing removed both exchanges.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (plan, joined) = try {
      val j = Bucketing.coLocatedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
      (j.queryExecution.executedPlan.toString, j)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
    assert(!plan.contains("Exchange"), s"expected shuffle-free join, got:\n$plan")
    // correctness: equals the plain join
    assert(joined.count() == Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey")).count())
  }

  test("GraftExtensions registers native expressions for SQL") {
    TestSpark.withExtensions { s2 =>
      val r = s2.sql(
        "SELECT fingerprint62('abc') AS f, simhash62(array('a','b')) AS s, " +
          "quant_dot(array(cast(1.0 as float)), array(cast(2.0 as float))) AS d, " +
          "lsh_bits(array(cast(1.0 as float))) AS l, " +
          "long_dot(quantize_vec(array(cast(1.5 as float))), " +
          "         quantize_vec(array(cast(2.0 as float)))) AS ld, " +
          "size(minhash_sigs(array(5L), 3)) AS mh, " +
          "bigram_score('ab') AS bg, " +
          "element_at(nearest_cells(quantize_vec(array(cast(1.0 as float))), " +
          "  array(struct(0, array(-1000000L)), struct(1, array(1000000L))), 1), 1) AS nc")
        .head()
      val h31 = (97L * 31 + 98) * 31 + 99
      val h131 = (97L * 131 + 98) * 131 + 99
      assert(r.getLong(0) == h131 * 2147483648L + h31)
      assert(r.getLong(2) == 1000000L * 2000000L)
      assert(r.getLong(4) == 1500000L * 2000000L)
      assert(r.getInt(5) == 3, "minhash_sigs literal-k plumbing")
      // one bigram 'ab': ((97 % 256) * 31 + 98 % 256) % 7
      assert(r.getLong(6) == (97L * 31 + 98) % 7)
      // centroid 1 (dot +10^12) beats centroid 0 (dot -10^12)
      assert(r.getInt(7) == 1, "nearest_cells literal-k plumbing")
      // non-literal k must be rejected at registration, not mis-evaluated
      val err = intercept[Exception](
        s2.sql("SELECT minhash_sigs(array(1L), 1 + 2)").head())
      assert(err.getMessage.contains("literal"), err.getMessage)
      // a bigint literal outside Int range must error, not truncate
      // (4294967297 = 2^32 + 1 would silently become k = 1)
      val err2 = intercept[Exception](
        s2.sql("SELECT nearest_cells(quantize_vec(array(cast(1.0 as float))), " +
          "array(struct(0, array(1000000L))), 4294967297)").head())
      assert(err2.getMessage.contains("out of Int range"), err2.getMessage)
      // the sketch aggregate goes through the same extension path
      val mg = s2.sql(
        "SELECT element_at(misra_gries(t, 2), 1) AS top FROM " +
          "(SELECT explode(array('x','x','y','x')) AS t)").head()
      assert(mg.getStruct(0).getString(0) == "x" &&
        mg.getStruct(0).getLong(1) >= 2L, "misra_gries extension plumbing")
    }
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    val ev = MemoryStream[(String, Timestamp, String)](spark)
    val running = StreamingFeatures.runningTotals(
      ev.toDF.toDF("uuid", "event_time", "tag"))
    val q = running.toDF("uuid", "clicks", "views").writeStream
      .outputMode("update").format("memory").queryName("running").start()
    ev.addData(("u1", ts("2016-06-14 00:01:00"), "click"))
    q.processAllAvailable()
    ev.addData(("u1", ts("2016-06-14 00:02:00"), "click"),
      ("u1", ts("2016-06-14 00:03:00"), "view"))
    q.processAllAvailable()
    q.stop()
    // last update for u1 must carry the lifetime totals
    val last = spark.table("running").filter($"uuid" === "u1")
      .orderBy(desc("clicks")).head()
    assert(last.getLong(1) == 2L && last.getLong(2) == 1L)
  }

  test("flatMapGroupsWithState first-seen-per-window is exact and state times out") {
    val ev = MemoryStream[(String, Timestamp)](spark)
    val tagged = ev.toDF.toDF("uuid", "event_time").withColumn("tag", lit("click"))
    val out = StreamingFeatures.firstSeenPerWindow(tagged)
    val q = out.toDF("uuid", "window_end").writeStream
      .outputMode("append").format("memory").queryName("fspw").start()
    ev.addData(("u1", ts("2016-06-14 00:01:00")), ("u1", ts("2016-06-14 00:02:00")),
      ("u2", ts("2016-06-14 00:03:00")))
    q.processAllAvailable()
    ev.addData(("u1", ts("2016-06-14 00:04:00"))) // same window: no new emit
    q.processAllAvailable()
    ev.addData(("u1", ts("2016-06-14 00:07:00"))) // next window: emits
    q.processAllAvailable()
    ev.addData(("zz", ts("2016-06-14 09:00:00"))) // advance watermark far
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fspw").filter($"uuid" isin ("u1", "u2"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString)).toSet
    assert(rows == Set(
      ("u1", "2016-06-14 00:05:00.0"), ("u2", "2016-06-14 00:05:00.0"),
      ("u1", "2016-06-14 00:10:00.0")))
  }

  test("rate listener observes streaming progress (Prometheus-rate analogue)") {
    val listener = graft.streaming.Monitoring.attach(spark)
    try {
      val ev = MemoryStream[(String, Timestamp)](spark)
      val counts = StreamingFeatures.windowedCounts(
        ev.toDF.toDF("uuid", "event_time").withColumn("tag", lit("click"))
          .select($"uuid", $"event_time", $"tag")
          .transform(df => StreamingFeatures.tagged(
            df.drop("tag"), df.drop("tag").limit(0))), "5 minutes")
      val q = counts.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("rate").toString)
        .queryName("rateprobe").start()
      ev.addData((1 to 500).map(i => (s"u$i", ts("2016-06-14 00:01:00"))): _*)
      q.processAllAvailable()
      q.stop()
      val snap = listener.snapshot().filter(_.queryName == "rateprobe")
      assert(snap.nonEmpty, "listener saw no progress events")
      assert(snap.map(_.numInputRows).sum >= 500)
      assert(listener.overallRate("rateprobe") > 0)
    } finally spark.streams.removeListener(listener)
  }

  test("approximate active users tracks the exact count within HLL error") {
    val ev = MemoryStream[(String, Timestamp)](spark)
    val tagged = ev.toDF.toDF("uuid", "event_time").withColumn("tag", lit("click"))
    val approx = StreamingFeatures.activeUsersApprox(tagged)
    val q = approx.writeStream.outputMode("append").format("memory")
      .queryName("approxu").start()
    val users = (1 to 200).map(i => (s"user$i", ts("2016-06-14 00:01:00")))
    ev.addData(users: _*)
    ev.addData(("zz", ts("2016-06-14 06:00:00")))
    q.processAllAvailable()
    q.stop()
    val n = spark.table("approxu")
      .filter($"window_end" === ts("2016-06-14 00:05:00"))
      .select("n_users_approx").as[Long].head()
    // approx_count_distinct default rsd is 5% (1 sigma); allow 3 sigma.
    assert(math.abs(n - 200L) <= 30, s"HLL estimate $n too far from 200")
  }
}
