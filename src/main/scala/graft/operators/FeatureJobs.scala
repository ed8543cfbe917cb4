package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.StreamingFeatures
import graft.streaming.StreamingFeatures.{ClickField, FeatureWindow, FeatureWindowSeconds, ViewField}

/** The reference's feature-engineering jobs — tumbling-window per-user
  * click/view counts for a Redis feature store (`flink-jobs/redis_sink.py:75-129`,
  * `flink-jobs/redis_sink copy.sql:64-182`) and the daily batch backfill
  * (`flink-jobs/feature_batch_update.py:85-113`) — as batch Spark jobs.
  * The windowed jobs ARE the streaming jobs of
  * [[graft.streaming.StreamingFeatures]] applied to a static frame (the
  * watermark drops out of a batch plan), so batch and stream share one
  * count, one window and one key grammar.
  *
  * The reference computes clicks and views as two windowed aggregates and
  * LEFT-OUTER-joins them on (uuid, window_end) (J1). We use the union-pivot
  * formulation instead (SURVEY §7.2 M4): one shuffle on (user, window) with a
  * conditional count per stream — bit-identical output to the join+COALESCE 0,
  * but at 100 TB it is one stateful operator instead of three (two aggs + a
  * join), and no join state/retention problem.
  */
object FeatureJobs {

  private def clicksViews(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("event_type").isin("click", "view"))

  /** Tumbling-window per-user feature counts; `windowLen` e.g. "20 minutes"
    * (`redis_sink.py:83,100`) or "5 minutes" (`redis_sink copy.sql:70,78`).
    * Epoch-aligned windows (Spark default) so the oracle can reproduce
    * bucket edges with integer arithmetic.
    */
  def windowedFeatures(spark: SparkSession, dir: String, windowLen: String): DataFrame =
    windowedFeaturesUnordered(spark, dir, windowLen)
      .orderBy("user_id", "window_end")

  /** [[windowedFeatures]] without the presentation sort — the form for
    * composing into downstream joins (the trailing global `orderBy` is
    * a range-partition exchange the consumer's own shuffle would
    * immediately discard).
    */
  private[operators] def windowedFeaturesUnordered(
      spark: SparkSession, dir: String, windowLen: String): DataFrame =
    StreamingFeatures.windowedCounts(clicksViews(spark, dir), windowLen,
      key = "user_id", time = "ts", tag = "event_type")

  /** Daily batch feature backfill (`feature_batch_update.py:85-113`, J2/A7).
    * Reference labels the whole-day count with `window_end = day_start +
    * INTERVAL '20' MINUTE` — a semantic bug preserved deliberately for
    * parity (SURVEY §7.4 risk 4). Union-pivot replaces the RIGHT OUTER JOIN
    * + COALESCE-on-keys.
    */
  def dailyFeatures(spark: SparkSession, dir: String): DataFrame =
    daily(clicksViews(spark, dir))

  /** The reference job's actual contract: one processing day per run.
    * `feature_batch_update.py:98-109` filters `[processingDate,
    * processingDate + 1 day)` from the `--processingDate` argument that
    * Airflow passes as `{{ ds }}` (`airflow/dags/20m_feature_update.py:32-40`);
    * each run PK-upserts that day's rows into the features table. Same
    * aggregate as [[dailyFeatures]] with the day-bound filter — a plain
    * scan predicate, so with date-partitioned parquet it is partition
    * pruning, and re-running a day is idempotent through the upsert sink.
    * `processingDate` format: `yyyy-MM-dd` (the Airflow `ds` format).
    */
  def dailyFeatures(spark: SparkSession, dir: String, processingDate: String): DataFrame = {
    val dayStart = to_timestamp(lit(processingDate), "yyyy-MM-dd")
    daily(clicksViews(spark, dir)
      .filter(col("ts") >= dayStart && col("ts") < dayStart + expr("INTERVAL 1 DAY")))
  }

  /** The one aggregation of both [[dailyFeatures]] forms. */
  private def daily(clicksViews: DataFrame): DataFrame = {
    val (clicks, views) = StreamingFeatures.clickViewCounts(col("event_type"))
    clicksViews
      .groupBy(col("user_id"),
        (date_trunc("day", col("ts")) + expr("INTERVAL 20 MINUTES")).as("window_end"))
      .agg(clicks.as(ClickField), views.as(ViewField))
      .orderBy("user_id", "window_end")
  }

  /** Batch twin of the per-doc 5-min windowed counts (A5,
    * `redis_sink copy.sql:81-95`): doc id from the JSON `props.k`.
    */
  def docCounts5m(spark: SparkSession, dir: String): DataFrame =
    StreamingFeatures.windowedCountsBy(
      Tables.eventsEnriched(spark, dir).filter(col("event_type").isin("click", "view")),
      "doc_id", "5 minutes", timeCol = "ts")
      .orderBy("doc_id", "window_end")

  /** Distinct active users per 5-min window over the UNION ALL of both
    * streams (`redis_sink copy.sql:154-163`, A6/O5). Batch form is exact
    * countDistinct; the streaming twin documents the approx/exact tradeoff.
    */
  def activeUsers5m(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val unioned = ev.filter(col("event_type") === "click").select("user_id", "ts")
      .unionByName(ev.filter(col("event_type") === "view").select("user_id", "ts"))
    unioned
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(countDistinct("user_id").as("n_users"))
      .select(col("w.end").as("window_end"), col("n_users"))
      .orderBy("window_end")
  }

  /** Redis feature-hash rows: the [[StreamingFeatures.featureKey]] grammar
    * `feat:user:{<uuid>}:<yyyyMMddHHmm>` (`redis_sink copy.sql:174`,
    * `redis_sink.py:121-126`; F3/F4/F5). Values stringified as the
    * MAP<STRING,STRING> hash would be (F7); emitted as columns here so the
    * oracle can compare — the MAP form is [[StreamingFeatures.redisRows]],
    * which the streaming sink writes.
    */
  def redisFeatureKeys(spark: SparkSession, dir: String): DataFrame =
    windowedFeatures(spark, dir, FeatureWindow)
      .select(
        StreamingFeatures.featureKey("user", Some(col("user_id").cast("string")),
          Some(col("window_end"))).as("redis_key"),
        col("clicks").cast("string").as(ClickField),
        col("views").cast("string").as(ViewField))
      .orderBy("redis_key")

  // ---------------------------------------------------------------------
  // DuckDB oracle twins. Spark tumbling windows are epoch-aligned:
  // window_end = floor(epoch/len)*len + len, reproduced with integer math.
  // ---------------------------------------------------------------------

  /** End of the epoch-aligned `seconds`-long tumbling window holding `ts`. */
  private[operators] def duckWindowEnd(seconds: Long): String =
    s"to_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // $seconds) * $seconds + $seconds) AT TIME ZONE 'UTC'"

  /** Twin of [[StreamingFeatures.clickViewCounts]], named. */
  private def duckClickViewCounts(clicks: String, views: String): String =
    s"count(*) FILTER (WHERE event_type = 'click') AS $clicks, " +
      s"count(*) FILTER (WHERE event_type = 'view') AS $views"

  /** Twin of [[windowedFeaturesUnordered]]: (user_id, window_end, clicks,
    * views), unsorted.
    */
  private[operators] def duckWindowFeatures(seconds: Long): String =
    s"""SELECT user_id, ${duckWindowEnd(seconds)} AS window_end,
       |       ${duckClickViewCounts("clicks", "views")}
       |FROM events WHERE event_type IN ('click','view')
       |GROUP BY 1, 2""".stripMargin

  private def windowOracle(seconds: Long): String =
    s"${duckWindowFeatures(seconds)} ORDER BY user_id, window_end"

  val oracles: Map[String, String] = Map(
    "q_features_20m" -> windowOracle(FeatureWindowSeconds),
    "q_features_5m" -> windowOracle(300),
    "q_features_daily" ->
      s"""SELECT user_id,
         |       date_trunc('day', ts) + INTERVAL 20 MINUTE AS window_end,
         |       ${duckClickViewCounts(ClickField, ViewField)}
         |FROM events WHERE event_type IN ('click','view')
         |GROUP BY 1, 2 ORDER BY user_id, window_end""".stripMargin,
    "q_doc_counts_5m" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS doc_id,
         |       ${duckWindowEnd(300)} AS window_end,
         |       count(*) AS cnt
         |FROM events WHERE event_type IN ('click','view')
         |GROUP BY 1, 2 ORDER BY doc_id, window_end""".stripMargin,
    "q_active_users_5m" ->
      s"""WITH unioned AS (
         |  SELECT user_id, ts FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, ts FROM events WHERE event_type = 'view')
         |SELECT ${duckWindowEnd(300)} AS window_end,
         |       count(DISTINCT user_id) AS n_users
         |FROM unioned GROUP BY 1 ORDER BY window_end""".stripMargin,
    "q_redis_feature_keys" ->
      s"""WITH feats AS (${duckWindowFeatures(FeatureWindowSeconds)})
         |SELECT concat('feat:user:{', CAST(user_id AS VARCHAR), '}:',
         |              strftime(window_end, '%Y%m%d%H%M')) AS redis_key,
         |       CAST(clicks AS VARCHAR) AS $ClickField,
         |       CAST(views AS VARCHAR) AS $ViewField
         |FROM feats ORDER BY redis_key""".stripMargin
  )
}
