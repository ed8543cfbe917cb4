package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Temporal join operators Spark SQL has no native form for — the
  * generic AS-OF join (nearest-at-or-before / at-or-after match per
  * key) and the point-in-interval range join — plus the registered
  * queries that exercise them on the reference's event domain.
  *
  * The reference serves features by key lookup at request time
  * (`flink-jobs/redis_sink.py:121-126`: the online store holds the
  * latest closed window per user). Building TRAINING data for the
  * model that consumes those features needs the offline twin: for
  * every historical label event, the feature row that WOULD have been
  * served at that instant — a point-in-time (as-of) join, the
  * feature-store "time travel" query. Spark has no ASOF JOIN; the
  * naive form is a per-key range self-join (quadratic in events per
  * key). [[asOfJoin]] is the scale form: tag-and-union both sides,
  * ONE shuffle on the key, and a running `last(payload, ignoreNulls)`
  * window — the lookup becomes a linear merge-sweep per key, the same
  * partition-and-sort shape (and the same skew story) as
  * sessionization. [[EventAnalytics.clickAttribution]] is the
  * specialized two-event-type instance of the same sweep; this
  * operator is the general two-FRAME contract with direction and
  * staleness tolerance.
  *
  * [[intervalJoin]] matches point rows to interval rows
  * (start ≤ t < end). Spark plans a bare range predicate as
  * BroadcastNestedLoopJoin — fine only when one side broadcasts. The
  * scale form bins time: each interval explodes to the fixed-width
  * bins it spans, each point belongs to exactly ONE bin, and the join
  * becomes an equi-join on (keys, bin) + a residual range filter —
  * shuffle-partitioned like any hash join, no quadratic blowup, and
  * each (point, interval) pair produced at most once (no dedup pass).
  * Bin width trades replication of intervals (long interval / small
  * bin → many copies) against residual selectivity; set it near the
  * median interval length.
  */
object TemporalJoins {

  /** Generic as-of join: for each `left` row, the single `right` row
    * with the nearest `rightTime` at-or-before (`forward = false`) or
    * at-or-after (`forward = true`) the row's `leftTime`, within the
    * same `keys` group. Emits every left row (left-outer semantics)
    * with the matched right payload columns, NULL when no match exists
    * or the match is older/newer than `tolerance` (an interval or
    * numeric delta in `leftTime`'s own units — staleness TTL backward,
    * lookahead horizon forward).
    *
    * Contract: `right`'s non-key columns (the payload, which must
    * include `rightTime`) must be name-disjoint from `left`'s columns;
    * right payload fields must be non-null (the sweep encodes "no row
    * yet" as a NULL payload struct). Equal timestamps match
    * (inclusive); among right rows tying on `rightTime`, the max
    * payload tuple wins backward and the min forward (field comparison
    * in `right`'s column order) — put a unique id right after the time
    * column for a total, engine-portable tiebreak, or pre-reduce the
    * right side to unique times. NULL key values match nothing (SQL
    * join semantics: NULL ≠ NULL), same as the oracle's native ASOF.
    *
    * Plan shape: one exchange per side hash-partitioned on `keys`, one
    * sort, one running-frame window — `last(_, ignoreNulls)` over
    * UNBOUNDED PRECEDING is evaluated incrementally (O(1) per row), so
    * the whole join is sort-merge cost. No state is proportional to
    * time-gap or match distance.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      tolerance: Option[Column] = None,
      forward: Boolean = false): DataFrame = {
    val payload = right.columns.filterNot(keys.contains).toSeq
    require(payload.contains(rightTime),
      s"right must carry its time column $rightTime")
    require(left.columns.intersect(payload).isEmpty,
      s"left/right payload name collision: ${left.columns.intersect(payload).toSeq}")
    val lTagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__tag", lit(1))
    val rTagged = right
      .select(keys.map(col) :+ struct(payload.map(col): _*).as("__p"): _*)
      .withColumn("__t", col(s"__p.$rightTime"))
      .withColumn("__tag", lit(0))
    val ord =
      if (forward) Seq(col("__t").desc, col("__tag").asc, col("__p").desc)
      else Seq(col("__t").asc, col("__tag").asc, col("__p").asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = last(col("__p"), ignoreNulls = true).over(w)
    val valid = tolerance match {
      case Some(tol) if forward => m.getField(rightTime) <= col("__t") + tol
      case Some(tol) => m.getField(rightTime) >= col("__t") - tol
      case None => m.isNotNull
    }
    // SQL join semantics: NULL never equals NULL, but Window.partitionBy
    // groups NULL keys together — guard so a NULL-key left row matches
    // nothing instead of inheriting NULL-key right rows
    val keysNotNull = keys.map(col(_).isNotNull).foldLeft(lit(true))(_ && _)
    lTagged.unionByName(rTagged, allowMissingColumns = true)
      // NULL left times never match: they sort to one end of the sweep
      // (all of the right side "precedes" them in one direction), so
      // without the guard the forward form would hand them the
      // earliest right row
      .withColumn("__m", when(col("__t").isNotNull && keysNotNull && valid, m))
      .filter(col("__tag") === 1)
      .select(left.columns.toSeq.map(col) ++
        payload.map(f => col("__m").getField(f).as(f)): _*)
  }

  /** Point-in-interval join: `points` rows matched to every `intervals`
    * row with `startCol <= pointTime < endCol` (end-exclusive) and
    * equal `keys`. `binSeconds = None` plans the small-intervals form —
    * broadcast + range filter (hash join when keys exist, nested-loop
    * only in the keyless case); `Some(b)` plans the big-big form —
    * intervals exploded to their b-second bins, equi-join on
    * (keys, bin), residual range filter. Both produce identical rows;
    * TemporalJoinSpec pins the equivalence.
    */
  def intervalJoin(points: DataFrame, pointTime: String,
      intervals: DataFrame, startCol: String, endCol: String,
      keys: Seq[String] = Nil,
      binSeconds: Option[Long] = None): DataFrame = {
    val overlap = points.columns.intersect(
      intervals.columns.filterNot(keys.contains)).toSeq
    require(overlap.isEmpty, s"point/interval name collision: $overlap")
    val range = col(pointTime) >= col(startCol) && col(pointTime) < col(endCol)
    binSeconds match {
      case None =>
        val j = if (keys.nonEmpty) points.join(broadcast(intervals), keys)
                else points.crossJoin(broadcast(intervals))
        j.filter(range)
      case Some(b) =>
        require(b >= 1, s"binSeconds must be >= 1, got $b")
        val pts = points.withColumn("__bin",
          floor(unix_timestamp(col(pointTime)) / b).cast("long"))
        val ivs = intervals.withColumn("__bin", explode(sequence(
          floor(unix_timestamp(col(startCol)) / b).cast("long"),
          floor(unix_timestamp(col(endCol)) / b).cast("long"))))
        pts.join(ivs, (keys :+ "__bin").toSeq).filter(range).drop("__bin")
    }
  }

  /** Staleness TTL for [[pointInTimeFeatures]] — a snapshot older than
    * this is treated as expired (NULL features), mirroring an online
    * store's key TTL. One constant shared with the oracle.
    */
  val FeatureTtlMinutes = 60

  /** Point-in-time training-data join (the flagship [[asOfJoin]] use):
    * each click event paired with the per-user 5-minute feature
    * snapshot (`redis_sink copy.sql:70-95` cadence) that the online
    * store would have served at that click — the latest window whose
    * end is at-or-before the click, NULL when none exists within the
    * [[FeatureTtlMinutes]] TTL. `feat_age_sec` (click − snapshot end,
    * floor-epoch seconds) is the feature-freshness audit column.
    */
  def pointInTimeFeatures(spark: SparkSession, dir: String): DataFrame = {
    val clicks = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts").as("click_ts"))
    val snaps = FeatureJobs.windowedFeaturesUnordered(spark, dir, "5 minutes")
      .select(col("user_id"), col("window_end").as("feat_end"),
        col("clicks").as("feat_clicks"), col("views").as("feat_views"))
    asOfJoin(clicks, snaps, Seq("user_id"), "click_ts", "feat_end",
      tolerance = Some(expr(s"INTERVAL $FeatureTtlMinutes MINUTES")))
      .withColumn("feat_age_sec",
        unix_timestamp(col("click_ts")) - unix_timestamp(col("feat_end")))
      .orderBy("user_id", "click_ts", "event_id")
  }

  /** Lookahead horizon for [[timeToConversion]], in hours. */
  val ConversionHorizonHours = 2

  /** Forward as-of: each view paired with the same user's NEXT click
    * at-or-after it within [[ConversionHorizonHours]] — view→click
    * conversion delay, the forward twin of
    * [[EventAnalytics.clickAttribution]]'s backward attribution.
    * Clicks are pre-reduced to unique (user, ts) keeping the min
    * event_id, making the nearest-match total-ordered in both engines.
    */
  def timeToConversion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts").as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(min(col("event_id")).as("click_event_id"))
    asOfJoin(views, clicks, Seq("user_id"), "view_ts", "click_ts",
      tolerance = Some(expr(s"INTERVAL $ConversionHorizonHours HOURS")),
      forward = true)
      .withColumn("to_click_sec",
        unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts")))
      .orderBy("user_id", "view_ts", "event_id")
  }

  /** Spike-minute factor: a minute is a spike when its event count
    * exceeds `SpikeFactor ×` the mean per-minute count — compared in
    * pure integers (`n · n_minutes > SpikeFactor · total`) so the
    * threshold is hash-exact cross-engine.
    */
  val SpikeFactor = 2

  /** Activity-spike intervals: per-minute event counts, the integer
    * mean-multiple threshold, and adjacent spike minutes merged into
    * [start, end) intervals by the lag-and-running-sum grouping the
    * sessionizer uses. The single-partition windows here are safe at
    * any corpus scale: the minutes frame is CALENDAR-bounded (one row
    * per minute of history — ~526k/year no matter how many events), so
    * the global sort never grows with data volume.
    */
  def spikeIntervals(spark: SparkSession, dir: String): DataFrame =
    spikeIntervalsFrom(Tables.events(spark, dir))

  /** Frame-level form of [[spikeIntervals]] (any frame with a `ts`). */
  def spikeIntervalsFrom(events: DataFrame): DataFrame = {
    val m = events
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n"))
    val t = m.agg(sum(col("n")).as("tot"), count(lit(1)).as("nm"))
    val w = Window.orderBy("minute")
    m.crossJoin(broadcast(t))
      .filter(col("n") * col("nm") > lit(SpikeFactor) * col("tot"))
      .withColumn("prev", lag(col("minute"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        unix_timestamp(col("minute")) - unix_timestamp(col("prev")) > 60, 1)
        .otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("grp")
      .agg(min(col("minute")).as("spike_start"),
        (max(col("minute")) + expr("INTERVAL 1 MINUTE")).as("spike_end"),
        count(lit(1)).as("n_minutes"))
      .select("spike_start", "spike_end", "n_minutes")
  }

  /** Registered [[intervalJoin]] query: all events range-joined to the
    * [[spikeIntervals]] via the BINNED path (60 s bins — the interval
    * granularity), then per-spike volume and distinct-user counts. At
    * the registered size AQE may still broadcast the bin frame; the
    * binned plan is what survives when the interval side is also huge
    * (per-user sessions, incident windows) — TemporalJoinSpec pins
    * binned ≡ broadcast on a two-big-sides fixture.
    */
  def spikeEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("ts", "user_id")
    intervalJoin(ev, "ts", spikeIntervals(spark, dir),
      "spike_start", "spike_end", binSeconds = Some(60))
      .groupBy("spike_start", "spike_end", "n_minutes")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("spike_start")
  }

  /** Funnel horizon: each stage must follow the previous within this
    * many hours. One constant shared with the oracle.
    */
  val FunnelHorizonHours = 2

  /** Three-stage conversion funnel (view → click → purchase), built by
    * CHAINING two forward [[asOfJoin]]s: each view takes the same
    * user's next click within [[FunnelHorizonHours]], and each
    * converted row takes the next purchase within the same horizon of
    * that click — the standard ordered-funnel definition, computed in
    * two linear sweeps instead of the window-per-stage self-joins
    * analytics SQL usually resorts to. Right sides pre-reduce to
    * unique (user, ts) keeping min event_id, making every
    * nearest-match total-ordered cross-engine. Output: one wide row —
    * events and distinct users reaching each stage.
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tol = expr(s"INTERVAL $FunnelHorizonHours HOURS")
    def uniq(t: String, tsName: String, idName: String) =
      ev.filter(col("event_type") === t)
        .groupBy(col("user_id"), col("ts").as(tsName))
        .agg(min(col("event_id")).as(idName))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts").as("view_ts"))
    val v2c = asOfJoin(views, uniq("click", "click_ts", "click_id"),
      Seq("user_id"), "view_ts", "click_ts",
      tolerance = Some(tol), forward = true)
    val v2c2p = asOfJoin(v2c, uniq("purchase", "purchase_ts", "purchase_id"),
      Seq("user_id"), "click_ts", "purchase_ts",
      tolerance = Some(tol), forward = true)
    v2c2p.agg(
      count(lit(1)).as("n_views"),
      count(col("click_ts")).as("n_clicked"),
      count(col("purchase_ts")).as("n_purchased"),
      countDistinct(col("user_id")).as("u_views"),
      countDistinct(when(col("click_ts").isNotNull, col("user_id")))
        .as("u_clicked"),
      countDistinct(when(col("purchase_ts").isNotNull, col("user_id")))
        .as("u_purchased"))
  }

  /** Attribution lookback for [[revenueAttribution]], in hours. */
  val AttributionLookbackHours = 2

  /** Last-touch revenue attribution: each purchase takes the same
    * user's most recent click within [[AttributionLookbackHours]]
    * (backward [[asOfJoin]] — the money-facing sibling of
    * [[EventAnalytics.clickAttribution]]'s view→click form), then
    * daily totals split attributed vs organic. Revenue is quantized to
    * integer cents BEFORE summing (`floor(value·100 + 0.5)`) — float
    * sums are aggregation-order-dependent and would break the
    * cross-engine hash; cents never are.
    */
  def revenueAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts").as("purchase_ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(min(col("event_id")).as("click_id"))
    asOfJoin(purchases, clicks, Seq("user_id"), "purchase_ts", "click_ts",
        tolerance = Some(expr(s"INTERVAL $AttributionLookbackHours HOURS")))
      .groupBy(date_trunc("day", col("purchase_ts")).as("day"))
      .agg(
        count(lit(1)).as("n_purchases"),
        count(col("click_ts")).as("n_attributed"),
        sum(col("cents")).as("revenue_cents"),
        sum(when(col("click_ts").isNotNull, col("cents")).otherwise(0L))
          .as("attributed_cents"))
      .orderBy("day")
  }

  val oracles: Map[String, String] = Map(
    "q_funnel" ->
      s"""WITH clicks AS (
         |  SELECT user_id, ts AS click_ts, min(event_id) AS click_id
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |purchases AS (
         |  SELECT user_id, ts AS purchase_ts, min(event_id) AS purchase_id
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         |views AS (
         |  SELECT user_id, event_id, ts AS view_ts FROM events
         |  WHERE event_type = 'view'),
         |v2c AS (
         |  SELECT v.user_id, v.event_id, v.view_ts,
         |         CASE WHEN c.click_ts <= v.view_ts + INTERVAL $FunnelHorizonHours HOUR
         |              THEN c.click_ts END AS click_ts
         |  FROM views v ASOF LEFT JOIN clicks c
         |    ON v.user_id = c.user_id AND v.view_ts <= c.click_ts),
         |fun AS (
         |  SELECT j.user_id, j.view_ts, j.click_ts,
         |         CASE WHEN p.purchase_ts <= j.click_ts + INTERVAL $FunnelHorizonHours HOUR
         |              THEN p.purchase_ts END AS purchase_ts
         |  FROM v2c j ASOF LEFT JOIN purchases p
         |    ON j.user_id = p.user_id AND j.click_ts <= p.purchase_ts)
         |SELECT count(*) AS n_views,
         |       count(click_ts) AS n_clicked,
         |       count(purchase_ts) AS n_purchased,
         |       count(DISTINCT user_id) AS u_views,
         |       count(DISTINCT CASE WHEN click_ts IS NOT NULL THEN user_id END)
         |         AS u_clicked,
         |       count(DISTINCT CASE WHEN purchase_ts IS NOT NULL THEN user_id END)
         |         AS u_purchased
         |FROM fun""".stripMargin,
    "q_revenue_attribution" ->
      s"""WITH clicks AS (
         |  SELECT user_id, ts AS click_ts, min(event_id) AS click_id
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |purchases AS (
         |  SELECT user_id, event_id, ts AS purchase_ts,
         |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |att AS (
         |  SELECT p.user_id, p.purchase_ts, p.cents,
         |         CASE WHEN c.click_ts >= p.purchase_ts - INTERVAL $AttributionLookbackHours HOUR
         |              THEN c.click_ts END AS click_ts
         |  FROM purchases p ASOF LEFT JOIN clicks c
         |    ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts)
         |SELECT date_trunc('day', purchase_ts) AS day,
         |       count(*) AS n_purchases,
         |       count(click_ts) AS n_attributed,
         |       CAST(sum(cents) AS BIGINT) AS revenue_cents,
         |       CAST(sum(CASE WHEN click_ts IS NOT NULL THEN cents ELSE 0 END) AS BIGINT)
         |         AS attributed_cents
         |FROM att GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_asof_features" ->
      s"""WITH feats AS (${FeatureJobs.duckWindowFeatures(300)}),
         |snaps AS (
         |  SELECT user_id, window_end AS feat_end, clicks AS feat_clicks,
         |         views AS feat_views
         |  FROM feats),
         |clicks AS (
         |  SELECT user_id, event_id, ts AS click_ts FROM events
         |  WHERE event_type = 'click'),
         |j AS (
         |  SELECT c.user_id, c.event_id, c.click_ts, s.feat_end, s.feat_clicks,
         |         s.feat_views,
         |         s.feat_end >= c.click_ts - INTERVAL $FeatureTtlMinutes MINUTE AS ok
         |  FROM clicks c ASOF LEFT JOIN snaps s
         |    ON c.user_id = s.user_id AND c.click_ts >= s.feat_end)
         |SELECT user_id, event_id, click_ts,
         |       CASE WHEN ok THEN feat_end END AS feat_end,
         |       CASE WHEN ok THEN feat_clicks END AS feat_clicks,
         |       CASE WHEN ok THEN feat_views END AS feat_views,
         |       CASE WHEN ok THEN CAST(floor(epoch(click_ts)) AS BIGINT)
         |                        - CAST(floor(epoch(feat_end)) AS BIGINT)
         |       END AS feat_age_sec
         |FROM j ORDER BY user_id, click_ts, event_id""".stripMargin,
    "q_time_to_click" ->
      s"""WITH clicks AS (
         |  SELECT user_id, ts AS click_ts, min(event_id) AS click_event_id
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |views AS (
         |  SELECT user_id, event_id, ts AS view_ts FROM events
         |  WHERE event_type = 'view'),
         |j AS (
         |  SELECT v.user_id, v.event_id, v.view_ts, c.click_ts, c.click_event_id,
         |         c.click_ts <= v.view_ts + INTERVAL $ConversionHorizonHours HOUR AS ok
         |  FROM views v ASOF LEFT JOIN clicks c
         |    ON v.user_id = c.user_id AND v.view_ts <= c.click_ts)
         |SELECT user_id, event_id, view_ts,
         |       CASE WHEN ok THEN click_ts END AS click_ts,
         |       CASE WHEN ok THEN click_event_id END AS click_event_id,
         |       CASE WHEN ok THEN CAST(floor(epoch(click_ts)) AS BIGINT)
         |                        - CAST(floor(epoch(view_ts)) AS BIGINT)
         |       END AS to_click_sec
         |FROM j ORDER BY user_id, view_ts, event_id""".stripMargin,
    "q_spike_events" ->
      s"""WITH m AS (
         |  SELECT date_trunc('minute', ts) AS minute, count(*) AS n
         |  FROM events GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, count(*) AS nm FROM m),
         |s AS (SELECT minute FROM m, t WHERE n * nm > $SpikeFactor * tot),
         |b AS (
         |  SELECT minute,
         |         CASE WHEN lag(minute) OVER (ORDER BY minute) IS NULL
         |                OR epoch(minute) - epoch(lag(minute) OVER (ORDER BY minute)) > 60
         |              THEN 1 ELSE 0 END AS brk
         |  FROM s),
         |g AS (
         |  SELECT minute,
         |         CAST(sum(brk) OVER (ORDER BY minute ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
         |  FROM b),
         |iv AS (
         |  SELECT grp, min(minute) AS spike_start,
         |         max(minute) + INTERVAL 1 MINUTE AS spike_end,
         |         count(*) AS n_minutes
         |  FROM g GROUP BY 1)
         |SELECT iv.spike_start, iv.spike_end, iv.n_minutes,
         |       count(*) AS n_events, count(DISTINCT e.user_id) AS n_users
         |FROM events e JOIN iv
         |  ON e.ts >= iv.spike_start AND e.ts < iv.spike_end
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)
}
