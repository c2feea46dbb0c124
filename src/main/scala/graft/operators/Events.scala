package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.Pin.PinOps

/** Event-stream operators over the `events` table (SURVEY.md §2.2
  * "streaming": absent in the reference — its epoch loop O21 is the
  * micro-batch pattern; here we expose the standard time-window surface).
  *
  * These run in BATCH mode (the driver's verify path); the identical
  * window expressions run under Structured Streaming in
  * [[graft.streaming.EventStreams]] — Spark's unified batch/stream semantics
  * make the batch result the ground truth for the streaming one.
  *
  * Scale: every query below shuffles once on (window/session, keys) with
  * map-side partial aggregation; tumbling/sliding windows are pure
  * expressions (no state), sessions use Spark's native session_window
  * merge. Timestamps are rendered to strings for oracle parity.
  */
object Events {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** Tumbling 1-hour windows per event type. */
  def tumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .select(date_format($"w.start", fmt).as("window_start"),
        $"event_type", $"n_events", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }

  val tumblingSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Sliding windows: 2-hour width, 1-hour hop — every event lands in
    * exactly two windows. The DuckDB oracle reconstructs the hop by
    * unioning the two alignments.
    */
  def sliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .select(date_format($"w.start", fmt).as("window_start"),
        $"n_events", $"sum_value")
      .orderBy($"window_start")
  }

  val slidingSql: String =
    """SELECT strftime(date_trunc('hour', ts) - o.off * INTERVAL 1 HOUR,
      |                '%Y-%m-%d %H:%M:%S') AS window_start,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events CROSS JOIN (VALUES (0), (1)) o(off)
      |GROUP BY 1 ORDER BY window_start""".stripMargin

  /** Session windows: per-user sessions with a 6-hour inactivity gap.
    * Spark semantics: a session is [first_ts, last_ts + gap); an event at
    * exactly prev + gap opens a NEW session (half-open interval), hence the
    * `>=` in the oracle's gaps-and-islands reconstruction.
    */
  def sessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(session_window($"ts", "6 hours").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .select($"user_id",
        date_format($"w.start", fmt).as("session_start"),
        date_format($"w.end", fmt).as("session_end"),
        $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start")
  }

  val sessionsSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts - lag(ts) OVER w) >= 21600 THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts) + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM numbered GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Per-type daily top-values: windowed rank over tumbling day buckets —
    * the "top-k per window" composite.
    */
  def dailyTopEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val day = Tables.events(s, dir)
      .select(date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"),
        $"event_type", $"event_id", round($"value", 2).as("value"))
    day.withColumn("rn", row_number().over(
      Window.partitionBy($"day", $"event_type")
        .orderBy($"value".desc, $"event_id")))
      .filter($"rn" <= 3)
      .orderBy($"day", $"event_type", $"rn")
  }

  val dailyTopEventsSql: String =
    """SELECT * FROM (
      |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |    event_type, event_id, round(value, 2) AS value,
      |    row_number() OVER (PARTITION BY date_trunc('day', ts), event_type
      |                       ORDER BY round(value, 2) DESC, event_id) AS rn
      |  FROM events) t
      |WHERE rn <= 3 ORDER BY day, event_type, rn""".stripMargin

  /** Classical seasonal-trend decomposition of the daily event-count
    * series (the moving-average decomposition underlying STL — Cleveland
    * et al. 1990 — in its textbook additive form): trend = centered
    * 7-day moving average, weekly seasonal = per-day-of-week mean of the
    * detrended series, remainder = what's left. Kept EXACT by scaling
    * everything ×7: trend7 = the 7-day window SUM (integer), detrended7
    * = 7·cnt − trend7 (integer), seasonal7 = floor-mean of detrended7
    * per weekday, rem7 = detrended7 − seasonal7 — so the decomposition
    * law 7·cnt = trend7 + seasonal7 + rem7 holds exactly, both engines
    * hash-identical with no float fold. Day-of-week from epoch-day mod 7
    * (engine day-number conventions differ; datediff doesn't). Edge days
    * without a full 7-day window are excluded (the textbook treatment).
    * The day axis is DENSIFIED first (calendar from min to max day,
    * missing days zero-filled — r14 ADVICE): a gap would otherwise make
    * the 7-ROW window mix non-adjacent dates and desynchronize the
    * weekly-period assumption behind the dow seasonal; zero-count days
    * are real observations of the daily series and appear in the output.
    *
    * Scale: the corpus folds to ≤|days| rows in one pass; every window
    * (and the calendar densify) runs on that bounded frame.
    */
  def stlDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val observed = Tables.events(s, dir)
      .groupBy(date_trunc("day", $"ts").as("d"))
      .agg(count(lit(1)).as("cnt"))
    val cal = observed.agg(min($"d").as("lo"), max($"d").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("d"))
    val daily = cal.join(observed, Seq("d"), "left")
      .select($"d", coalesce($"cnt", lit(0L)).as("cnt"))
      .pin // bounded |days| frame; windows + the seasonal join
    val w = Window.orderBy($"d").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend7", sum($"cnt").over(w))
      .withColumn("nw", count(lit(1)).over(w))
      .filter($"nw" === 7L)
      .withColumn("detr7", lit(7L) * $"cnt" - $"trend7")
      .withColumn("dow",
        datediff($"d", lit("1970-01-01").cast("timestamp")) % 7)
      .pin // seasonal agg + the join back
    val seas = trended.groupBy($"dow")
      .agg(floor(sum($"detr7").cast("double") / count(lit(1)))
        .cast("long").as("seasonal7"))
    trended.join(broadcast(seas), Seq("dow"))
      .select(date_format($"d", "yyyy-MM-dd").as("day"), $"cnt",
        $"trend7", $"seasonal7", ($"detr7" - $"seasonal7").as("rem7"))
      .orderBy($"day")
  }

  val stlDailySql: String =
    """WITH observed AS (
      |  SELECT date_trunc('day', ts) AS d, count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1),
      |cal AS (
      |  SELECT unnest(range((SELECT min(d) FROM observed),
      |                      (SELECT max(d) FROM observed) + INTERVAL 1 DAY,
      |                      INTERVAL 1 DAY)) AS d),
      |daily AS (
      |  SELECT c.d, coalesce(o.cnt, 0)::BIGINT AS cnt
      |  FROM cal c LEFT JOIN observed o ON c.d = o.d),
      |tr AS (
      |  SELECT d, cnt,
      |    (sum(cnt) OVER w)::BIGINT AS trend7, count(*) OVER w AS nw
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (
      |  SELECT d, cnt, trend7, (7 * cnt - trend7)::BIGINT AS detr7,
      |    date_diff('day', TIMESTAMP '1970-01-01', d) % 7 AS dow
      |  FROM tr WHERE nw = 7),
      |seas AS (
      |  SELECT dow,
      |    floor(sum(detr7)::DOUBLE / count(*))::BIGINT AS seasonal7
      |  FROM det GROUP BY dow)
      |SELECT strftime(det.d, '%Y-%m-%d') AS day, cnt, trend7, seasonal7,
      |  (detr7 - seasonal7)::BIGINT AS rem7
      |FROM det JOIN seas USING (dow)
      |ORDER BY day""".stripMargin

  /** Pivot: event counts per user-decile × event_type as columns (fixed
    * pivot values so the output schema is deterministic).
    */
  def pivotTypes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(($"user_id" % 10).as("user_mod"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"user_mod")
  }

  val pivotTypesSql: String =
    """SELECT user_id % 10 AS user_mod,
      |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
      |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view,
      |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
      |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
      |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error
      |FROM events GROUP BY 1 ORDER BY user_mod""".stripMargin

  /** JSON extraction from the props payload column (semi-structured data
    * path: string JSON → typed column → aggregate).
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val jsonExtractSql: String =
    """SELECT event_type, count(*) AS n,
      |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
      |  min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
      |  max(json_extract_string(props, '$.k')::BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Conversion funnel view → click → purchase: a user advances a stage
    * only with an event strictly AFTER their earliest event of the prior
    * stage (the classic ordered-funnel semantics, not mere presence).
    * Three per-user min-aggregates chained by equi-joins on user_id — every
    * shuffle is on the same key so AQE coalesces them, and each stage's
    * frame only shrinks, so later joins are broadcast-sized at any corpus
    * scale where the funnel actually narrows.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"event_type", $"ts")
    def stage(typ: String, prev: Option[DataFrame]): DataFrame = {
      val base = ev.filter($"event_type" === typ)
      val gated = prev match {
        case None => base
        case Some(p) => base.join(p, "user_id").filter($"ts" > $"t_prev")
      }
      gated.groupBy($"user_id").agg(min($"ts").as("t")).
        select($"user_id", $"t".as("t_prev"))
    }
    // v feeds its own count branch AND the c join (likewise c): checkpoint
    // the tiny per-user stage frames so the events scan + agg run once per
    // stage, not once per downstream consumer
    val v = stage("view", None).pin
    val c = stage("click", Some(v)).pin
    val p = stage("purchase", Some(c))
    Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
      .map { case (nm, df) =>
        df.agg(count(lit(1)).as("users")).select(lit(nm).as("stage"), $"users")
      }
      .reduce(_ unionByName _)
      .orderBy($"stage")
  }

  val funnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS t
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS t
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY e.user_id)
      |SELECT '1_view' AS stage, count(*)::BIGINT AS users FROM v
      |UNION ALL SELECT '2_click', count(*)::BIGINT FROM c
      |UNION ALL SELECT '3_purchase', count(*)::BIGINT FROM p
      |ORDER BY stage""".stripMargin

  /** Cohort retention: users grouped by the week of their first event
    * (cohort), counted as retained in each later week they were active.
    * Two shuffles — first-event per user, then distinct actives per
    * (cohort, offset) — both keyed on bounded-cardinality groups with
    * map-side partials. The first-seen frame is per-user-small, so the
    * activity join broadcasts or AQE-picks its side at any scale.
    */
  def retention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // cohort = the user's first week, as a WINDOW MIN rather than the
    // aggregate-then-join-back decorrelation the oracle spells: one scan
    // of the fact table and one user_id shuffle instead of two scans plus
    // a join — at 100 TB the fact scan is the whole cost
    val ev = Tables.events(s, dir)
      .select($"user_id", date_trunc("week", $"ts").as("wk"))
      .withColumn("cohort0",
        min($"wk").over(Window.partitionBy($"user_id")))
    ev.select($"user_id", date_format($"cohort0", "yyyy-MM-dd").as("cohort"),
        // floor() on BOTH sides: Spark's double->long cast truncates but
        // DuckDB's ::BIGINT rounds, so a bare (days/7)::BIGINT diverges
        floor(datediff($"wk", $"cohort0") / 7.0).cast("long").as("week_offset"))
      .distinct()
      .groupBy($"cohort", $"week_offset")
      .agg(count(lit(1)).as("active_users"))
      .orderBy($"cohort", $"week_offset")
  }

  val retentionSql: String =
    """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
      |fw AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
      |  floor(date_diff('day', cohort, wk) / 7.0)::BIGINT AS week_offset,
      |  count(DISTINCT ev.user_id)::BIGINT AS active_users
      |FROM ev JOIN fw ON ev.user_id = fw.user_id
      |GROUP BY cohort, week_offset
      |ORDER BY cohort, week_offset""".stripMargin

  /** Click attribution — the point-in-time-correct join a training-data
    * pipeline needs when labeling events with the feature snapshot that
    * preceded them: each click is attributed to the MOST RECENT view by the
    * same user within the preceding 30 minutes (no future leakage, no stale
    * match beyond the horizon). The interval join shuffles both sides once
    * on user_id; the per-click row_number() ≤ 1 idiom is rewritten by
    * [[graft.plans.GroupedTopKRewrite]] into the bounded-heap top-k when
    * the extensions are installed, so "latest preceding" never sorts the
    * full candidate set. Streaming twin (unbounded, state-evicting):
    * [[graft.streaming.EventStreams.clickAttribution]].
    */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("click_ts"))
    val views = ev.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
    clicks.join(views, Seq("user_id"))
      .filter($"view_ts" <= $"click_ts" &&
        $"view_ts" >= $"click_ts" - expr("INTERVAL 30 MINUTES"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"click_id")
          .orderBy($"view_ts".desc, $"view_id".desc)))
      .filter($"rn" === 1)
      .select($"user_id", $"click_id",
        date_format($"click_ts", fmt).as("click_ts"),
        $"view_id", date_format($"view_ts", fmt).as("view_ts"))
      .orderBy($"click_id")
  }

  val attributionSql: String =
    """SELECT user_id, click_id, click_ts, view_id, view_ts FROM (
      |  SELECT c.user_id, c.event_id AS click_id,
      |    strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
      |    v.event_id AS view_id,
      |    strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
      |    row_number() OVER (PARTITION BY c.event_id
      |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
      |  FROM events c JOIN events v
      |    ON c.user_id = v.user_id
      |   AND c.event_type = 'click' AND v.event_type = 'view'
      |   AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTE
      |) t WHERE rn = 1 ORDER BY click_id""".stripMargin

  /** Linear multi-touch attribution — the credit-splitting complement of
    * [[attribution]]'s last-touch rule (the marketing-analytics pairing:
    * last-touch answers "what closed it", linear answers "what
    * contributed"): each purchase splits 1000 permille of conversion
    * credit EQUALLY across every click of the same user in the
    * preceding 30 minutes, floors conserved exactly by handing the
    * remainder to the most recent touches — Σ credit per converted
    * purchase is EXACTLY 1000, so channel totals are auditable against
    * the conversion count (the law AttributionLinearSpec pins). Credit
    * aggregates per channel (the props.k decile — the corpus's campaign
    * proxy, as in ev_json_extract).
    *
    * Scale: one user-keyed interval join (both sides shuffle on user_id
    * once), per-purchase windows over the ≤horizon-bounded touch fan,
    * then one channel-keyed fold to ≤10 rows.
    */
  def attributionLinear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("pid"), $"user_id", $"ts".as("pts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("cid"), $"user_id", $"ts".as("cts"),
        (get_json_object($"props", "$.k").cast("long") / 10L)
          .cast("long").as("channel"))
    val w = Window.partitionBy($"pid")
    purchases.join(clicks, Seq("user_id"))
      .filter($"cts" <= $"pts" &&
        $"cts" >= $"pts" - expr("INTERVAL 30 MINUTES"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy($"cts".desc, $"cid".desc)))
      .withColumn("credit",
        expr("1000 div n") +
          when($"rn" <= expr("1000 % n"), 1L).otherwise(0L))
      .groupBy($"channel")
      .agg(countDistinct($"pid").as("n_purchases"),
        count(lit(1)).as("n_touches"),
        sum($"credit").as("credit_pm"))
      .orderBy($"channel")
  }

  val attributionLinearSql: String =
    """WITH touches AS (
      |  SELECT p.event_id AS pid, c.event_id AS cid,
      |    (json_extract_string(c.props, '$.k')::BIGINT // 10) AS channel,
      |    count(*) OVER (PARTITION BY p.event_id) AS n,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |  FROM events p JOIN events c
      |    ON p.user_id = c.user_id
      |   AND p.event_type = 'purchase' AND c.event_type = 'click'
      |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE),
      |credited AS (
      |  SELECT channel, pid,
      |    (1000 // n + CASE WHEN rn <= 1000 % n THEN 1 ELSE 0 END)
      |      AS credit
      |  FROM touches)
      |SELECT channel, count(DISTINCT pid)::BIGINT AS n_purchases,
      |  count(*)::BIGINT AS n_touches, sum(credit)::BIGINT AS credit_pm
      |FROM credited GROUP BY channel ORDER BY channel""".stripMargin

  /** Seasonal-naive forecast backtest with MASE (Hyndman & Koehler
    * 2006) — the "is the weekly pattern worth anything?" read every
    * volume-forecasting pipeline starts from, exact: over the daily
    * event-count series, forecast day d by day d−7 (seasonal naive),
    * baseline it by day d−1 (naive), and ship
    * MASE_pm = 1000·Σ|x_d − x_{d−7}| div Σ|x_d − x_{d−1}| over every
    * day with both lags in the corpus — below 1000 means the weekly
    * shape beats a random walk. Per-lag absolute-error sums ship too.
    *
    * Scale: the calendar-bounded daily fold again — two equi-joins on
    * the day index and a ≤1-row report; more data = heavier days.
    */
  def forecastMase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(datediff(date_trunc("day", $"ts"),
        lit("2024-01-01").cast("date")).cast("long").as("t"))
      .agg(count(lit(1)).as("x"))
    val d0 = daily.select($"t", $"x")
    val d1 = daily.select(($"t" + 1L).as("t"), $"x".as("x1"))
    val d7 = daily.select(($"t" + 7L).as("t"), $"x".as("x7"))
    d0.join(d1, Seq("t")).join(d7, Seq("t"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"x" - $"x7")).as("snaive_abs_err"),
        sum(abs($"x" - $"x1")).as("naive_abs_err"))
      .select($"n_days", $"snaive_abs_err", $"naive_abs_err",
        expr("(1000 * snaive_abs_err) div naive_abs_err").as("mase_pm"))
  }

  val forecastMaseSql: String =
    """WITH daily AS (
      |  SELECT date_diff('day', DATE '2024-01-01',
      |           CAST(date_trunc('day', ts) AS DATE))::BIGINT AS t,
      |    count(*)::BIGINT AS x
      |  FROM events GROUP BY 1)
      |SELECT count(*)::BIGINT AS n_days,
      |  sum(abs(d0.x - d7.x))::BIGINT AS snaive_abs_err,
      |  sum(abs(d0.x - d1.x))::BIGINT AS naive_abs_err,
      |  ((1000 * sum(abs(d0.x - d7.x))) //
      |   sum(abs(d0.x - d1.x)))::BIGINT AS mase_pm
      |FROM daily d0
      |JOIN daily d1 ON d0.t = d1.t + 1
      |JOIN daily d7 ON d0.t = d7.t + 7""".stripMargin

  /** Daily-volume anomaly flags per event type: a day is anomalous when
    * its count deviates from the type's mean by more than 2σ — computed
    * ENTIRELY in exact integer arithmetic so both engines agree
    * bit-for-bit: with D days, S = Σn, SS = Σn², the test
    * (n−μ)² > 4σ² cross-multiplies to (n·D − S)² > 4·(D·SS − S²)
    * (all terms ≪ 2^63 at any plausible daily volume). This is the
    * monitoring query a pipeline runs over ingest volumes; no floats, no
    * approximate variance.
    *
    * Scale shape: one map-side-combinable daily count, one tiny per-type
    * moment aggregation (|types| rows) broadcast back onto the daily
    * frame. The raw events are touched once.
    */
  def anomalies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val day = Tables.events(s, dir)
      .select($"event_type",
        date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val st = day.groupBy($"event_type")
      .agg(count(lit(1)).as("d"), sum($"n").as("sn"),
        sum($"n" * $"n").as("ss"))
    day.join(broadcast(st), Seq("event_type"))
      .withColumn("dev", $"n" * $"d" - $"sn")
      .select($"event_type", $"day", $"n",
        ($"dev" * $"dev" > lit(4L) * ($"d" * $"ss" - $"sn" * $"sn"))
          .cast("int").as("is_anomaly"))
      .orderBy($"event_type", $"day")
  }

  val anomaliesSql: String =
    """WITH d AS (
      |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, count(*)::BIGINT AS dd, sum(n)::BIGINT AS sn,
      |    sum(n * n)::BIGINT AS ss
      |  FROM d GROUP BY 1)
      |SELECT d.event_type, d.day, d.n,
      |  CASE WHEN (d.n * st.dd - st.sn) * (d.n * st.dd - st.sn)
      |         > 4 * (st.dd * st.ss - st.sn * st.sn)
      |       THEN 1 ELSE 0 END AS is_anomaly
      |FROM d JOIN st USING (event_type)
      |ORDER BY d.event_type, d.day""".stripMargin

  /** Event-type transition matrix (first-order Markov counts) over each
    * user's timeline — the generalization of [[funnel]] from one fixed
    * path to ALL observed paths: P(next event | current event), the frame
    * behind behavioral flow charts, next-action prediction features, and
    * bot detection (impossible transitions). Probabilities are integer
    * permille of each row's outgoing mass (exact cross-engine; the float
    * refinement is a client-side divide).
    *
    * Scale: one user-keyed window (lag) forms transitions map-side after a
    * single user-partitioned shuffle — the same partitioning sessions/
    * funnel/retention already use — then one mergeable count over the
    * (from, to) pairs: |types|² output rows regardless of corpus size. The
    * row-normalizer joins on `from_type` against a |types|-row broadcast.
    */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tr = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("from_type", lag($"event_type", 1).over(w))
      .filter($"from_type".isNotNull)
      .groupBy($"from_type", $"event_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    val outMass = tr.groupBy($"from_type").agg(sum($"n").as("row_n"))
    tr.join(broadcast(outMass), Seq("from_type"))
      .select($"from_type", $"to_type", $"n",
        floor($"n" * 1000L / $"row_n").cast("long").as("p_permille"))
      .orderBy($"from_type", $"to_type")
  }

  val transitionsSql: String =
    """WITH tr AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS from_type,
      |         event_type AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*)::BIGINT AS n
      |      FROM tr WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT from_type, sum(n)::BIGINT AS row_n FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  (c.n * 1000 // m.row_n)::BIGINT AS p_permille
      |FROM c JOIN m USING (from_type)
      |ORDER BY c.from_type, c.to_type""".stripMargin

  /** Markov COMMUNICATING CLASSES of the dominant-transition skeleton —
    * the structural companion to [[markovStationary]] (which computes the
    * long-run mix, this explains it): over the [[transitions]] chain's
    * p ≥ 200‰ edges, states are grouped by mutual reachability (the SCCs
    * of the skeleton) and each class is flagged RECURRENT (closed — no
    * dominant transition leaves it; the stationary mass parks here) or
    * TRANSIENT (the chain passes through and doesn't come back). At the
    * gate corpus: {click, error, purchase, signup} form one recurrent
    * class, `view` is transient — the funnel's entry state.
    *
    * Shape: every frame is SCHEMA-BOUNDED at |event types|² rows (the
    * ev_markov_stationary argument) — the corpus pass is the one
    * [[transitions]] window scan; reachability closes by THREE pinned
    * rounds of relation squaring (covers path length 8 ≥ any |types|≤9
    * diameter; squaring is idempotent at closure, the truss round
    * doctrine — and the ≤9-state bound is ENFORCED by an in-plan
    * assert_true guard, so a grown domain fails instead of diverging
    * from the oracle), mutual reach is one self-join, the class fold and
    * the leak test are keyed aggs on the bounded frames.
    */
  def markovClasses(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("f", lag($"event_type", 1).over(w))
      .filter($"f".isNotNull)
      .groupBy($"f", $"event_type".as("t")).agg(count(lit(1)).as("n"))
      .pin
    val outMass = counts.groupBy($"f").agg(sum($"n").as("rn"))
    val skel = counts.join(outMass, Seq("f"))
      .filter($"n" * 1000L >= $"rn" * 200L)
      .select($"f", $"t").pin
    val nodes = Tables.events(s, dir).select($"event_type".as("v")).distinct()
    // state-count contract (ADVICE r13): 3 squaring rounds close paths of
    // length 2³ = 8, i.e. any skeleton on ≤ 9 states; enforce in-plan via
    // the broadcast-1-row-aggregate idiom (assert_true is NULL on pass,
    // throws on a wider domain) so a grown event_type domain fails loudly
    // instead of silently under-closing vs the oracle's fixpoint CTE —
    // the truss convergence-require doctrine.
    val guard = nodes.agg(assert_true(count(lit(1)) <= lit(9L),
      lit("ev_markov_classes: more than 9 distinct event types — 3 " +
        "squaring rounds only close diameter 8; add a round")).as("_g"))
    var r = nodes.select($"v".as("x"), $"v".as("y"))
      .unionByName(skel.select($"f".as("x"), $"t".as("y")))
      .distinct().pin
    // the reachability relation is ≤ 9²-row bounded (the guard enforces
    // ≤ 9 states), but reaches Catalyst as unestimated checkpoint
    // lineage — broadcast the build sides so the squaring/mutual joins
    // don't sort-merge these bounded frames (guide §3.1)
    for (_ <- 1 to 3) {
      r = r.unionByName(
          r.as("p").join(broadcast(r.as("q")), $"p.y" === $"q.x")
            .select($"p.x".as("x"), $"q.y".as("y")))
        .distinct().pin
    }
    val mutual = r.as("a")
      .join(broadcast(r.as("b")), $"a.x" === $"b.y" && $"a.y" === $"b.x")
      .select($"a.x".as("v"), $"a.y".as("m"))
    val cls = mutual.groupBy($"v").agg(min($"m").as("class_id")).pin
    val leak = skel
      .join(broadcast(cls.select($"v".as("f"), $"class_id")), Seq("f"))
      .join(broadcast(cls.select($"v".as("t"), $"class_id".as("c2"))),
        Seq("t"))
      .filter($"class_id" =!= $"c2")
      .select($"class_id").distinct()
    cls.join(leak.withColumn("leaky", lit(1L)), Seq("class_id"), "left")
      .crossJoin(broadcast(guard)).filter($"_g".isNull)
      .select($"v".as("event_type"), $"class_id",
        when($"leaky".isNotNull, 0L).otherwise(1L).as("recurrent"))
      .orderBy($"event_type")
  }

  val markovClassesSql: String =
    """WITH RECURSIVE tr AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS f,
      |         event_type AS t
      |  FROM events),
      |c AS (SELECT f, t, count(*)::BIGINT AS n
      |      FROM tr WHERE f IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT f, sum(n)::BIGINT AS rn FROM c GROUP BY 1),
      |skel AS (
      |  SELECT c.f, c.t FROM c JOIN m USING (f)
      |  WHERE c.n * 1000 >= m.rn * 200),
      |nodes AS (SELECT DISTINCT event_type AS v FROM events),
      |reach(x, y) AS (
      |  SELECT v, v FROM nodes
      |  UNION
      |  SELECT r.x, s.t FROM reach r JOIN skel s ON r.y = s.f),
      |mut AS (
      |  SELECT a.x AS v, a.y AS m FROM reach a
      |  JOIN reach b ON a.x = b.y AND a.y = b.x),
      |cls AS (SELECT v, min(m) AS class_id FROM mut GROUP BY 1),
      |leak AS (
      |  SELECT DISTINCT cf.class_id FROM skel s
      |  JOIN cls cf ON s.f = cf.v JOIN cls ct ON s.t = ct.v
      |  WHERE cf.class_id <> ct.class_id)
      |SELECT c2.v AS event_type, c2.class_id,
      |  (CASE WHEN l.class_id IS NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS recurrent
      |FROM cls c2 LEFT JOIN leak l ON c2.class_id = l.class_id
      |ORDER BY event_type""".stripMargin

  /** Sequential PATH mining — the order-3 generalization of
    * [[transitions]] (Agrawal–Srikant sequence patterns at the n-gram
    * grain): the top-10 most-traveled 3-step event paths per user
    * timeline, with each path's share of all trigrams in exact permille.
    * The "what do users actually do" readout behind funnel design — a
    * bigram matrix cannot distinguish view→click→purchase from
    * view→click→error; the trigram table can.
    *
    * Scale: ONE user-keyed window pass (two lead()s on the same
    * partitioning — a single exchange, stacked frames), then a groupBy
    * whose key space is bounded by |event types|³ (≤125 here) — the
    * top-10 sort runs on that bounded frame, never on the corpus; the
    * share normalizer is a 1-row broadcast.
    */
  def topPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tri = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("p1"))
      .withColumn("p2", lead($"p1", 1).over(w))
      .withColumn("p3", lead($"p1", 2).over(w))
      .filter($"p3".isNotNull)
      .groupBy($"p1", $"p2", $"p3").agg(count(lit(1)).as("n"))
    val tot = tri.agg(sum($"n").as("total"))
    tri.crossJoin(broadcast(tot))
      .select($"p1", $"p2", $"p3", $"n",
        floor($"n" * 1000L / $"total").cast("long").as("share_pm"))
      .orderBy($"n".desc, $"p1", $"p2", $"p3")
      .limit(10)
  }

  val topPathsSql: String =
    """WITH tri AS (
      |  SELECT event_type AS p1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS p2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS p3
      |  FROM events),
      |c AS (SELECT p1, p2, p3, count(*)::BIGINT AS n
      |      FROM tri WHERE p3 IS NOT NULL GROUP BY 1, 2, 3),
      |t AS (SELECT sum(n)::BIGINT AS total FROM c)
      |SELECT p1, p2, p3, n, (n * 1000 // total)::BIGINT AS share_pm
      |FROM c CROSS JOIN t
      |ORDER BY n DESC, p1, p2, p3 LIMIT 10""".stripMargin

  /** WINDOWED funnel (the ClickHouse windowFunnel primitive): the deepest
    * view→click→purchase chain each user completes INSIDE a 6-hour
    * window (the sessionCounts horizon) anchored at the chain's first event — [[funnel]] without the
    * window answers "ever converted", this answers "converted while the
    * intent was live". Per user the max stage (0 = active but no view),
    * output as a stage histogram.
    *
    * The chain search is GREEDY-EARLIEST, which is exact for
    * chain-existence (taking the earliest click ≥ the view, then the
    * earliest purchase ≥ that click, minimizes the chain's end — an
    * exchange argument): both hops come from ONE user-keyed window pass —
    * `min(purchase micros) over [current, ∞)` stacked with
    * `min(struct(click micros, that purchase min)) over [current, ∞)`,
    * RANGE frames on epoch micros so the ≥ comparisons are value-based
    * (identical to the oracle's correlated min-subqueries even under
    * timestamp ties). Two windows, same partitioning → one exchange;
    * the per-user fold and the ≤4-row histogram follow.
    */
  def windowFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val H = 21600000000L // 6 hours in micros (the session horizon)
    val w = Window.partitionBy($"user_id").orderBy($"m")
      .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    val ev = Tables.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("m"), $"event_type")
    val chained = ev
      .withColumn("pm",
        min(when($"event_type" === "purchase", $"m")).over(w))
      .withColumn("cb",
        min(when($"event_type" === "click", struct($"m", $"pm"))).over(w))
    val perUser = chained.filter($"event_type" === "view")
      .groupBy($"user_id").agg(
        max(when($"cb.pm".isNotNull && $"cb.pm" - $"m" <= H, 3L)
          .when($"cb.m".isNotNull && $"cb.m" - $"m" <= H, 2L)
          .otherwise(1L)).as("stage"))
    ev.select($"user_id").distinct()
      .join(perUser, Seq("user_id"), "left")
      .select(coalesce($"stage", lit(0L)).as("stage"))
      .groupBy($"stage").agg(count(lit(1)).as("users"))
      .orderBy($"stage")
  }

  val windowFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS m, event_type FROM events),
      |v AS (SELECT user_id, m FROM e WHERE event_type = 'view'),
      |c1 AS (
      |  SELECT v.user_id, v.m,
      |    (SELECT min(c.m) FROM e c WHERE c.user_id = v.user_id
      |       AND c.event_type = 'click' AND c.m >= v.m) AS cm
      |  FROM v),
      |c2 AS (
      |  SELECT user_id, m, cm,
      |    (SELECT min(p.m) FROM e p WHERE p.user_id = c1.user_id
      |       AND p.event_type = 'purchase' AND p.m >= c1.cm) AS pm
      |  FROM c1),
      |us AS (
      |  SELECT user_id,
      |    max(CASE WHEN pm IS NOT NULL AND pm - m <= 21600000000 THEN 3
      |             WHEN cm IS NOT NULL AND cm - m <= 21600000000 THEN 2
      |             ELSE 1 END)::BIGINT AS stage
      |  FROM c2 GROUP BY 1),
      |allu AS (SELECT DISTINCT user_id FROM e)
      |SELECT stage, count(*)::BIGINT AS users FROM (
      |  SELECT coalesce(us.stage, 0) AS stage
      |  FROM allu LEFT JOIN us USING (user_id)) t
      |GROUP BY stage ORDER BY stage""".stripMargin

  /** Stationary distribution of the [[transitions]] Markov chain — the
    * long-run event mix the per-step matrix implies ("where does a user
    * journey settle?"), the classic chain read behind behavioral mix
    * forecasting. Fixed-point power iteration on the transposed chain:
    * π'(to) = Σ_from (π(from)·c(from,to)) div m(from) — the pageRank
    * contribution idiom, every division an integer floor on the
    * non-negative domain so both engines agree bit-for-bit; mass lost
    * to floors is the standard fixed-point price and identical
    * cross-engine. Start uniform at 10⁶ per state; a state with no
    * outgoing observations absorbs (inflow, no outflow) — honest chain
    * semantics, not a special case.
    *
    * Output ships the last two iterates (the convergence read, as in
    * emb_pca_power) plus each state's permille share of the final mass.
    *
    * Scale: ONE user-keyed windowed scan builds the transition counts
    * (the corpus pass); the 8 rounds run on ≤|event-types|-row frames —
    * bounded by the schema, not the data — each checkpointed (the
    * iterate chain rule). More data = heavier counts, never more rows
    * past the fold.
    */
  def markovStationary(s: SparkSession, dir: String,
      iters: Int = 8): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.Pin.PinOps
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tr = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("from_type", lag($"event_type", 1).over(w))
      .filter($"from_type".isNotNull)
      .groupBy($"from_type", $"event_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    val m = tr.groupBy($"from_type").agg(sum($"n").as("row_n"))
    val cm = tr.join(m, Seq("from_type")).pin // re-read per round
    val states = Tables.events(s, dir)
      .select($"event_type".as("state")).distinct().pin
    var pi = states.select($"state", lit(1000000L).as("pi"))
    var prev = pi
    for (_ <- 1 to iters) {
      // pi and contrib are ≤|event-types| rows — bounded by the SCHEMA,
      // not the data — but reach Catalyst as unestimated checkpoint
      // lineage, so without explicit broadcasts both per-round joins
      // fall to sort-merge and shuffle the (equally bounded) cm/states
      // frames twice per round (guide §3.1)
      val contrib = cm
        .join(broadcast(pi.select($"state".as("from_type"), $"pi")),
          Seq("from_type"))
        .select($"to_type".as("state"),
          expr("(pi * n) div row_n").as("c"))
        .groupBy($"state").agg(sum($"c").as("s"))
      prev = pi
      pi = states.join(broadcast(contrib), Seq("state"), "left")
        .select($"state", coalesce($"s", lit(0L)).as("pi"))
        .pin
    }
    val tot = pi.agg(sum($"pi").as("tot"))
    prev.select($"state", $"pi".as("pi_prev"))
      .join(pi, Seq("state"))
      .crossJoin(tot)
      .select($"state", $"pi_prev", $"pi",
        expr("(1000 * pi) div tot").as("share_pm"))
      .orderBy($"state")
  }

  val markovStationarySql: String = {
    def round(k: Int): String =
      s""",
         |pi$k AS MATERIALIZED (
         |  SELECT st.state, coalesce(c.s, 0)::BIGINT AS pi
         |  FROM states st LEFT JOIN (
         |    SELECT cm.to_type AS state,
         |      sum((p.pi * cm.n) // cm.row_n)::BIGINT AS s
         |    FROM cm JOIN pi${k - 1} p ON cm.from_type = p.state
         |    GROUP BY 1) c ON st.state = c.state)""".stripMargin
    """WITH tr AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS from_type,
      |         event_type AS to_type
      |  FROM events),
      |c0 AS (SELECT from_type, to_type, count(*)::BIGINT AS n
      |       FROM tr WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT from_type, sum(n)::BIGINT AS row_n FROM c0 GROUP BY 1),
      |cm AS MATERIALIZED (
      |  SELECT c0.from_type, c0.to_type, c0.n, m.row_n
      |  FROM c0 JOIN m USING (from_type)),
      |states AS MATERIALIZED (
      |  SELECT DISTINCT event_type AS state FROM events),
      |pi0 AS (SELECT state, 1000000::BIGINT AS pi FROM states)"""
      .stripMargin +
      (1 to 8).map(round).mkString +
      """,
        |tot AS (SELECT sum(pi)::BIGINT AS tot FROM pi8)
        |SELECT p7.state, p7.pi AS pi_prev, p8.pi AS pi,
        |  ((1000 * p8.pi) // tot)::BIGINT AS share_pm
        |FROM pi7 p7 JOIN pi8 p8 USING (state) CROSS JOIN tot
        |ORDER BY p7.state""".stripMargin
  }

  /** Inter-arrival gap distribution per event type — the arrival-process
    * diagnostic that sizes streaming capacity (trigger intervals, state
    * store pressure, watermark slack): per user, the gap between
    * consecutive events; per type of the later event, a fixed gap
    * histogram plus the exact max. Integer milliseconds end to end.
    *
    * Scale: same single user-keyed window as [[transitions]]; the
    * histogram is one mergeable count into |types|×4 cells.
    */
  def interArrival(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("gap_ms",
        unix_millis($"ts") - lag(unix_millis($"ts"), 1).over(w))
      .filter($"gap_ms".isNotNull)
      .withColumn("bucket",
        when($"gap_ms" < 60000L, "a_lt1m")
          .when($"gap_ms" < 300000L, "b_1to5m")
          .when($"gap_ms" < 3600000L, "c_5mto1h")
          .otherwise("d_ge1h"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"), max($"gap_ms").as("max_gap_ms"))
      .orderBy($"event_type", $"bucket")
  }

  val interArrivalSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS gap_ms
      |  FROM events)
      |SELECT event_type,
      |  CASE WHEN gap_ms < 60000 THEN 'a_lt1m'
      |       WHEN gap_ms < 300000 THEN 'b_1to5m'
      |       WHEN gap_ms < 3600000 THEN 'c_5mto1h'
      |       ELSE 'd_ge1h' END AS bucket,
      |  count(*)::BIGINT AS n, max(gap_ms)::BIGINT AS max_gap_ms
      |FROM g WHERE gap_ms IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-user activity streaks — the gaps-and-islands window idiom: an
    * island of consecutive active days is identified by `day − row_number`
    * (constant within a run of consecutive dates, distinct across gaps),
    * so the whole computation is one distinct, one user-keyed window, and
    * two mergeable aggs. Engagement/cadence features like these feed both
    * product analytics and per-user data-curation heuristics (e.g. bot
    * detection: a 1000-day streak is a scraper).
    *
    * Scale: the only shuffle is the user_id hash (window + both groupBys
    * share it); no join, no self-comparison — the classic alternative
    * (self-join day = day−1 chains) is quadratic in streak length and
    * never needed.
    */
  def streaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, dir)
      .select($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
      .distinct()
    val grp = days
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"day")))
      .select($"user_id", expr("date_sub(day, rn)").as("island"))
    grp.groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(sum($"len").as("n_days"), max($"len").as("best_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy($"user_id")
  }

  val streaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)::INTEGER
      |      AS island
      |  FROM days),
      |runs AS (
      |  SELECT user_id, island, count(*)::BIGINT AS len
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, sum(len)::BIGINT AS n_days,
      |  max(len)::BIGINT AS best_streak, count(*)::BIGINT AS n_streaks
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** DAU + rolling 7-day active users per day — the standard engagement
    * surface (DAU/WAU). The rolling DISTINCT is exact, and the sliding
    * range is computed WITHOUT a range join: each (day, user) contribution
    * is replicated to the ≤7 window-end days it can count toward
    * (`sequence(day, day+6)`), turning the interval containment into a
    * plain equi-aggregation — the bounded-window-replication trick that
    * keeps this shape shuffle-only at any scale (a range join here would
    * be a nested loop; a global `collect_set` window would be a
    * single-partition sort). Window-end days with no events of their own
    * are dropped (they are artifacts of the replication, not calendar
    * days the corpus observed).
    *
    * Scale: the heavy operation is the (day, user) distinct — one
    * map-side-combinable shuffle on the events table; everything after
    * runs on frames bounded by days × users.
    */
  def dauRolling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val du = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val dau = du.groupBy($"day").agg(count(lit(1)).as("dau"))
    val roll = du
      .select(explode(sequence($"day", date_add($"day", 6))).as("wday"),
        $"user_id")
      .distinct()
      .join(dau.select($"day".as("wday")), Seq("wday"), "left_semi")
      .groupBy($"wday").agg(count(lit(1)).as("wau7"))
    dau.join(roll, $"day" === $"wday")
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"dau", $"wau7")
      .orderBy($"day")
  }

  val dauRollingSql: String =
    """WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
      |dau AS (SELECT day, count(*)::BIGINT AS dau FROM du GROUP BY 1),
      |contrib AS (
      |  SELECT DISTINCT day + o.off AS wday, user_id
      |  FROM du CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) o(off)),
      |roll AS (
      |  SELECT wday, count(*)::BIGINT AS wau7 FROM contrib
      |  WHERE wday IN (SELECT day FROM dau) GROUP BY 1)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, r.wau7
      |FROM dau d JOIN roll r ON d.day = r.wday ORDER BY day""".stripMargin

  /** RFM segmentation: per-user Recency (days since last event, anchored
    * on the corpus max day), Frequency (event count), Monetary (exact
    * integer cents — `value` carries two decimals, so `round(value*100)`
    * is the same int64 on identical IEEE doubles in both engines), each
    * quintile-ranked (`ntile(5)` with user_id tie-break so the bucketing
    * is deterministic cross-engine). The classic marketing/curation
    * user-value decomposition.
    *
    * Scale: one user-keyed mergeable aggregation over events; the anchor
    * is a 1-row broadcast aggregate; the three quintile assignments run
    * as two-pass global ranks ([[GlobalOrder.rank]] — range partition,
    * local rank, broadcast offsets) + the closed-form ntile bucket
    * arithmetic ([[GlobalOrder.ntileFromRank]]). No unpartitioned ntile
    * window over the user dimension — the user dimension is reduced but
    * UNBOUNDED at scale, so it gets the same two-pass treatment as the
    * corpus itself.
    */
  def rfm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id",
        round($"value" * 100).cast("long").as("cents"))
    // 1-row bounded aggregate → driver literal (same regime as the
    // GlobalOrder offset table): keeps the anchor out of the plan as a
    // cross join, whose printout would otherwise replicate through the
    // three ranked frames' cached lineages
    // max(day) is NULL on an empty events table — peruser is then empty
    // too, so any placeholder anchor yields the same (empty) result with
    // the right schema instead of an NPE at construction time
    val anchorDay = Option(ev.agg(max($"day")).head().getDate(0))
      .getOrElse(java.sql.Date.valueOf("1970-01-01"))
    val peruser = ev.groupBy($"user_id")
      .agg(max($"day").as("last_day"), count(lit(1)).as("f"),
        sum($"cents").as("m_cents"))
      .select($"user_id", datediff(lit(anchorDay), $"last_day").cast("long")
        .as("r_days"), $"f", $"m_cents")
    val (r1, n) =
      GlobalOrder.rank(peruser, Seq($"r_days", $"user_id"), "r_rnk")
    val (r2, _) =
      GlobalOrder.rank(r1, Seq($"f".desc, $"user_id"), "f_rnk")
    val (r3, _) =
      GlobalOrder.rank(r2, Seq($"m_cents".desc, $"user_id"), "m_rnk")
    r3.select($"user_id", $"r_days", $"f", $"m_cents",
        GlobalOrder.ntileFromRank($"r_rnk", n, 5).cast("long").as("r_q"),
        GlobalOrder.ntileFromRank($"f_rnk", n, 5).cast("long").as("f_q"),
        GlobalOrder.ntileFromRank($"m_rnk", n, 5).cast("long").as("m_q"))
      .orderBy($"user_id")
  }

  val rfmSql: String =
    """WITH ev AS (
      |  SELECT ts::DATE AS day, user_id,
      |    round(value * 100)::BIGINT AS cents FROM events),
      |anchor AS (SELECT max(day) AS a FROM ev),
      |peruser AS (
      |  SELECT user_id, date_diff('day', max(day), (SELECT a FROM anchor))::BIGINT AS r_days,
      |    count(*)::BIGINT AS f, sum(cents)::BIGINT AS m_cents
      |  FROM ev GROUP BY user_id)
      |SELECT user_id, r_days, f, m_cents,
      |  ntile(5) OVER (ORDER BY r_days, user_id)::BIGINT AS r_q,
      |  ntile(5) OVER (ORDER BY f DESC, user_id)::BIGINT AS f_q,
      |  ntile(5) OVER (ORDER BY m_cents DESC, user_id)::BIGINT AS m_q
      |FROM peruser ORDER BY user_id""".stripMargin

  /** View→purchase conversion latency histogram: per user, the lag from
    * their FIRST view to the first purchase at-or-after it, in whole
    * minutes (exact integer: epoch-microsecond difference floor-divided —
    * no engine's calendar `date_diff` boundary semantics involved),
    * bucketed by bitlength(minutes + 1). Users who viewed but never
    * purchased afterwards land in bucket −1 — the non-conversion mass a
    * funnel readout must not silently drop.
    *
    * Scale: two user-keyed mergeable min-aggregations (first view, first
    * qualifying purchase) joined on user — the purchase side is filtered
    * by the view frame co-partitioned on user_id, then one |buckets|-row
    * agg. No windows over the raw stream, no range join.
    */
  def conversionLag(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val firstView = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("vus"))
    val firstBuy = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"us")
      .join(firstView, Seq("user_id"))
      .filter($"us" >= $"vus")
      .groupBy($"user_id").agg(min($"us").as("pus"))
    firstView.join(firstBuy, Seq("user_id"), "left")
      .select($"user_id", $"vus",
        floor(($"pus" - $"vus") / 60000000L).cast("long").as("lag_min"))
      .withColumn("bucket",
        when($"lag_min".isNull, -1L)
          .otherwise(length(bin($"lag_min" + 1L)).cast("long")))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_users"),
        min($"lag_min").as("min_lag"), max($"lag_min").as("max_lag"))
      .orderBy($"bucket")
  }

  val conversionLagSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |fv AS (
      |  SELECT user_id, min(us) AS vus FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |fb AS (
      |  SELECT e.user_id, min(e.us) AS pus
      |  FROM ev e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type = 'purchase' AND e.us >= fv.vus
      |  GROUP BY e.user_id),
      |lags AS (
      |  SELECT fv.user_id,
      |    CASE WHEN fb.pus IS NULL THEN NULL
      |         ELSE (fb.pus - fv.vus) // 60000000 END AS lag_min
      |  FROM fv LEFT JOIN fb ON fv.user_id = fb.user_id)
      |SELECT (CASE WHEN lag_min IS NULL THEN -1
      |             ELSE length(bin(lag_min + 1)) END)::BIGINT AS bucket,
      |  count(*)::BIGINT AS n_users,
      |  min(lag_min)::BIGINT AS min_lag, max(lag_min)::BIGINT AS max_lag
      |FROM lags GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Growth accounting (the new/retained/resurrected/churned decomposition
    * every DAU chart hides): per day, active users classified by their
    * PREVIOUS active day — never seen before → new; active the calendar
    * day before → retained; a gap ≥ 2 days → resurrected; plus churned =
    * yesterday's actives who went silent today (dau(d−1) − retained(d),
    * an identity — no second scan needed). new + retained + resurrected
    * = dau, so the decomposition is self-auditing.
    *
    * Scale: one (day, user) distinct, one per-user lag window (state
    * bounded by a user's active-day count), one day-keyed agg, and a
    * 1-day self-join of the |days|-row daily frame. The raw event stream
    * is touched once.
    */
  def userLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val du = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val classified = du
      .withColumn("prev", lag($"day", 1).over(w))
      .groupBy($"day")
      .agg(sum(when($"prev".isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(datediff($"day", $"prev") === 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(datediff($"day", $"prev") >= 2, 1L).otherwise(0L))
          .as("n_resurrected"),
        count(lit(1)).as("dau"))
    val prevDau = classified
      .select(date_add($"day", 1).as("day"), $"dau".as("dau_prev"))
    classified.join(prevDau, Seq("day"), "left")
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"dau", $"n_new", $"n_retained", $"n_resurrected",
        (coalesce($"dau_prev", lit(0L)) - $"n_retained").as("n_churned"))
      .orderBy($"day")
  }

  val userLifecycleSql: String =
    """WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
      |cls AS (
      |  SELECT day,
      |    sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_new,
      |    sum(CASE WHEN day - prev = 1 THEN 1 ELSE 0 END)::BIGINT
      |      AS n_retained,
      |    sum(CASE WHEN day - prev >= 2 THEN 1 ELSE 0 END)::BIGINT
      |      AS n_resurrected,
      |    count(*)::BIGINT AS dau
      |  FROM (SELECT day, user_id,
      |          lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |        FROM du) t
      |  GROUP BY day)
      |SELECT strftime(c.day, '%Y-%m-%d') AS day, c.dau, c.n_new,
      |  c.n_retained, c.n_resurrected,
      |  (coalesce(p.dau, 0) - c.n_retained)::BIGINT AS n_churned
      |FROM cls c LEFT JOIN cls p ON c.day = p.day + 1
      |ORDER BY day""".stripMargin

  /** Revenue concentration ("whale curve"): users ranked by monetary
    * value (exact cents), cut into deciles (ntile(10), user_id
    * tie-break), each decile's share and CUMULATIVE share of total
    * revenue in floor permille — how top-heavy the revenue base is (the
    * Pareto/80-20 readout). All integer arithmetic; the cumulative sum
    * runs over the 10-row decile frame.
    *
    * Scale: one user-keyed mergeable agg over events; the decile
    * assignment is a two-pass global rank ([[GlobalOrder.rank]]) + the
    * closed-form ntile arithmetic — no unpartitioned window over the
    * (unbounded-at-scale) user dimension; the cumulative-share window
    * runs on the bounded 10-row decile frame.
    */
  def whaleCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(s, dir)
      .select($"user_id", round($"value" * 100).cast("long").as("cents"))
      .groupBy($"user_id").agg(sum($"cents").as("m"))
    val (rankedUsers, nUsers) =
      GlobalOrder.rank(perUser, Seq($"m".desc, $"user_id"), "rnk")
    val deciles = rankedUsers
      .withColumn("decile",
        GlobalOrder.ntileFromRank($"rnk", nUsers, 10).cast("long"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"m").as("decile_cents"))
    val tot = deciles.agg(sum($"decile_cents").as("t"))
    deciles.crossJoin(broadcast(tot))
      .withColumn("cum_cents", sum($"decile_cents").over(
        Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"decile", $"n_users", $"decile_cents",
        floor(lit(1000L) * $"decile_cents" / $"t").cast("long")
          .as("share_pm"),
        floor(lit(1000L) * $"cum_cents" / $"t").cast("long")
          .as("cum_share_pm"))
      .orderBy($"decile")
  }

  val whaleCurveSql: String =
    """WITH pu AS (
      |  SELECT user_id, sum(round(value * 100)::BIGINT)::BIGINT AS m
      |  FROM events GROUP BY user_id),
      |dec AS (
      |  SELECT ntile(10) OVER (ORDER BY m DESC, user_id)::BIGINT AS decile,
      |    m
      |  FROM pu),
      |agg AS (
      |  SELECT decile, count(*)::BIGINT AS n_users,
      |    sum(m)::BIGINT AS decile_cents
      |  FROM dec GROUP BY decile),
      |tot AS (SELECT sum(decile_cents)::BIGINT AS t FROM agg)
      |SELECT decile, n_users, decile_cents,
      |  (1000 * decile_cents // t)::BIGINT AS share_pm,
      |  (1000 * sum(decile_cents) OVER (ORDER BY decile
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) // t)::BIGINT
      |    AS cum_share_pm
      |FROM agg CROSS JOIN tot ORDER BY decile""".stripMargin

  /** Cohort LTV curve: per weekly signup cohort (= the user's first
    * active week, [[retention]]'s convention) and week offset, purchase
    * revenue in exact cents plus the CUMULATIVE revenue-to-date — the
    * lifetime-value curve a growth model fits. Cohort size rides along
    * so readers can normalize per-user; offsets with zero purchases are
    * absent by construction (the cumulative column stays correct —
    * revenue only accrues on present rows).
    *
    * Scale: one window-min pass for cohorts (single user_id shuffle, no
    * join-back), one (cohort, offset) mergeable agg over purchases, and
    * the cumulative window over the small cohort × offset frame.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", date_trunc("week", $"ts").as("wk"),
        round($"value" * 100).cast("long").as("cents"))
      .withColumn("cohort0",
        min($"wk").over(Window.partitionBy($"user_id")))
    val sizes = ev.select($"user_id",
        date_format($"cohort0", "yyyy-MM-dd").as("cohort")).distinct()
      .groupBy($"cohort").agg(count(lit(1)).as("n_users"))
    val rev = ev.filter($"event_type" === "purchase")
      .select(date_format($"cohort0", "yyyy-MM-dd").as("cohort"),
        floor(datediff($"wk", $"cohort0") / 7.0).cast("long")
          .as("week_offset"),
        $"cents")
      .groupBy($"cohort", $"week_offset")
      .agg(sum($"cents").as("rev_cents"))
    rev.join(broadcast(sizes), Seq("cohort"))
      .withColumn("cum_rev_cents", sum($"rev_cents").over(
        Window.partitionBy($"cohort").orderBy($"week_offset")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"cohort", $"week_offset", $"n_users", $"rev_cents",
        $"cum_rev_cents")
      .orderBy($"cohort", $"week_offset")
  }

  val cohortLtvSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, date_trunc('week', ts) AS wk,
      |    round(value * 100)::BIGINT AS cents
      |  FROM events),
      |fw AS (SELECT user_id, min(wk) AS cohort0 FROM ev GROUP BY user_id),
      |sizes AS (
      |  SELECT strftime(cohort0, '%Y-%m-%d') AS cohort,
      |    count(*)::BIGINT AS n_users
      |  FROM fw GROUP BY 1),
      |rev AS (
      |  SELECT strftime(fw.cohort0, '%Y-%m-%d') AS cohort,
      |    floor(date_diff('day', fw.cohort0, ev.wk) / 7.0)::BIGINT
      |      AS week_offset,
      |    sum(ev.cents)::BIGINT AS rev_cents
      |  FROM ev JOIN fw ON ev.user_id = fw.user_id
      |  WHERE ev.event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT r.cohort, r.week_offset, s.n_users, r.rev_cents,
      |  sum(r.rev_cents) OVER (PARTITION BY r.cohort ORDER BY r.week_offset
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |    AS cum_rev_cents
      |FROM rev r JOIN sizes s ON r.cohort = s.cohort
      |ORDER BY r.cohort, r.week_offset""".stripMargin

  /** Traffic seasonality matrix: event counts per (day-of-week,
    * hour-of-day) cell with permille share of the whole corpus — the
    * capacity-planning / anomaly-baseline heatmap (ev_anomaly's 2σ test
    * compares against daily volume; this is the finer within-week
    * structure it normalizes away). ISO day numbering (1 = Monday) on
    * both engines.
    *
    * Scale: one mergeable aggregation over the event stream into a fixed
    * 7×24-cell frame; the share normalizer is a window over those ≤168
    * rows.
    */
  def seasonality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.events(s, dir)
      .select(dayofweek($"ts").as("dow_raw"), hour($"ts").as("hod"))
      // Spark dayofweek: 1 = Sunday; re-index to ISO 1 = Monday
      .select(((($"dow_raw" + 5) % 7) + 1).cast("long").as("iso_dow"),
        $"hod".cast("long").as("hod"))
      .groupBy($"iso_dow", $"hod")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("share_pm",
        floor($"n_events" * 1000L
          / sum($"n_events").over(Window.partitionBy())).cast("long"))
      .orderBy($"iso_dow", $"hod")
  }

  val seasonalitySql: String =
    """SELECT isodow(ts)::BIGINT AS iso_dow, hour(ts)::BIGINT AS hod,
      |  count(*)::BIGINT AS n_events,
      |  (count(*) * 1000 // sum(count(*)) OVER ())::BIGINT AS share_pm
      |FROM events GROUP BY 1, 2 ORDER BY iso_dow, hod""".stripMargin

  /** CUSUM changepoint probe per event type (Page 1954, the classic
    * mean-shift detector): over each type's DAILY count series x_t, the
    * cumulative deviation S_t = Σ_{i≤t}(x_i − x̄) peaks exactly where the
    * series' level shifts — the day that splits the series into maximally
    * different before/after means. To stay bit-exact the fractional mean
    * is cleared by cross-multiplication: D_t = d·Σx_i − t·Σx (d = day
    * count, all int64), argmax |D_t| with day tie-break. The ops read
    * behind drift alarms on ingest volume — "WHEN did this stream
    * change", where [[seasonality]]/[[anomalies]] ask "is this point
    * odd".
    *
    * Scale: one day-keyed count, one type-keyed window cumsum, one
    * max-struct argmax per type — every stage keyed by event_type (or
    * type+day), series length bounded by the calendar, never by events.
    */
  def changepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("x"))
    val byType = Window.partitionBy($"event_type")
    val cum = Window.partitionBy($"event_type").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("days", count(lit(1)).over(byType))
      .withColumn("total", sum($"x").over(byType))
      .withColumn("t", count(lit(1)).over(cum))
      .withColumn("dev", $"days" * sum($"x").over(cum) - $"t" * $"total")
      .withColumn("adev", abs($"dev"))
      .groupBy($"event_type")
      .agg(max(struct($"adev", $"dev",
          date_format($"d", "yyyy-MM-dd").as("day"))).as("pk"),
        max($"days").as("n_days"), max($"total").as("total_events"))
      .select($"event_type", $"pk.day".as("cp_day"),
        $"pk.adev".as("cusum_scaled"), $"n_days", $"total_events")
      .orderBy($"event_type")
  }

  val changepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d,
      |    count(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |dev AS (
      |  SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
      |    count(*) OVER (PARTITION BY event_type) *
      |      sum(x) OVER (PARTITION BY event_type ORDER BY d
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    - (row_number() OVER (PARTITION BY event_type ORDER BY d)) *
      |      (sum(x) OVER (PARTITION BY event_type)) AS dv,
      |    count(*) OVER (PARTITION BY event_type)::BIGINT AS n_days,
      |    sum(x) OVER (PARTITION BY event_type)::BIGINT AS total_events
      |  FROM daily),
      |pick AS (
      |  SELECT event_type, day, abs(dv)::BIGINT AS cusum_scaled, n_days,
      |    total_events,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(dv) DESC, dv DESC, day DESC) AS rn
      |  FROM dev)
      |SELECT event_type, day AS cp_day, cusum_scaled, n_days, total_events
      |FROM pick WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** Regular-grid RESAMPLE with last-observation-carried-forward: each
    * user's irregular event stream becomes one row per calendar DAY from
    * their first to their last active day — the day's last observed
    * `value` (by ts, event_id — deterministic under equal timestamps)
    * where the user was active, the carried-forward previous value on
    * gap days, with a `filled` flag. The feature-store primitive behind
    * every as-of daily snapshot / training-matrix build: models consume
    * regular grids, event logs are not regular.
    *
    * Scale: the day's-last pick is one user+day-keyed max over a
    * (ts, event_id, value)-struct (argmax without a window); the grid is
    * a per-user `sequence()` explode (output-sized, never corpus²); the
    * carry is `last(ignoreNulls)` over a window PARTITIONED BY user — one
    * user-keyed shuffle end to end, no global ordering. Grid width is
    * bounded by each user's own activity span, so a 100 TB log resamples
    * to |users|·span rows, the size the training matrix needs anyway.
    */
  def resampleLocf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select($"user_id", to_date($"ts").as("d"),
        struct($"ts", $"event_id", $"value").as("pick"))
      .groupBy($"user_id", $"d")
      .agg(max($"pick").getField("value").as("obs"))
    val grid = daily.groupBy($"user_id")
      .agg(min($"d").as("d0"), max($"d").as("d1"))
      .select($"user_id",
        explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val byUser = Window.partitionBy($"user_id").orderBy($"d")
    grid.join(daily, Seq("user_id", "d"), "left")
      .withColumn("value", last($"obs", ignoreNulls = true).over(byUser))
      .select($"user_id", date_format($"d", "yyyy-MM-dd").as("day"),
        $"value", when($"obs".isNull, 1L).otherwise(0L).as("filled"))
      .orderBy($"user_id", $"day")
  }

  val resampleLocfSql: String =
    """WITH drank AS (
      |  SELECT user_id, date_trunc('day', ts) AS d, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |daily AS (SELECT user_id, d, value AS obs FROM drank WHERE rn = 1),
      |grid AS (
      |  SELECT user_id,
      |    unnest(generate_series(min(d), max(d), INTERVAL 1 DAY)) AS d
      |  FROM daily GROUP BY user_id),
      |joined AS (
      |  SELECT g.user_id, g.d, daily.obs
      |  FROM grid g LEFT JOIN daily
      |    ON daily.user_id = g.user_id AND daily.d = g.d)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
      |  last_value(obs IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
      |  (CASE WHEN obs IS NULL THEN 1 ELSE 0 END)::BIGINT AS filled
      |FROM joined ORDER BY user_id, day""".stripMargin

  /** SCD Type-2 dimension build: compress each user's event stream into
    * attribute VERSIONS — one row per run of equal `event_type` values in
    * (ts, event_id) order — with half-open validity `[valid_from,
    * valid_to)`, a per-user version number, and the current-row flag
    * (the Kimball slowly-changing-dimension table a warehouse derives
    * from any CDC/change log before point-in-time joins are possible).
    *
    * Scale: every window is PARTITIONED BY user_id — change detection
    * (lag), validity close-out (lead) and version numbering all ride one
    * user-keyed shuffle; no global ordering anywhere. The tie-break on
    * event_id makes the build deterministic under equal timestamps.
    */
  def scd2Build(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("state"))
      .withColumn("changed",
        lag($"state", 1).over(byUser).isNull ||
          lag($"state", 1).over(byUser) =!= $"state")
      .filter($"changed")
      .withColumn("version_no",
        row_number().over(Window.partitionBy($"user_id")
          .orderBy($"ts", $"event_id")).cast("long"))
      .withColumn("valid_to",
        lead($"ts", 1).over(Window.partitionBy($"user_id")
          .orderBy($"ts", $"event_id")))
      .select($"user_id", $"version_no", $"state",
        $"ts".as("valid_from"), $"valid_to",
        $"valid_to".isNull.as("is_current"))
      .orderBy($"user_id", $"version_no")
  }

  val scd2BuildSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, event_type AS state,
      |    lag(event_type) OVER w IS DISTINCT FROM event_type AS changed
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), runs AS (
      |  SELECT user_id, ts, event_id, state FROM marked WHERE changed
      |)
      |SELECT user_id,
      |  row_number() OVER w::BIGINT AS version_no,
      |  state, ts AS valid_from,
      |  lead(ts) OVER w AS valid_to,
      |  (lead(ts) OVER w IS NULL) AS is_current
      |FROM runs
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version_no""".stripMargin

  /** Point-in-time enrichment — the CONSUMING side of [[scd2Build]]
    * (Kimball's type-2 fact-to-dimension join): every event joins the
    * dimension version valid at its timestamp (`valid_from ≤ ts <
    * valid_to`, half-open; the open current version catches the tail),
    * then folds to a (state-at-event-time × event_type) incidence
    * report with user and value mass. With correct versioning the
    * matrix is diagonal EXCEPT where a user emits two different types
    * at one timestamp (the zero-width-version tie the half-open
    * interval semantics resolve deterministically by event_id order).
    *
    * Scale: the join is user_id-EQUI with the interval predicate as a
    * residual filter — versions per user are run counts (small), so
    * this is one keyed shuffle with bounded per-key fan, never a blind
    * range join; the report agg is ≤|types|² rows.
    */
  def scd2Pit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = scd2Build(s, dir)
      .select($"user_id", $"state", $"valid_from", $"valid_to")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      .join(dim, Seq("user_id"))
      .filter($"ts" >= $"valid_from" &&
        ($"valid_to".isNull || $"ts" < $"valid_to"))
      .groupBy($"state", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        sum($"cents").as("value_cents"))
      .orderBy($"state", $"event_type")
  }

  val scd2PitSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, event_type AS state,
      |    lag(event_type) OVER w IS DISTINCT FROM event_type AS changed
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), runs AS (
      |  SELECT user_id, ts, event_id, state FROM marked WHERE changed
      |), dim AS (
      |  SELECT user_id, state, ts AS valid_from, lead(ts) OVER w AS valid_to
      |  FROM runs
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT d.state, e.event_type, count(*)::BIGINT AS n_events,
      |  count(DISTINCT e.user_id)::BIGINT AS n_users,
      |  sum(round(e.value * 100)::BIGINT)::BIGINT AS value_cents
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |  AND e.ts >= d.valid_from
      |  AND (d.valid_to IS NULL OR e.ts < d.valid_to)
      |GROUP BY 1, 2 ORDER BY state, event_type""".stripMargin

  /** Exact autocorrelation function of the daily event-count series at
    * lags 1..7 — the time-series diagnostic behind seasonality detection
    * ("does activity today predict activity k days out?"), kept in exact
    * integers: with daily counts x_t (t = 0..n−1), mean factored out by
    * multiplying through by n, r_k = num_k/den where
    * num_k = Σ_t (n·x_t − S)(n·x_{t+k} − S) and den = Σ_t (n·x_t − S)²
    * (S = Σx — the standard full-series-mean ACF, denominators shared
    * across lags). num_k is signed, so the permille is sign-factored
    * before the floor division (Spark `div` truncates, DuckDB `//`
    * floors — they differ on negatives; see stat_group_ols).
    *
    * Scale: ONE corpus scan folds events to the ≤|calendar-days| daily
    * frame (map-side combinable count); everything after is arithmetic
    * on that bounded frame — the lag pairing is an equi-join on the day
    * index (t+k), the three 1-row normalizer frames ride the house
    * bounded broadcast-cross shape (PlanGuardSpec whitelist). More data
    * means heavier days, never more rows past the first fold.
    */
  def acf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(datediff(date_trunc("day", $"ts"),
        lit("2024-01-01").cast("date")).cast("long").as("t"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.agg(count(lit(1)).as("n"), sum($"x").as("sx"))
    val dev = daily.crossJoin(tot)
      .select($"t", ($"n" * $"x" - $"sx").as("d"))
    val den = dev.agg(sum($"d" * $"d").as("den"))
    val lagged = dev.select($"t", $"d")
      .withColumn("k", explode(sequence(lit(1L), lit(7L))))
      .select(($"t" + $"k").as("t2"), $"k", $"d".as("d_a"))
    val num = lagged
      .join(dev.select($"t".as("t2"), $"d".as("d_b")), Seq("t2"))
      .groupBy($"k").agg(sum($"d_a" * $"d_b").as("num"))
    num.crossJoin(den)
      .select($"k", $"num", $"den",
        expr("""(CASE WHEN num < 0 THEN -1 ELSE 1 END) *
               ((1000 * abs(num)) div den)""").as("acf_pm"))
      .orderBy($"k")
  }

  val acfSql: String =
    """WITH daily AS (
      |  SELECT date_diff('day', DATE '2024-01-01',
      |           CAST(date_trunc('day', ts) AS DATE))::BIGINT AS t,
      |    count(*)::BIGINT AS x
      |  FROM events GROUP BY 1),
      |tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
      |        FROM daily),
      |dev AS (SELECT t, (n * x - sx)::BIGINT AS d
      |        FROM daily CROSS JOIN tot),
      |den AS (SELECT sum(d * d)::BIGINT AS den FROM dev),
      |ks AS (SELECT unnest(range(1, 8))::BIGINT AS k),
      |num AS (
      |  SELECT k, sum(a.d * b.d)::BIGINT AS num
      |  FROM ks CROSS JOIN dev a JOIN dev b ON b.t = a.t + ks.k
      |  GROUP BY k)
      |SELECT k, num, den,
      |  ((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
      |   ((1000 * abs(num)) // den))::BIGINT AS acf_pm
      |FROM num CROSS JOIN den ORDER BY k""".stripMargin

  /** Per-user dyadic EWMA of event value — the feature-store smoothing
    * primitive ("recent spend, exponentially discounted") kept
    * bit-exact: with α = 1/2 truncated at depth 8, the smoothed value
    * ×256 is Σ_{k=0..7} v_{t−k}·2^(7−k) — pure integer shifts of the
    * last 8 cents values in (ts, event_id) order, so there is no float
    * recursion to disagree across engines. Ships the final (most recent)
    * smoothed value per user next to the raw last value; the gap is the
    * recency-vs-history signal.
    *
    * Scale: ONE user-keyed shuffle; the lag window and the last-row
    * filter ride the same partitioning (rows-between frames over a
    * user partition — never an unpartitioned window), and depth-8
    * truncation bounds per-row state at 8 lags regardless of history
    * length (the untruncated EWMA would need the whole history; 2⁻⁸
    * caps the dropped tail's weight at <0.4%).
    */
  def ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val e = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id",
        round($"value" * 100).cast("long").as("vc"))
    val lagged = e
      .withColumn("ewma_x256",
        (0 to 7).map { k =>
          val v = if (k == 0) $"vc" else coalesce(lag($"vc", k).over(w), lit(0L))
          v * lit(1L << (7 - k))
        }.reduce(_ + _))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"user_id")))
    lagged.filter($"rn" === $"cnt")
      .select($"user_id", $"cnt".as("n_events"), $"vc".as("last_cents"),
        $"ewma_x256")
      .orderBy($"user_id")
  }

  val ewmaSql: String = {
    val terms = (0 to 7).map { k =>
      val v = if (k == 0) "vc" else s"coalesce(lag(vc, $k) OVER w, 0)"
      s"$v * ${1L << (7 - k)}"
    }.mkString(" + ")
    s"""WITH e AS (
      |  SELECT user_id, ts, event_id, round(value * 100)::BIGINT AS vc
      |  FROM events),
      |l AS (
      |  SELECT user_id, vc, row_number() OVER w AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS cnt,
      |    ($terms)::BIGINT AS ewma_x256
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, cnt::BIGINT AS n_events, vc AS last_cents, ewma_x256
      |FROM l WHERE rn = cnt ORDER BY user_id""".stripMargin
  }

  /** Kaplan–Meier life table (Kaplan & Meier 1958) of time-to-first-
    * purchase — the survival-analysis read behind every conversion
    * funnel: per day t since a user's first event, how many users had
    * neither converted nor run out of observation window (n_risk), how
    * many converted exactly on day t (d_events), and how many are
    * right-censored there (never purchased; their observation ends
    * date(corpus end) − date(first event) days in — the users a naive
    * "conversion lag" average silently drops or, worse, counts as
    * non-converting forever). Ships the exact-integer life-table
    * columns plus the discrete hazard d/n_risk in permille (the daily
    * conversion propensity among the still-unconverted); the KM
    * product-limit S(t) = Π(1 − d/n) is a float product by nature, so
    * the consumer composes it from the exact table instead of trusting
    * an engine-rounded column.
    *
    * Scale: one user-keyed aggregation (min ts, min purchase ts), a
    * 1-row corpus-end broadcast for the censor clock, then a groupBy to
    * the ≤|calendar-days| histogram; n_risk is a top-down fold over
    * that bounded frame (the PlanGuard bounded-window whitelist class —
    * never a corpus-sized unpartitioned window).
    */
  def survivalTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select($"user_id", to_date($"ts").as("d"), $"event_type")
    val mx = ev.agg(max($"d").as("mx"))
    val hist = ev.groupBy($"user_id")
      .agg(min($"d").as("f"),
        min(when($"event_type" === "purchase", $"d")).as("p"))
      .crossJoin(broadcast(mx))
      .select(
        when($"p".isNotNull, datediff($"p", $"f"))
          .otherwise(datediff($"mx", $"f")).cast("long").as("day"),
        $"p".isNull.as("cens"))
      .groupBy($"day")
      .agg(sum(when($"cens", 0L).otherwise(1L)).as("d_events"),
        sum(when($"cens", 1L).otherwise(0L)).as("censored"))
    val before = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("n_risk",
        sum($"d_events" + $"censored").over(all)
          - coalesce(sum($"d_events" + $"censored").over(before), lit(0L)))
      .select($"day", $"n_risk", $"d_events", $"censored",
        expr("(1000 * d_events) div n_risk").as("hazard_pm"))
      .orderBy($"day")
  }

  val survivalTableSql: String =
    """WITH ev AS (
      |  SELECT user_id, ts::DATE AS d, event_type FROM events),
      |mx AS (SELECT max(d) AS mx FROM ev),
      |u AS (SELECT user_id, min(d) AS f,
      |        min(CASE WHEN event_type = 'purchase' THEN d END) AS p
      |      FROM ev GROUP BY user_id),
      |t AS (SELECT (CASE WHEN p IS NOT NULL THEN date_diff('day', f, p)
      |              ELSE date_diff('day', f, mx) END)::BIGINT AS day,
      |        p IS NULL AS cens
      |      FROM u CROSS JOIN mx),
      |h AS (SELECT day,
      |        sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d_events,
      |        sum(CASE WHEN cens THEN 1 ELSE 0 END)::BIGINT AS censored
      |      FROM t GROUP BY day),
      |r AS (SELECT day, d_events, censored,
      |        sum(d_events + censored) OVER ()
      |          - coalesce(sum(d_events + censored) OVER (ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS n_risk
      |      FROM h)
      |SELECT day, n_risk::BIGINT AS n_risk, d_events, censored,
      |  ((1000 * d_events) // n_risk)::BIGINT AS hazard_pm
      |FROM r ORDER BY day""".stripMargin

  /** Difference-in-differences (Ashenfelter & Card 1985; the canonical
    * two-period two-group panel estimator): DiD = (ȳ_treat,post −
    * ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre) — the CAUSAL member of
    * the events battery ([[attribution]] assigns heuristic credit;
    * DiD estimates a treatment effect under the parallel-trends
    * assumption, the first estimator an experimentation platform
    * reaches for when randomization wasn't available). Cells here are
    * a deterministic demonstration slice — treat = even user_id, post
    * = ts ≥ 2024-01-16 (the corpus calendar's midpoint) — in
    * production the treat flag is a real assignment column and the
    * cut a real launch date; the plan is identical. Outcome = event
    * value in exact cents; the four cell (n, Σ) pairs are exact longs
    * and the whole DiD arithmetic is ONE expression of them (a single
    * IEEE-identical fold, the statAnova float lesson), rounded at the
    * end.
    *
    * Scale: one map-side-combinable 4-cell aggregate over the events
    * scan; everything after is 1-row arithmetic.
    */
  def didEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cut = lit("2024-01-16").cast("timestamp")
    val cells = Tables.events(s, dir)
      .select(($"user_id" % 2L === 0L).as("treat"), ($"ts" >= cut).as("post"),
        round($"value" * 100).cast("long").as("v"))
      .groupBy($"treat", $"post")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
    val g = cells.agg(
      sum(when($"treat" && $"post", $"n")).as("n_tp"),
      sum(when($"treat" && $"post", $"sv")).as("s_tp"),
      sum(when($"treat" && !$"post", $"n")).as("n_tr"),
      sum(when($"treat" && !$"post", $"sv")).as("s_tr"),
      sum(when(!$"treat" && $"post", $"n")).as("n_cp"),
      sum(when(!$"treat" && $"post", $"sv")).as("s_cp"),
      sum(when(!$"treat" && !$"post", $"n")).as("n_cr"),
      sum(when(!$"treat" && !$"post", $"sv")).as("s_cr"))
    g.select($"n_tp", $"n_tr", $"n_cp", $"n_cr",
      round($"s_tp".cast("double") / $"n_tp" / 100d, 4).as("mean_treat_post"),
      round($"s_tr".cast("double") / $"n_tr" / 100d, 4).as("mean_treat_pre"),
      round($"s_cp".cast("double") / $"n_cp" / 100d, 4).as("mean_ctrl_post"),
      round($"s_cr".cast("double") / $"n_cr" / 100d, 4).as("mean_ctrl_pre"),
      round(($"s_tp".cast("double") / $"n_tp"
          - $"s_tr".cast("double") / $"n_tr"
          - $"s_cp".cast("double") / $"n_cp"
          + $"s_cr".cast("double") / $"n_cr") / 100d, 4).as("did"))
  }

  /** CUPED variance-reduced experiment readout (Deng, Xu, Kohavi & Walker,
    * WSDM 2013 — "Improving the Sensitivity of Online Controlled
    * Experiments by Utilizing Pre-Experiment Data"): the sibling of
    * [[didEstimate]]. DiD removes level differences with a parallel-trends
    * assumption; CUPED instead regresses the experiment-period metric Y on
    * each user's own PRE-period metric X and compares the residualized
    * Ŷ = Y − θ(X − X̄) across arms, cutting variance by ρ² with no
    * assumption beyond X ⊥ treatment (true by randomization, here the
    * deterministic user_id parity split). θ = cov(X,Y)/var(X), pooled
    * across arms as the paper prescribes.
    *
    * Exactness: per-user X/Y are exact integer cent sums; the five pooled
    * moments (n, ΣX, ΣY, ΣXY, ΣX², ΣY²) are exact int64; only the final
    * θ/effect/ρ² readouts divide as doubles (the [[didEstimate]] policy —
    * the cross products n·ΣXY exceed int64 at ×100 user counts, and both
    * engines run the identical IEEE expression on identical exact
    * integers).
    *
    * Scale: one user-keyed fold of the event stream (map-side
    * combinable), then arithmetic on a 1-row moment frame and a 2-row
    * arm frame — nothing after the fold touches the corpus.
    */
  def cupedEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cut = lit("2024-01-16").cast("timestamp")
    val users = Tables.events(s, dir)
      .select($"user_id", ($"ts" >= cut).as("post"),
        round($"value" * 100).cast("long").as("v"))
      .groupBy($"user_id")
      .agg(sum(when(!$"post", $"v").otherwise(0L)).as("x"),
        sum(when($"post", $"v").otherwise(0L)).as("y"))
      .select(($"user_id" % 2L === 0L).as("treat"), $"x", $"y")
      .pin // pooled moments + per-arm sums both read it
    val mom = users.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
      sum($"y" * $"y").as("syy"))
    val arms = users.groupBy($"treat")
      .agg(count(lit(1)).as("an"), sum($"x").as("ax"), sum($"y").as("ay"))
      .agg(sum(when($"treat", $"an")).as("n_t"),
        sum(when($"treat", $"ax")).as("x_t"),
        sum(when($"treat", $"ay")).as("y_t"),
        sum(when(!$"treat", $"an")).as("n_c"),
        sum(when(!$"treat", $"ax")).as("x_c"),
        sum(when(!$"treat", $"ay")).as("y_c"))
    arms.crossJoin(broadcast(mom))
      .withColumn("theta",
        ($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy")
          / ($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx"))
      .select($"n_t", $"n_c", round($"theta", 6).as("theta"),
        round(($"y_t".cast("double") / $"n_t"
          - $"y_c".cast("double") / $"n_c") / 100d, 4).as("effect_raw"),
        round((($"y_t".cast("double") / $"n_t"
            - $"theta" * ($"x_t".cast("double") / $"n_t"))
          - ($"y_c".cast("double") / $"n_c"
            - $"theta" * ($"x_c".cast("double") / $"n_c"))) / 100d, 4)
          .as("effect_cuped"),
        round(($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy")
          * ($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy")
          / (($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx")
            * ($"n".cast("double") * $"syy"
              - $"sy".cast("double") * $"sy")), 4).as("rho2"))
  }

  val cupedEstimateSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 0
      |             ELSE round(value * 100)::BIGINT END)::BIGINT AS x,
      |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
      |             THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
      |  FROM events GROUP BY user_id),
      |uu AS (SELECT user_id % 2 = 0 AS treat, x, y FROM u),
      |mom AS (
      |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
      |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
      |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
      |  FROM uu),
      |a0 AS (SELECT treat, count(*)::BIGINT AS an, sum(x)::BIGINT AS ax,
      |         sum(y)::BIGINT AS ay
      |       FROM uu GROUP BY treat),
      |arms AS (
      |  SELECT sum(CASE WHEN treat THEN an END)::BIGINT AS n_t,
      |    sum(CASE WHEN treat THEN ax END)::BIGINT AS x_t,
      |    sum(CASE WHEN treat THEN ay END)::BIGINT AS y_t,
      |    sum(CASE WHEN NOT treat THEN an END)::BIGINT AS n_c,
      |    sum(CASE WHEN NOT treat THEN ax END)::BIGINT AS x_c,
      |    sum(CASE WHEN NOT treat THEN ay END)::BIGINT AS y_c
      |  FROM a0),
      |th AS (
      |  SELECT *,
      |    (n::DOUBLE * sxy - sx::DOUBLE * sy)
      |      / (n::DOUBLE * sxx - sx::DOUBLE * sx) AS theta
      |  FROM arms CROSS JOIN mom)
      |SELECT n_t, n_c, round(theta, 6) AS theta,
      |  round((y_t::DOUBLE / n_t - y_c::DOUBLE / n_c) / 100, 4)
      |    AS effect_raw,
      |  round(((y_t::DOUBLE / n_t - theta * (x_t::DOUBLE / n_t))
      |       - (y_c::DOUBLE / n_c - theta * (x_c::DOUBLE / n_c))) / 100, 4)
      |    AS effect_cuped,
      |  round((n::DOUBLE * sxy - sx::DOUBLE * sy)
      |      * (n::DOUBLE * sxy - sx::DOUBLE * sy)
      |    / ((n::DOUBLE * sxx - sx::DOUBLE * sx)
      |      * (n::DOUBLE * syy - sy::DOUBLE * sy)), 4) AS rho2
      |FROM th""".stripMargin

  /** pass@k estimator (Chen et al. 2021, "Evaluating Large Language
    * Models Trained on Code", eq. 1 — the unbiased HumanEval form): per
    * task with n attempts and c successes, pass@k = 1 − C(n−c,k)/C(n,k),
    * computed as the telescoping product ∏_{i<k}(n−c−i)/(n−i) — the
    * numerically safe form the paper itself prescribes. Here a "task" is
    * a user and an "attempt succeeds" when its value exceeds $100;
    * production swaps in task ids and graded completions, identical
    * plan. The product is folded in FLOORED PERMILLE with integer `div`
    * at every step — the identical sequential fold in both engines
    * (Spark SQL `aggregate`, DuckDB `list_reduce` with the same
    * prepended init, the [[TextOps.fingerprint]] parity pattern) — so
    * the permille is bit-exact, with documented floor bias ≤ k‰·ulp
    * rather than an engine-dependent float.
    *
    * Scale: one map-side-combinable (task)-keyed count fold; the k-fold
    * is per-row arithmetic on the |tasks|-row frame. No joins.
    */
  def passAtK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // n − c < k ⇒ every size-k sample contains a success ⇒ pass = 1
    // exactly (the reference implementation's early-out), which also
    // keeps the fold's divisors strictly positive: the fold only runs
    // when n − c ≥ k, so n − i ≥ n − k + 1 ≥ 1 for every i < k
    def fold(k: Int): Column = expr(
      s"""CASE WHEN n - c < $k THEN CAST(1000 AS BIGINT)
         |ELSE 1000 - aggregate(sequence(0, ${k - 1}),
         |  CAST(1000 AS BIGINT),
         |  (acc, i) -> (acc * greatest(n - c - i, 0)) div (n - i)) END"""
        .stripMargin.replace("\n", " "))
    Tables.events(s, dir)
      .select($"user_id".as("task"),
        ($"value" > 100.0).cast("long").as("ok"))
      .groupBy($"task")
      .agg(count(lit(1)).as("n"), sum($"ok").as("c"))
      .select($"task", $"n", $"c",
        fold(1).as("pass1_pm"), fold(5).as("pass5_pm"),
        fold(10).as("pass10_pm"))
      .orderBy($"task")
  }

  val passAtKSql: String = {
    def fold(k: Int): String =
      s"""(CASE WHEN n - c < $k THEN 1000
         |  ELSE 1000 - list_reduce(
         |    list_prepend(1000::BIGINT,
         |      [i::BIGINT FOR i IN range(0, $k)]),
         |    (a, b) -> (a * greatest(n - c - b, 0)) // (n - b)) END)::BIGINT"""
        .stripMargin.replace("\n", " ")
    s"""WITH t AS (
       |  SELECT user_id AS task, count(*)::BIGINT AS n,
       |    sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)::BIGINT AS c
       |  FROM events GROUP BY user_id)
       |SELECT task, n, c,
       |  ${fold(1)} AS pass1_pm,
       |  ${fold(5)} AS pass5_pm,
       |  ${fold(10)} AS pass10_pm
       |FROM t ORDER BY task""".stripMargin
  }

  /** Permutation count K shared by [[permTest]] and its SQL oracle. */
  val PermK = 200

  /** Exact permutation test (Fisher 1935; the Monte-Carlo form of Dwass
    * 1957) on the arm difference in per-user spend — the inference
    * member of the experimentation trio ([[didEstimate]] estimates,
    * [[cupedEstimate]] de-noises, this one answers "could the observed
    * difference be chance?" with NO distributional assumption). K = 200
    * DETERMINISTIC pseudo-permutations relabel users by a seeded Lehmer
    * hash h(u,k) — reproducible bit-for-bit in both engines, unlike RNG
    * shuffles — and the p-value is the add-one Monte-Carlo estimate
    * p = (#{k: |Δ_k| ≥ |Δ_obs|} + 1)/(K + 1) (Davison & Hinkley's
    * correction: the observed labeling counts as one permutation).
    *
    * Exactness: mean differences are compared as FRACTIONS by decimal
    * cross-multiplication, |y₁·n₀ − y₀·n₁| · b_obs vs the observed
    * numerator times b_k, in DECIMAL(38,0) — int64 would overflow at
    * ×10 users, and a double comparison could flip a near-tie
    * differently per engine. An empty permuted arm (impossible under a
    * balanced hash, but defined anyway) has b_k = 0 and counts as
    * extreme — the infinite-statistic convention.
    *
    * Scale: the corpus pass is ONE user-keyed fold; the K-fold explode
    * runs on the |users|-row frame (users × 200 rows, not events × 200
    * — fold FIRST, permute the folded frame), then a k-keyed fold to
    * 200 rows and a broadcast compare. At 100 TB the permutation stage
    * costs |users|·K rows however large the event log is.
    */
  def permTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val users = Tables.events(s, dir)
      .select($"user_id", round($"value" * 100).cast("long").as("v"))
      .groupBy($"user_id").agg(sum($"v").as("y"))
      .pin // observed fold + the K-explode both read it
    val obs = users
      .select(($"user_id" % 2L === 0L).as("t"), $"y")
      .agg(count(lit(1)).as("n_users"),
        sum(when($"t", 1L).otherwise(0L)).as("n1"),
        sum(when($"t", $"y").otherwise(0L)).as("y1"),
        sum(when(!$"t", 1L).otherwise(0L)).as("n0"),
        sum(when(!$"t", $"y").otherwise(0L)).as("y0"))
      .select($"n_users", $"n1", $"n0",
        round(($"y1".cast("double") / $"n1"
          - $"y0".cast("double") / $"n0") / 100d, 4).as("obs_diff"),
        abs($"y1" * $"n0" - $"y0" * $"n1").as("a_obs"),
        ($"n1" * $"n0").as("b_obs"))
    val perms = users
      .select($"user_id", $"y",
        explode(sequence(lit(1), lit(PermK))).as("k"))
      .select($"k", $"y",
        ((($"user_id" * 2654435761L + $"k" * 40503L) % 1000000007L)
          % 2L === 1L).as("t"))
      .groupBy($"k")
      .agg(sum(when($"t", 1L).otherwise(0L)).as("n1"),
        sum(when($"t", $"y").otherwise(0L)).as("y1"),
        sum(when(!$"t", 1L).otherwise(0L)).as("n0"),
        sum(when(!$"t", $"y").otherwise(0L)).as("y0"))
      .select(abs($"y1" * $"n0" - $"y0" * $"n1").as("a_k"),
        ($"n1" * $"n0").as("b_k"))
    val cnt = perms.crossJoin(broadcast(obs.select($"a_obs", $"b_obs")))
      .filter($"a_k".cast("decimal(38,0)") * $"b_obs"
        >= $"a_obs".cast("decimal(38,0)") * $"b_k")
      .agg(count(lit(1)).as("cnt_ge"))
    obs.crossJoin(broadcast(cnt))
      .select($"n_users", $"n1", $"n0", $"obs_diff",
        lit(PermK.toLong).as("k_perms"), $"cnt_ge",
        expr(s"1000 * (cnt_ge + 1) div (${PermK.toLong} + 1)").as("p_pm"))
  }

  val permTestSql: String =
    s"""WITH u AS (
      |  SELECT user_id, sum(round(value * 100)::BIGINT)::BIGINT AS y
      |  FROM events GROUP BY user_id),
      |obs AS (
      |  SELECT count(*)::BIGINT AS n_users,
      |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END)::BIGINT AS y1,
      |    sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN user_id % 2 <> 0 THEN y ELSE 0 END)::BIGINT AS y0
      |  FROM u),
      |ob2 AS (
      |  SELECT n_users, n1, n0,
      |    round((y1::DOUBLE / n1 - y0::DOUBLE / n0) / 100, 4) AS obs_diff,
      |    abs(y1 * n0 - y0 * n1)::BIGINT AS a_obs,
      |    (n1 * n0)::BIGINT AS b_obs
      |  FROM obs),
      |ks AS (SELECT unnest(range(1, ${PermK + 1})) AS k),
      |pl AS (
      |  SELECT k,
      |    ((user_id * 2654435761 + k * 40503) % 1000000007) % 2 = 1 AS t,
      |    y
      |  FROM u CROSS JOIN ks),
      |pa AS (
      |  SELECT k,
      |    sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN t THEN y ELSE 0 END)::BIGINT AS y1,
      |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN NOT t THEN y ELSE 0 END)::BIGINT AS y0
      |  FROM pl GROUP BY k),
      |pc AS (
      |  SELECT count(*)::BIGINT AS cnt_ge
      |  FROM pa CROSS JOIN ob2
      |  WHERE abs(pa.y1 * pa.n0 - pa.y0 * pa.n1)::DECIMAL(38,0) * b_obs
      |    >= a_obs::DECIMAL(38,0) * (pa.n1 * pa.n0))
      |SELECT n_users, n1, n0, obs_diff, $PermK::BIGINT AS k_perms, cnt_ge,
      |  (1000 * (cnt_ge + 1) // ${PermK + 1})::BIGINT AS p_pm
      |FROM ob2 CROSS JOIN pc""".stripMargin

  val didEstimateSql: String =
    """WITH cells AS (
      |  SELECT user_id % 2 = 0 AS treat,
      |    ts >= TIMESTAMP '2024-01-16' AS post,
      |    count(*)::BIGINT AS n, sum(round(value * 100)::BIGINT)::BIGINT AS sv
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT
      |    sum(CASE WHEN treat AND post THEN n END)::BIGINT AS n_tp,
      |    sum(CASE WHEN treat AND post THEN sv END)::BIGINT AS s_tp,
      |    sum(CASE WHEN treat AND NOT post THEN n END)::BIGINT AS n_tr,
      |    sum(CASE WHEN treat AND NOT post THEN sv END)::BIGINT AS s_tr,
      |    sum(CASE WHEN NOT treat AND post THEN n END)::BIGINT AS n_cp,
      |    sum(CASE WHEN NOT treat AND post THEN sv END)::BIGINT AS s_cp,
      |    sum(CASE WHEN NOT treat AND NOT post THEN n END)::BIGINT AS n_cr,
      |    sum(CASE WHEN NOT treat AND NOT post THEN sv END)::BIGINT AS s_cr
      |  FROM cells)
      |SELECT n_tp, n_tr, n_cp, n_cr,
      |  round(s_tp::DOUBLE / n_tp / 100, 4) AS mean_treat_post,
      |  round(s_tr::DOUBLE / n_tr / 100, 4) AS mean_treat_pre,
      |  round(s_cp::DOUBLE / n_cp / 100, 4) AS mean_ctrl_post,
      |  round(s_cr::DOUBLE / n_cr / 100, 4) AS mean_ctrl_pre,
      |  round((s_tp::DOUBLE / n_tp - s_tr::DOUBLE / n_tr
      |       - s_cp::DOUBLE / n_cp + s_cr::DOUBLE / n_cr) / 100, 4) AS did
      |FROM g""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_did" -> didEstimate _,
    "ev_cuped" -> cupedEstimate _,
    "stat_perm_test" -> permTest _,
    "eval_pass_at_k" -> passAtK _,
    "ev_survival_table" -> survivalTable _,
    "ev_acf" -> acf _,
    "ev_stl_daily" -> stlDaily _,
    "ev_ewma" -> ewma _,
    "ev_changepoint" -> changepoint _,
    "ev_resample_locf" -> resampleLocf _,
    "ev_scd2_build" -> scd2Build _,
    "ev_scd2_pit" -> scd2Pit _,
    "ev_seasonality" -> seasonality _,
    "ev_cohort_ltv" -> cohortLtv _,
    "ev_whale_curve" -> whaleCurve _,
    "ev_user_lifecycle" -> userLifecycle _,
    "ev_conversion_lag" -> conversionLag _,
    "ev_dau_rolling" -> dauRolling _,
    "ev_rfm" -> rfm _,
    "ev_streaks" -> streaks _,
    "ev_transitions" -> transitions _,
    "ev_top_paths" -> topPaths _,
    "ev_window_funnel" -> windowFunnel _,
    "ev_markov_classes" -> markovClasses _,
    "ev_markov_stationary" ->
      ((s: SparkSession, dir: String) => markovStationary(s, dir)),
    "ev_inter_arrival" -> interArrival _,
    "ev_anomaly" -> anomalies _,
    "ev_tumbling" -> tumbling _,
    "ev_attribution" -> attribution _,
    "ev_attribution_linear" -> attributionLinear _,
    "ev_forecast_mase" -> forecastMase _,
    "ev_sliding" -> sliding _,
    "ev_sessions" -> sessions _,
    "ev_daily_topk" -> dailyTopEvents _,
    "ev_pivot" -> pivotTypes _,
    "ev_json_extract" -> jsonExtract _,
    "ev_funnel" -> funnel _,
    "ev_retention" -> retention _,
  )

  val oracles: Map[String, String] = Map(
    "ev_survival_table" -> survivalTableSql,
    "ev_acf" -> acfSql,
    "ev_stl_daily" -> stlDailySql,
    "ev_ewma" -> ewmaSql,
    "ev_changepoint" -> changepointSql,
    "ev_resample_locf" -> resampleLocfSql,
    "ev_scd2_build" -> scd2BuildSql,
    "ev_scd2_pit" -> scd2PitSql,
    "ev_seasonality" -> seasonalitySql,
    "ev_cohort_ltv" -> cohortLtvSql,
    "ev_whale_curve" -> whaleCurveSql,
    "ev_user_lifecycle" -> userLifecycleSql,
    "ev_conversion_lag" -> conversionLagSql,
    "ev_dau_rolling" -> dauRollingSql,
    "ev_rfm" -> rfmSql,
    "ev_streaks" -> streaksSql,
    "ev_transitions" -> transitionsSql,
    "ev_top_paths" -> topPathsSql,
    "ev_window_funnel" -> windowFunnelSql,
    "ev_markov_classes" -> markovClassesSql,
    "ev_markov_stationary" -> markovStationarySql,
    "ev_inter_arrival" -> interArrivalSql,
    "ev_anomaly" -> anomaliesSql,
    "ev_tumbling" -> tumblingSql,
    "ev_attribution" -> attributionSql,
    "ev_did" -> didEstimateSql,
    "ev_cuped" -> cupedEstimateSql,
    "stat_perm_test" -> permTestSql,
    "eval_pass_at_k" -> passAtKSql,
    "ev_attribution_linear" -> attributionLinearSql,
    "ev_forecast_mase" -> forecastMaseSql,
    "ev_sliding" -> slidingSql,
    "ev_sessions" -> sessionsSql,
    "ev_daily_topk" -> dailyTopEventsSql,
    "ev_pivot" -> pivotTypesSql,
    "ev_json_extract" -> jsonExtractSql,
    "ev_funnel" -> funnelSql,
    "ev_retention" -> retentionSql,
  )
}
