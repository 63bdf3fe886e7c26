package graft
package gates

import org.apache.spark.sql.functions._
import graft.operators.{Relational => R}
import Gate.D

/** Window functions and event-time series: lags and running sums,
  * sessions, streaks, rolling windows, funnels, cohorts, smoothing,
  * forecasting and multi-touch attribution. */
object WindowGates {
  /** Generated DuckDB oracle for q478 (Markov removal-effect
    * attribution): the q332 machinery extended with a virtual 'start'
    * state (per-user first event) and a '__null' absorber (journey end
    * without purchase), journeys truncated at the first purchase — then
    * FIVE scenarios unrolled (full chain + one per removed channel,
    * edges into the removed channel redirected to '__null', its outgoing
    * row dropped), 20 value-iteration rounds each, 12-dp-rounded terms
    * summed as exact decimals. Removal effects and shares come off the
    * scenarios' start-state values in mirrored floors. */
  private val MarkovRemovalOracleSql: String = {
    val rounds = 20
    val channels = Seq("click", "view", "signup", "error")
    val base =
      """WITH j AS (SELECT user_id, ts, event_id, event_type,
              coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
                  ELSE 0 END) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS prior_purchases
            FROM events),
          jj AS (SELECT user_id, ts, event_id, event_type
            FROM j WHERE prior_purchases = 0),
          hops AS (SELECT f, t FROM (
              SELECT event_type AS f,
                coalesce(lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id), '__null') AS t
              FROM jj) h
            WHERE f <> 'purchase'),
          starts AS (SELECT 'start' AS f, arg_min(event_type,
                printf('%020d%020d', epoch_us(ts), event_id)) AS t
            FROM jj GROUP BY user_id),
          edges AS (SELECT f, t FROM hops UNION ALL
            SELECT f, t FROM starts),
          cnt AS (SELECT f, t, count(*) AS n FROM edges GROUP BY 1, 2),
          trans AS MATERIALIZED (SELECT f, t,
              round(cast(n AS double) /
                cast(sum(n) OVER (PARTITION BY f) AS double), 6) AS p
            FROM cnt),
          states AS MATERIALIZED (
            SELECT DISTINCT f AS s FROM trans
            UNION SELECT DISTINCT t FROM trans)"""
    def scenario(tag: String, removed: Option[String]): String = {
      val transCte = removed match {
        case Some(c) =>
          s""",
          trans_$tag AS MATERIALIZED (SELECT f,
              CASE WHEN t = '$c' THEN '__null' ELSE t END AS t, p
            FROM trans WHERE f <> '$c')"""
        case None =>
          s""",
          trans_$tag AS MATERIALIZED (SELECT f, t, p FROM trans)"""
      }
      val x0 = s""",
          x${tag}_0 AS (SELECT s, CASE WHEN s = 'purchase' THEN 1.0
              ELSE 0.0 END AS x
            FROM states${removed.map(c => s" WHERE s <> '$c'").getOrElse("")})"""
      val iters = (1 to rounds).map { k =>
        s""",
          x${tag}_$k AS MATERIALIZED (
            SELECT s, x FROM x${tag}_${k - 1}
            WHERE s IN ('purchase', '__null')
            UNION ALL
            SELECT tr.f AS s,
              cast(sum(cast(round(tr.p * xp.x, 12) AS decimal(18,12)))
                AS double) AS x
            FROM trans_$tag tr JOIN x${tag}_${k - 1} xp ON tr.t = xp.s
            WHERE tr.f NOT IN ('purchase', '__null')
            GROUP BY 1)"""
      }.mkString
      transCte + x0 + iters
    }
    val scenarios = scenario("full", None) +
      channels.map(c => scenario(c, Some(c))).mkString
    val finals = channels.map { c =>
      s"""SELECT '$c' AS channel,
           (SELECT round(round(x, 12), 6) + 0.0 FROM xfull_$rounds
             WHERE s = 'start') AS p_full,
           (SELECT round(round(x, 12), 6) + 0.0 FROM x${c}_$rounds
             WHERE s = 'start') AS p_removed,
           (SELECT cast(floor((1.0 - x2.x / x1.x) * 1000000 + 0.5)
               AS bigint)
             FROM xfull_$rounds x1, x${c}_$rounds x2
             WHERE x1.s = 'start' AND x2.s = 'start') AS removal6"""
    }.mkString("\n           UNION ALL\n           ")
    base + scenarios +
      s""",
          fin AS MATERIALIZED ($finals)
          SELECT channel, p_full, p_removed,
            cast(removal6 AS double) / 1000000.0 AS removal_effect,
            floor(cast(removal6 AS double)
              / cast(sum(removal6) OVER () AS double)
              * 1000000 + 0.5) / 1000000.0 AS share
          FROM fin"""
  }

  val gates: Seq[Gate] = Seq(
    // ---- windows (SURVEY §2.7) ----
    Gate("q12_latest_per_key", (s, dir) =>
      R.latestPerKey(Tables.events(s, dir), "user_id", col("ts"), col("event_id"))
        .select("user_id", "event_id", "event_type", "value"),
      oracle = """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) t WHERE rn = 1"""),
    Gate("q13_window_lag", (s, dir) =>
      R.withLag(Tables.events(s, dir), "user_id", "value", col("ts"), col("event_id"))
        .select("user_id", "event_id", "value", "prev_value", "delta_value"),
      oracle = """SELECT user_id, event_id, value,
         lag(value) OVER w AS prev_value,
         value - lag(value) OVER w AS delta_value
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""),
    Gate("q14_running_sum", (s, dir) =>
      R.runningSum(Tables.orders(s, dir), "o_custkey",
        col("o_totalprice").cast(D), "run_total",
        col("o_orderdate"), col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("run_total").cast("double").as("run_total")),
      oracle = """SELECT o_orderkey, o_custkey,
         cast(sum(cast(o_totalprice as decimal(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS run_total
         FROM orders"""),

    // ---- W: gaps-and-islands — longest consecutive-day activity streak ----
    Gate("q148_activity_streaks", (s, dir) =>
      R.activityStreaks(Tables.events(s, dir), "user_id", "ts"),
      // gaps-and-islands: day − row_number() is constant within a consecutive
      // run; day-level grain so the window is span-bounded
      oracle = """WITH daily AS (SELECT DISTINCT user_id,
             cast(date_trunc('day', ts) AS date) AS day FROM events),
         isl AS (SELECT user_id,
             (day - DATE '1995-01-01') - row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS grp
           FROM daily),
         runs AS (SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2)
         SELECT user_id, max(len) AS best_streak, count(*) AS n_streaks,
           cast(sum(len) AS bigint) AS active_days
         FROM runs GROUP BY user_id"""),

    // ---- A: rolling 7-day distinct active users (sliding distinct) ----
    Gate("q149_rolling_active", (s, dir) =>
      R.rollingActiveUsers(Tables.events(s, dir), "user_id", "ts",
        windowDays = 7),
      // rolling distinct: same day-grain contribution-explode construction —
      // a (user, day) pair contributes to the 7 window-end days it covers;
      // count(*) after the (user, win_day) distinct IS the distinct-user count
      oracle = """WITH daily AS (SELECT DISTINCT user_id,
             cast(date_trunc('day', ts) AS date) AS day FROM events),
         days AS (SELECT DISTINCT day FROM daily),
         contrib AS (SELECT DISTINCT user_id, day + cast(x AS integer) AS win_day
           FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS x) o)
         SELECT c.win_day, count(*) AS active_users
         FROM contrib c JOIN days d ON c.win_day = d.day
         GROUP BY c.win_day"""),

    // ---- A/W: per-key rolling windowed Pearson correlation ----
    Gate("q165_rolling_corr", (s, dir) =>
      graft.operators.Analyses.rollingCorr(
        Tables.lineitem(s, dir), "l_suppkey", "l_shipdate",
        "l_quantity", "l_extendedprice", windowDays = 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("n_win"), col("r")),
      // rolling corr: micros-exact trailing range frame, six exact decimal
      // window sums, one mirrored double tree; degenerate windows -> null r
      oracle = """WITH t AS (SELECT l_orderkey, l_linenumber, l_suppkey,
             epoch_us(l_shipdate) AS us,
             cast(l_quantity AS decimal(18,2)) AS x,
             cast(l_extendedprice AS decimal(18,2)) AS y FROM lineitem),
         m AS (SELECT l_orderkey, l_linenumber,
             count(*) OVER w AS n, sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
             sum(y * y) OVER w AS syy
           FROM t WINDOW w AS (PARTITION BY l_suppkey ORDER BY us
             RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)),
         d AS (SELECT l_orderkey, l_linenumber, n,
             cast(n AS double) * cast(sxx AS double) -
               cast(sx AS double) * cast(sx AS double) AS vx,
             cast(n AS double) * cast(syy AS double) -
               cast(sy AS double) * cast(sy AS double) AS vy,
             cast(n AS double) * cast(sxy AS double) -
               cast(sx AS double) * cast(sy AS double) AS num
           FROM m)
         SELECT l_orderkey, l_linenumber, cast(n AS bigint) AS n_win,
           CASE WHEN vx > 0 AND vy > 0
             THEN round(num / sqrt(vx * vy), 6) END AS r
         FROM d"""),

    // ---- A/W: per-key daily OHLC bars ----
    Gate("q172_ohlc", (s, dir) =>
      graft.operators.Analyses.ohlcBars(
        Tables.events(s, dir), "user_id", "ts", "value",
        tieBreak = col("event_id")),
      // OHLC: first/last under the (ts, event_id) total order via two
      // row_number flags folded into one hash agg
      oracle = """WITH t AS (SELECT user_id, cast(date_trunc('day', ts) AS date) AS day,
             value,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts ASC, event_id ASC) AS ra,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts DESC, event_id DESC) AS rd
           FROM events)
         SELECT user_id, day,
           max(CASE WHEN ra = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rd = 1 THEN value END) AS close,
           count(*) AS n_events
         FROM t GROUP BY 1, 2"""),

    // ---- A/W: peak concurrency per key (+1/−1 interval sweep) ----
    Gate("q181_max_concurrent", (s, dir) =>
      graft.operators.Analyses.maxConcurrent(
        Tables.events(s, dir), "user_id",
        col("ts"), col("ts") + expr("INTERVAL 1 HOUR")),
      // peak concurrency: running-sum max is tie-order-independent (within a
      // +1 run the sum only rises, within a −1 run only falls)
      oracle = """WITH d AS (
           SELECT user_id, ts AS t, cast(1 AS bigint) AS dd FROM events
           UNION ALL
           SELECT user_id, ts + INTERVAL 1 HOUR, cast(-1 AS bigint) FROM events),
         r AS (SELECT user_id, sum(dd) OVER (PARTITION BY user_id
             ORDER BY t ASC, dd ASC ROWS UNBOUNDED PRECEDING) AS run FROM d)
         SELECT user_id, cast(max(run) AS bigint) AS peak FROM r GROUP BY 1"""),

    // ---- W/J: first/last-touch attribution (trailing-horizon range window) ----
    Gate("q184_attribution", (s, dir) =>
      graft.operators.Relational.touchAttribution(
        Tables.events(s, dir), "user_id", "ts", "event_type", "event_id",
        convType = "purchase", touchType = "click",
        horizonSeconds = 7L * 24 * 3600),
      // attribution: correlated first/last probes mirror the engine's RANGE
      // window (touch at the conversion instant included on both sides)
      oracle = """SELECT e.event_id AS conv_id, e.user_id, e.ts AS conv_ts,
           (SELECT t.event_id FROM events t
            WHERE t.user_id = e.user_id AND t.event_type = 'click'
              AND epoch_us(t.ts) BETWEEN epoch_us(e.ts) - 604800000000
                AND epoch_us(e.ts)
            ORDER BY t.ts ASC, t.event_id ASC LIMIT 1) AS first_touch_id,
           (SELECT t.event_id FROM events t
            WHERE t.user_id = e.user_id AND t.event_type = 'click'
              AND epoch_us(t.ts) BETWEEN epoch_us(e.ts) - 604800000000
                AND epoch_us(e.ts)
            ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS last_touch_id
         FROM events e WHERE e.event_type = 'purchase'"""),

    // ---- A/W: rolling distinct count (trailing-window diversity) ----
    Gate("q187_rolling_distinct", (s, dir) =>
      graft.operators.Analyses.rollingDistinct(
        Tables.events(s, dir), "user_id", "ts", "event_type",
        windowDays = 7),
      // rolling distinct: the oracle is the plain trailing-range inequality
      // join (the constant-factor visibility explode is internal)
      oracle = """WITH obs AS (SELECT DISTINCT user_id AS k,
             cast(date_trunc('day', ts) AS date) AS day, event_type AS c
           FROM events),
         days AS (SELECT DISTINCT k, day FROM obs)
         SELECT d.k AS user_id, d.day, count(DISTINCT o.c) AS n_distinct
         FROM days d JOIN obs o ON o.k = d.k
           AND o.day BETWEEN d.day - 6 AND d.day
         GROUP BY 1, 2"""),

    // ---- W: month-over-month growth with calendar-adjacency guard ----
    Gate("q203_mom_growth", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast(D)).as("__rev"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("month").asc)
      monthly
        .withColumn("__prev", lag(col("__rev"), 1).over(w))
        .withColumn("__pm", lag(col("month"), 1).over(w))
        .select(col("month"), col("o_orderpriority"),
          col("__rev").cast("double").as("revenue"),
          when(col("__pm") === add_months(col("month"), -1),
            col("__rev").cast("double") / col("__prev").cast("double"))
            .as("mom_ratio"))
    },
      // MoM growth: ratio only when the previous row is the adjacent month
      oracle = """WITH m AS (SELECT cast(date_trunc('month', o_orderdate) AS date)
             AS month, o_orderpriority,
             sum(cast(o_totalprice AS decimal(18,2))) AS rev
           FROM orders GROUP BY 1, 2),
         l AS (SELECT month, o_orderpriority, rev,
             lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY month)
               AS prev,
             lag(month) OVER (PARTITION BY o_orderpriority ORDER BY month)
               AS pm
           FROM m)
         SELECT month, o_orderpriority, cast(rev AS double) AS revenue,
           CASE WHEN pm = month - INTERVAL 1 MONTH
             THEN cast(rev AS double) / cast(prev AS double) END AS mom_ratio
         FROM l"""),

    // ---- W: top event paths (3-step sequences within user streams) ----
    Gate("q207_top_paths", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("__n1", lead(col("event_type"), 1).over(w))
        .withColumn("__n2", lead(col("event_type"), 2).over(w))
        .filter(col("__n2").isNotNull)
        .select(concat_ws(">", col("event_type"), col("__n1"), col("__n2"))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc)
        .limit(20)
    },
      // top paths: lead-lead trigrams, (n desc, path) total order
      oracle = """WITH p AS (SELECT event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS path
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT path, count(*) AS n FROM p WHERE path IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path LIMIT 20"""),

    // ---- W/A: session quality metrics (bounce rate, duration) ----
    Gate("q223_session_metrics", (s, dir) => {
      // per session-start day: session count, bounce rate (single-event
      // sessions), mean events/session, mean duration — the product
      // dashboard built on the q87 sessionizer; rates are single exact
      // divisions
      val sess = R.sessionize(Tables.events(s, dir), "user_id", "ts",
          gapSeconds = 1800, tieBreak = col("event_id"))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(to_date(col("ts"))).as("day"),
          count(lit(1)).as("__n"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            .as("__dur_us"))
      sess.groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"),
          (sum(when(col("__n") === 1, 1).otherwise(0)).cast("double") /
            count(lit(1)).cast("double")).as("bounce_rate"),
          (sum(col("__n")).cast("double") / count(lit(1)).cast("double"))
            .as("mean_events"),
          (sum(col("__dur_us")).cast("double") /
            count(lit(1)).cast("double")).as("mean_duration_us"))
    },
      // session metrics: q87's session rule re-derived, rates = single
      // divisions of exact integers
      oracle = """WITH o AS (SELECT user_id, ts, event_id,
             lag(cast(floor(epoch(ts)) AS bigint)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_s
           FROM events),
         m AS (SELECT user_id, ts, event_id,
             sum(CASE WHEN prev_s IS NULL
               OR cast(floor(epoch(ts)) AS bigint) - prev_s > 1800
               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM o),
         sess AS (SELECT user_id, session_seq,
             min(cast(date_trunc('day', ts) AS date)) AS day,
             count(*) AS n,
             max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
           FROM m GROUP BY 1, 2)
         SELECT day, count(*) AS n_sessions,
           cast(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS double) /
             cast(count(*) AS double) AS bounce_rate,
           cast(sum(n) AS double) / cast(count(*) AS double) AS mean_events,
           cast(sum(dur_us) AS double) / cast(count(*) AS double)
             AS mean_duration_us
         FROM sess GROUP BY 1"""),

    // ---- EXT: exponentially-weighted moving average (daily series) ----
    Gate("q238_ewma_daily", (s, dir) => {
      // adjusted EWMA over the per-type DAILY count series: ewma_t =
      // Σ_{i≤t} 0.7^(t−i)·x_i / Σ_{i≤t} 0.7^(t−i) with calendar-day decay.
      // The sequential recurrence is re-expressed as a self-join on the DAY
      // GRID — bounded by the calendar span (≤365²/type/year), never by
      // event count, so it survives 100× data growth unchanged. Terms
      // 6dp-rounded then summed exactly in decimal.
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val a = daily.select(col("event_type"), col("day"))
      val b = daily.select(col("event_type"), col("day").as("iday"),
        col("x").as("ix"))
      a.join(b, Seq("event_type")).filter(col("iday") <= col("day"))
        .withColumn("__w",
          round(pow(lit(0.7d), datediff(col("day"), col("iday"))), 6))
        .groupBy(col("event_type"), col("day"))
        .agg(
          sum(round(col("__w") * col("ix"), 6).cast("decimal(28,6)"))
            .cast("double").as("__num"),
          sum(col("__w").cast("decimal(18,6)")).cast("double").as("__den"))
        .select(col("event_type"), col("day"),
          round(col("__num") / col("__den"), 6).as("ewma"))
    },
      // EWMA: same day-grid self-join, 6dp weight/term rounding, exact
      // decimal sums, one final division
      oracle = """WITH daily AS (SELECT event_type, cast(ts AS date) AS day,
           count(*) AS x FROM events GROUP BY 1, 2)
         SELECT a.event_type, a.day,
           round(cast(sum(cast(round(round(pow(0.7,
                 date_diff('day', b.day, a.day)), 6) * b.x, 6)
               AS decimal(28,6))) AS double) /
             cast(sum(cast(round(pow(0.7, date_diff('day', b.day, a.day)), 6)
               AS decimal(18,6))) AS double), 6) AS ewma
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND b.day <= a.day
         GROUP BY a.event_type, a.day"""),

    // ---- EXT: CUSUM change-point statistic (exact integer algebra) ----
    Gate("q239_cusum", (s, dir) => {
      // classic mean-shift detector over the per-type daily series:
      // CUSUM⁺_t = p_t − min_{i≤t} p_i with p_t = Σ_{i≤t}(x_i − mean).
      // Scaled by n (day count) the whole statistic is INTEGER-exact:
      // n·p_t = n·cumx_t − t·S — so max/argmax comparisons can't be
      // perturbed by float noise; the single division happens at output.
      // All windows run over the bounded day grid, partitioned by type.
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val wAll = Window.partitionBy(col("event_type"))
      val wCum = wAll.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val p = daily
        .withColumn("__n", count(lit(1)).over(wAll))
        .withColumn("__s", sum(col("x")).over(wAll))
        .withColumn("__t", row_number().over(wAll.orderBy(col("day"))))
        .withColumn("__np",
          col("__n") * sum(col("x")).over(wCum) - col("__t") * col("__s"))
      val cu = p.withColumn("__cu", col("__np") - min(col("__np")).over(wCum))
      val best = cu.withColumn("__rn", row_number().over(
        wAll.orderBy(col("__cu").desc, col("day"))))
      best.filter(col("__rn") === 1)
        .select(col("event_type"), col("day").as("change_day"),
          round(col("__cu").cast("double") / col("__n").cast("double"), 6)
            .as("cusum"))
    },
      // CUSUM: mirrored integer-scaled prefix-sum / running-min algebra;
      // argmax tie broken on earliest day; one final division
      oracle = """WITH daily AS (SELECT event_type, cast(ts AS date) AS day,
           count(*) AS x FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, day,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(x) OVER (PARTITION BY event_type) AS s,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             sum(x) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumx
           FROM daily),
         np AS (SELECT event_type, day, n, n * cumx - t * s AS np FROM p),
         cu AS (SELECT event_type, day, n,
             np - min(np) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu
           FROM np),
         best AS (SELECT event_type, day, n, cu,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cu DESC, day) AS rn
           FROM cu)
         SELECT event_type, day AS change_day,
           round(cast(cu AS double) / cast(n AS double), 6) AS cusum
         FROM best WHERE rn = 1"""),

    // ---- EXT: day-of-week seasonality index ----
    Gate("q240_dow_seasonality", (s, dir) => {
      // traffic-shape profile: mean daily volume per weekday vs the overall
      // daily mean, per event type — the multiplicative seasonal index a
      // forecasting pipeline divides out. Integer marginals, ONE mirrored
      // double expression at output.
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val byDow = daily
        .groupBy(col("event_type"),
          dayofweek(col("day")).cast("long").as("dow"))
        .agg(sum(col("x")).as("__sd"), count(lit(1)).as("n_days"))
      val tot = daily.groupBy(col("event_type"))
        .agg(sum(col("x")).as("__s"), count(lit(1)).as("__n"))
      byDow.join(tot, Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n_days"),
          round((col("__sd").cast("double") / col("n_days").cast("double")) /
            (col("__s").cast("double") / col("__n").cast("double")), 6)
            .as("seasonal_index"))
    },
      // dow seasonality: DuckDB dayofweek is Sunday=0 — +1 aligns it with
      // Spark's Sunday=1 convention; ONE mirrored ratio expression
      oracle = """WITH daily AS (SELECT event_type, cast(ts AS date) AS day,
           count(*) AS x FROM events GROUP BY 1, 2),
         bydow AS (SELECT event_type,
             cast(dayofweek(day) + 1 AS bigint) AS dow,
             sum(x) AS sd, cast(count(*) AS bigint) AS n_days
           FROM daily GROUP BY 1, 2),
         tot AS (SELECT event_type, sum(x) AS s, count(*) AS n
           FROM daily GROUP BY 1)
         SELECT b.event_type, b.dow, b.n_days,
           round((cast(sd AS double) / cast(n_days AS double)) /
             (cast(s AS double) / cast(n AS double)), 6) AS seasonal_index
         FROM bydow b JOIN tot USING (event_type)"""),

    // ---- EXT: debounce (burst collapse, keep-first) ----
    Gate("q259_debounce", (s, dir) => {
      // sensor/click de-noising: consecutive events of the same (user,
      // type) within 30 minutes collapse to the burst's FIRST event. One
      // per-key lag window (key-partitioned, never global); burst size
      // carried out for auditability.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val marked = Tables.events(s, dir)
        .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("__new", when(col("__prev").isNull ||
          unix_micros(col("ts")) - col("__prev") > 1800000000L, 1L)
          .otherwise(0L))
        .withColumn("__grp", sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      marked.groupBy(col("user_id"), col("event_type"), col("__grp"))
        .agg(min(struct(col("ts"), col("event_id"))).as("__f"),
          count(lit(1)).as("burst_len"))
        .select(col("__f.event_id").as("event_id"), col("user_id"),
          col("event_type"), col("burst_len"))
    },
      // debounce: mirrored lag/gap-group windows, first row by (ts, id)
      oracle = """WITH m AS (SELECT event_id, user_id, event_type, ts,
           epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
             ORDER BY ts, event_id) AS prev
           FROM events),
         g AS (SELECT *, sum(CASE WHEN prev IS NULL
               OR us - prev > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM m),
         f AS (SELECT user_id, event_type, grp, event_id,
             row_number() OVER (PARTITION BY user_id, event_type, grp
               ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type, grp)
               AS burst_len
           FROM g)
         SELECT event_id, user_id, event_type,
           cast(burst_len AS bigint) AS burst_len
         FROM f WHERE rn = 1"""),

    // ---- EXT: interval union (merge overlapping activity windows) ----
    Gate("q267_interval_union", (s, dir) => {
      // total covered time per user when each event opens a 30-minute
      // activity window: classic interval merging via the running-max-end
      // trick — a new island starts where ts exceeds every previous end.
      // Key-partitioned windows only; exact micros arithmetic end-to-end.
      import org.apache.spark.sql.expressions.Window
      val iv = Tables.events(s, dir).select(col("user_id"),
        col("event_id"), unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) + 1800000000L).as("en"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
      val marked = iv
        .withColumn("__pmax", max(col("en")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("__new",
          when(col("__pmax").isNull || col("st") > col("__pmax"), 1L)
            .otherwise(0L))
        .withColumn("__isl", sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      marked.groupBy(col("user_id"), col("__isl"))
        .agg(min(col("st")).as("__s"), max(col("en")).as("__e"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("__e") - col("__s")).as("covered_us"))
    },
      // interval union: mirrored running-max-end island windows
      oracle = """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS st,
           epoch_us(ts) + 1800000000 AS en FROM events),
         m AS (SELECT user_id, st, en,
             max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
             event_id
           FROM iv),
         g AS (SELECT *, sum(CASE WHEN pmax IS NULL OR st > pmax
               THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY st, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM m),
         i AS (SELECT user_id, isl, min(st) AS s, max(en) AS e
           FROM g GROUP BY 1, 2)
         SELECT user_id, cast(count(*) AS bigint) AS n_islands,
           cast(sum(e - s) AS bigint) AS covered_us
         FROM i GROUP BY 1"""),

    // ---- EXT: sliding-window aggregation (overlapping windows) ----
    Gate("q276_sliding_windows", (s, dir) =>
      // 1-hour windows sliding every 15 minutes: each event lands in
      // exactly 4 overlapping windows — the smoothing shape monitoring
      // dashboards use (tumbling q58 is the special case slide = length).
      // Spark's `window()` generates the assignment inline (a 4-row
      // explode, no join); exact decimal sums per window.
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(D)).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value")),
      // sliding windows: the 4 aligned starts per event, stated directly
      oracle = """WITH j AS (SELECT event_type, value,
           (epoch_us(ts) // 900000000) * 900 - k * 900 AS win_start
           FROM events, (SELECT unnest(generate_series(0, 3)) AS k))
         SELECT cast(win_start AS bigint) AS win_start, event_type,
           cast(count(*) AS bigint) AS n,
           cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
         FROM j GROUP BY 1, 2"""),

    // ---- EXT: conversion latency (click → first purchase) ----
    Gate("q281_conversion_latency", (s, dir) => {
      // the funnel-latency readout: for each click, the FIRST purchase by
      // the same user within 24 h; overall conversion rate + latency
      // percentiles. Same-user interval pairing (per-user groups bound the
      // join), min() collapses to first-match, exact micros until the
      // final percentile interpolation on identical integers.
      val e = Tables.events(s, dir)
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id"),
          unix_micros(col("ts")).as("cus"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      val lat = c.join(p, Seq("user_id"))
        .filter(col("pus") > col("cus") &&
          col("pus") <= col("cus") + 86400000000L)
        .groupBy(col("cid"))
        .agg((min(col("pus")) - max(col("cus"))).as("lat_us"))
      val nClicks = c.agg(count(lit(1)).as("n_clicks"))
      lat.agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(lat_us, 0.5)"), 6).as("p50_lat_us"),
          round(expr("percentile(lat_us, 0.9)"), 6).as("p90_lat_us"))
        .crossJoin(broadcast(nClicks))
        .select(col("n_clicks"), col("n_converted"),
          round(col("n_converted").cast("double") /
            col("n_clicks").cast("double"), 6).as("conv_rate"),
          col("p50_lat_us"), col("p90_lat_us"))
    },
      // conversion latency: mirrored first-match pairing + percentiles on
      // identical integer micros
      oracle = """WITH c AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS cus
           FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, epoch_us(ts) AS pus FROM events
           WHERE event_type = 'purchase'),
         lat AS (SELECT cid, min(pus) - max(cus) AS lat_us
           FROM c JOIN p USING (user_id)
           WHERE pus > cus AND pus <= cus + 86400000000
           GROUP BY cid),
         n AS (SELECT count(*) AS n_clicks FROM c),
         a AS (SELECT cast(count(*) AS bigint) AS n_converted,
             round(quantile_cont(lat_us, 0.5), 6) AS p50_lat_us,
             round(quantile_cont(lat_us, 0.9), 6) AS p90_lat_us
           FROM lat)
         SELECT cast(n_clicks AS bigint) AS n_clicks, n_converted,
           round(cast(n_converted AS double) / cast(n_clicks AS double),
             6) AS conv_rate,
           p50_lat_us, p90_lat_us
         FROM a, n"""),

    // ---- W: time-weighted average (duration-weighted mean per key) ----
    Gate("q136_twap", (s, dir) =>
      R.timeWeightedAvg(Tables.events(s, dir), "user_id", "ts", "value",
        tieBreak = col("event_id")),
      // TWAP: exact micros weights, decimal(18,2)*bigint exact weighted sum,
      // one final double division; zero-span keys excluded (no 0/0)
      oracle = """WITH t AS (SELECT user_id, value, epoch_us(ts) AS us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
           FROM events),
         iv AS (SELECT user_id, value, next_us - us AS dur FROM t
           WHERE next_us IS NOT NULL)
         SELECT user_id, count(*) AS n_intervals,
           cast(sum(dur) AS bigint) AS span_us,
           cast(sum(cast(value AS decimal(18,2)) * dur) AS double) /
             cast(cast(sum(dur) AS bigint) AS double) AS twap
         FROM iv GROUP BY user_id HAVING sum(dur) > 0"""),

    // ---- EXT: per-key rate anomaly + score normalization ----
    Gate("q142_markov_transitions", (s, dir) =>
      R.markovTransitions(Tables.events(s, dir), "user_id", "ts", "event_type",
        tieBreak = col("event_id")),
      // Markov transition matrix: lead-window successor pairs; the |types|^2
      // cell table row-normalizes via a bounded window
      oracle = """WITH t AS (SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
           FROM events),
         c AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
           FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           round(cast(n AS double) /
             cast(sum(n) OVER (PARTITION BY from_type) AS double), 6) AS p
         FROM c"""),
    Gate("q144_active_users", (s, dir) =>
      R.activeUsers(Tables.events(s, dir), "user_id", "ts"),
      // DAU + cumulative uniques via first-seen-day running sum (never a
      // running distinct over the stream)
      oracle = """WITH daily AS (SELECT cast(date_trunc('day', ts) AS date) AS day,
           count(DISTINCT user_id) AS dau FROM events GROUP BY 1),
         fs AS (SELECT user_id, min(cast(date_trunc('day', ts) AS date)) AS day
           FROM events GROUP BY 1),
         nw AS (SELECT day, count(*) AS nnew FROM fs GROUP BY 1)
         SELECT d.day, dau,
           cast(sum(coalesce(nnew, 0))
             OVER (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS bigint) AS cumulative_users
         FROM daily d LEFT JOIN nw USING (day)"""),
    Gate("q130_percent_rank_norm", (s, dir) =>
      graft.operators.Analyses.percentRankNormalize(
        Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
        "lang", "n_chars"),
      // oracle uses the REAL percent_rank so the distribution-table rewrite is
      // checked against the textbook window semantics, ties included
      oracle = """SELECT doc_id, lang, n_chars,
           round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars), 6) AS pr
         FROM documents"""),

    // ---- W-family: SCD-2 validity intervals from the event log ----
    Gate("q124_scd2_history", (s, dir) =>
      // floor-second epochs in the output (the q87 contract) — the interval
      // semantics live in the run collapse, not sub-second precision
      R.scd2(Tables.events(s, dir), "user_id", "ts", "event_type",
          tieBreak = col("event_id"))
        .select(col("user_id"), col("event_type"),
          col("valid_from").cast("long").as("valid_from_s"),
          col("valid_to").cast("long").as("valid_to_s"),
          col("is_current")),
      // SCD2: lag over the full stream finds value-run starts; lead over run
      // starts closes each interval; floor-second epochs in the output
      oracle = """WITH o AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         runs AS (SELECT user_id, event_type, ts, event_id FROM o
           WHERE prev IS NULL OR prev IS DISTINCT FROM event_type),
         v AS (SELECT user_id, event_type,
             cast(floor(epoch(ts)) AS bigint) AS valid_from_s,
             cast(floor(epoch(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id))) AS bigint) AS valid_to_s
           FROM runs)
         SELECT user_id, event_type, valid_from_s, valid_to_s,
           valid_to_s IS NULL AS is_current
         FROM v"""),

    // ---- A-family: ordered conversion funnel (chained min-after) ----
    Gate("q122_funnel", (s, dir) =>
      R.funnel(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")),
      // funnel: chained per-stage min(ts) constrained strictly after the
      // previous stage — order-sensitive conversion counts
      oracle = """WITH s1 AS (SELECT user_id AS u, min(ts) AS t0 FROM events
             WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id AS u, min(e.ts) AS t1 FROM events e
             JOIN s1 ON e.user_id = s1.u
             WHERE e.event_type = 'click' AND e.ts > s1.t0 GROUP BY 1),
         s3 AS (SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e
             JOIN s2 ON e.user_id = s2.u
             WHERE e.event_type = 'purchase' AND e.ts > s2.t1 GROUP BY 1)
         SELECT 1 AS depth, 'view' AS stage, (SELECT count(*) FROM s1) AS n_users
         UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
         UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)"""),

    // ---- A-family: weekly cohort retention matrix ----
    Gate("q123_cohort_retention", (s, dir) =>
      R.cohortRetention(Tables.events(s, dir), "user_id", "ts"),
      // cohort retention: integer epoch-week buckets (floor-second epochs as
      // q87, then floor week division) — calendar-free, engine-exact
      oracle = """WITH w AS (SELECT user_id AS u,
             cast(floor(cast(floor(epoch(ts)) AS bigint) / 604800) AS bigint) AS wk
           FROM events),
         c AS (SELECT u, min(wk) AS cohort_week FROM w GROUP BY 1)
         SELECT c.cohort_week, w.wk - c.cohort_week AS week_offset,
           count(DISTINCT w.u) AS n_users
         FROM w JOIN c ON w.u = c.u GROUP BY 1, 2"""),

    // ---- W-family breadth: rank statistics in partitioned windows ----
    Gate("q109_rank_stats", (s, dir) => {
      // rank/dense_rank/percent_rank/cume_dist over a COARSENED key so ties
      // actually exercise their semantics (tied rows share a rank —
      // deterministic without a total order); ntile needs a total order for
      // deterministic bucket boundaries, so it adds the id tiebreak
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(floor(col("value") / 10).asc)
      val wo = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(floor(col("value") / 10).asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          rank().over(wt).cast("long").as("rnk"),
          dense_rank().over(wt).cast("long").as("drnk"),
          round(percent_rank().over(wt), 6).as("prk"),
          round(cume_dist().over(wt), 6).as("cd"),
          ntile(4).over(wo).cast("long").as("quartile"))
    },
      // rank stats: tied windows over floor(value/10); ntile adds the id
      // tiebreak (bucket boundaries need a total order)
      oracle = """SELECT event_id, user_id,
           cast(rank() OVER wt AS bigint) AS rnk,
           cast(dense_rank() OVER wt AS bigint) AS drnk,
           round(percent_rank() OVER wt, 6) AS prk,
           round(cume_dist() OVER wt, 6) AS cd,
           cast(ntile(4) OVER wo AS bigint) AS quartile
         FROM events
         WINDOW wt AS (PARTITION BY user_id ORDER BY floor(value / 10)),
                wo AS (PARTITION BY user_id ORDER BY floor(value / 10), event_id)"""),

    // ---- time-series resample + forward fill (6h grid per user) ----
    Gate("q110_resample_ffill", (s, dir) =>
      R.resampleFfill(Tables.events(s, dir), "user_id",
        col("ts").cast("long"), col("value"), col("event_id"),
        stepSeconds = 21600L),
      // resample/ffill: per-key 6h grid between own min/max buckets; last
      // observed per bucket by (es, event_id); IGNORE NULLS carry-forward
      oracle = """WITH e AS (SELECT user_id, cast(floor(epoch(ts)) AS bigint) AS es,
                      value, event_id FROM events),
         wb AS (SELECT user_id, es, value, event_id,
                  cast(floor(es / 21600) AS bigint) AS bkt FROM e),
         obs AS (SELECT user_id, bkt AS bucket, value AS v FROM (
                   SELECT user_id, bkt, value, row_number() OVER (
                     PARTITION BY user_id, bkt ORDER BY es DESC, event_id DESC) AS rn
                   FROM wb) t WHERE rn = 1),
         span AS (SELECT user_id, min(bkt) AS lo, max(bkt) AS hi FROM wb GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket FROM span),
         j AS (SELECT g.user_id, g.bucket, o.v FROM grid g
               LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket)
         SELECT user_id, bucket * 21600 AS bucket_start,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
           v IS NOT NULL AS observed
         FROM j"""),

    // ---- batch sessionization (W-family; twin of the T5 session store) ----
    Gate("q87_sessionize", (s, dir) =>
      R.sessionize(Tables.events(s, dir), "user_id", "ts",
          gapSeconds = 1800, tieBreak = col("event_id"))
        .select("event_id", "user_id", "session_seq"),
      // sessionize: lag-gap flag + running sum over the same partitioned
      // window; floor-second epochs keep the gap boundary engine-identical
      oracle = """SELECT event_id, user_id,
           cast(sum(CASE WHEN prev_e IS NULL OR epoch_s - prev_e > 1800 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_seq
         FROM (SELECT event_id, user_id, ts,
                 cast(floor(epoch(ts)) AS bigint) AS epoch_s,
                 lag(cast(floor(epoch(ts)) AS bigint))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_e
               FROM events) t"""),

    // ---- W4 rolling time-range window ----
    Gate("q48_rolling_window", (s, dir) =>
      R.rollingWindow(Tables.events(s, dir), "user_id", "ts",
        col("value").cast(D), windowSeconds = 3600L, as = "roll_sum")
        .select(col("user_id"), col("event_id"),
          col("roll_sum").cast("double").as("roll_sum"), col("roll_sum_n")),
      oracle = """SELECT user_id, event_id,
         cast(sum(cast(value as decimal(18,2))) OVER w as double) AS roll_sum,
         count(*) OVER w AS roll_sum_n
         FROM events
         WINDOW w AS (PARTITION BY user_id
           ORDER BY cast(epoch(date_trunc('second', ts)) as bigint)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"""),

    // ---- EXT: MASE — seasonal-naive forecast quality per priority ----
    Gate("q287_mase_forecast", (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast(D)).as("rev"))
      graft.operators.Analyses.maseSeasonalNaive(
        daily, "o_orderpriority", "day", "rev", season = 7)
    },
      // MASE: exact-decimal absolute errors, two calendar-lag joins
      oracle = """WITH s AS (SELECT o_orderpriority AS k, cast(o_orderdate AS date) AS d,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS v
           FROM orders GROUP BY 1, 2),
         l7 AS (SELECT a.k, cast(count(*) AS bigint) AS n7,
             sum(abs(b.v - a.v)) AS sae7
           FROM s a JOIN s b ON b.k = a.k AND b.d = a.d + 7 GROUP BY 1),
         l1 AS (SELECT a.k, cast(count(*) AS bigint) AS n1,
             sum(abs(b.v - a.v)) AS sae1
           FROM s a JOIN s b ON b.k = a.k AND b.d = a.d + 1 GROUP BY 1)
         SELECT l7.k AS o_orderpriority, n7 AS n_seasonal_pairs,
           round(cast(sae7 AS double) / cast(n7 AS double), 6) + 0.0
             AS mae_seasonal,
           round(cast(sae1 AS double) / cast(n1 AS double), 6) + 0.0
             AS mae_naive,
           round((cast(sae7 AS double) / cast(n7 AS double))
             / (cast(sae1 AS double) / cast(n1 AS double)), 6) + 0.0 AS mase
         FROM l7 JOIN l1 ON l7.k = l1.k
         WHERE cast(sae1 AS double) / cast(n1 AS double) > 0"""),

    // ---- EXT: inter-arrival burstiness per event type ----
    Gate("q300_interarrival", (s, dir) =>
      graft.operators.Analyses.interarrivalStats(
        Tables.events(s, dir), "event_type", "user_id", "ts",
        tieBreak = col("event_id")),
      // burstiness: exact integer-microsecond gap moments, population sigma
      oracle = """WITH g AS (SELECT event_type, user_id, epoch_us(ts) AS t,
             lag(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
               ORDER BY ts, event_id) AS pt
           FROM events),
         gg AS (SELECT event_type, t - pt AS g FROM g WHERE pt IS NOT NULL),
         m AS (SELECT event_type, cast(count(*) AS bigint) AS n_gaps,
             sum(cast(g AS hugeint)) AS sg,
             sum(cast(g AS hugeint) * g) AS sgg
           FROM gg GROUP BY 1 HAVING count(*) > 1),
         s AS (SELECT event_type, n_gaps,
             cast(sg AS double) / cast(n_gaps AS double) AS mu,
             sqrt(cast(n_gaps AS double) * cast(sgg AS double)
               - cast(sg AS double) * cast(sg AS double))
               / cast(n_gaps AS double) AS sigma
           FROM m)
         SELECT event_type, n_gaps,
           round(mu / 1e6, 6) + 0.0 AS mean_gap_s,
           round(sigma / 1e6, 6) + 0.0 AS sd_gap_s,
           round((sigma - mu) / (sigma + mu), 6) + 0.0 AS burstiness
         FROM s WHERE sigma + mu > 0"""),

    // ---- EXT: weekly-activity bitmask profiles ----
    Gate("q302_dow_bitmask", (s, dir) =>
      // per user one int whose bit d is set iff the user was active on
      // weekday d, then the histogram of those masks — the compact
      // behavioral-profile encoding (bitmap index grain: OR/AND-mergeable
      // across partitions and days, the roaring-bitmap idea in miniature)
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(expr("bit_or(shiftleft(1, weekday(ts)))").as("mask"))
        .groupBy(col("mask"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("mask"), expr("cast(bit_count(mask) as int)").as("n_active_days"),
          col("n_users")),
      // bitmask profiles: OR-mergeable weekday bitmaps, Monday = bit 0
      oracle = """WITH u AS (SELECT user_id,
             bit_or(1 << cast(isodow(ts) - 1 AS int)) AS mask
           FROM events GROUP BY 1)
         SELECT mask, cast(bit_count(mask) AS int) AS n_active_days,
           cast(count(*) AS bigint) AS n_users
         FROM u GROUP BY mask"""),

    // ---- EXT: floor-at-zero running balance (closed-form, no scan) ----
    Gate("q309_clamped_balance", (s, dir) =>
      // signed integer stock moves per user: purchases/errors draw down,
      // everything else restocks; the floor-at-zero recurrence collapses
      // to prefix-sum minus running-min — two windows, fully distributed
      graft.operators.Analyses.clampedBalance(
        Tables.events(s, dir), "user_id", "ts",
        deltaCol = round(col("value"), 0).cast("long") *
          when(col("event_type").isin("purchase", "error"), -1L).otherwise(1L),
        tieBreak = col("event_id")),
      // clamped balance: s = P_final − min(0, min prefix) — two windows of
      // exact integer arithmetic, no sequential scan
      oracle = """WITH d AS (SELECT user_id, ts, event_id,
             cast(round(value, 0) AS bigint) *
               (CASE WHEN event_type IN ('purchase', 'error')
                THEN -1 ELSE 1 END) AS dd
           FROM events),
         p AS (SELECT user_id, dd,
             sum(dd) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS pp
           FROM d)
         SELECT user_id, cast(count(*) AS bigint) AS n,
           cast(sum(dd) AS bigint) AS net_raw,
           cast(sum(dd) - least(0, min(pp)) AS bigint) AS balance,
           cast(-least(0, min(pp)) AS bigint) AS absorbed_shortfall
         FROM p GROUP BY 1"""),

    // ---- EXT: run-length encoding of event-type sequences ----
    Gate("q314_type_runs", (s, dir) => {
      // gaps-and-islands over the TYPE sequence (q148 is day-streaks):
      // run id = overall rank − per-type rank, constant within a run of
      // identical consecutive types; per user the run count and the
      // longest run (ties: type asc, earliest start)
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val runs = Tables.events(s, dir)
        .withColumn("__grp",
          row_number().over(wAll) - row_number().over(wType))
        .groupBy(col("user_id"), col("event_type"), col("__grp"))
        .agg(count(lit(1)).as("__len"), min(col("event_id")).as("__start"))
      val wBest = Window.partitionBy(col("user_id"))
        .orderBy(col("__len").desc, col("event_type").asc, col("__start").asc)
      runs.withColumn("__rn", row_number().over(wBest))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_runs"),
          max(col("__len")).as("longest_run"),
          max(when(col("__rn") === 1, col("event_type"))).as("longest_type"))
    },
      // RLE islands: run id = overall rank − per-type rank
      oracle = """WITH r AS (SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (SELECT user_id, event_type, grp,
             cast(count(*) AS bigint) AS len,
             min(event_id) AS start_id
           FROM r GROUP BY 1, 2, 3),
         best AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY len DESC, event_type ASC, start_id ASC) AS rn
           FROM runs)
         SELECT user_id, cast(count(*) AS bigint) AS n_runs,
           max(len) AS longest_run,
           max(CASE WHEN rn = 1 THEN event_type END) AS longest_type
         FROM best GROUP BY 1"""),

    // ---- EXT: cohort LTV curve (cumulative revenue by month offset) ----
    Gate("q324_ltv_curve", (s, dir) => {
      // q123's retention matrix in MONEY: users cohorted by first-seen
      // month; per (cohort, month offset) the cumulative per-cohort
      // revenue and its per-user normalization — the payback-period
      // curve. The cumulative window runs over the bounded cohort×offset
      // grid, never event rows.
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"),
        col("value").cast(D).as("__v"))
      val first = e.groupBy(col("user_id"))
        .agg(date_trunc("month", min(col("ts"))).as("__cohort"))
      val sizes = first.groupBy(col("__cohort"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val cell = e.join(first, Seq("user_id"))
        .withColumn("__offset",
          (months_between(date_trunc("month", col("ts")), col("__cohort")))
            .cast("int"))
        .groupBy(col("__cohort"), col("__offset"))
        .agg(sum(col("__v")).as("__rev"))
      val w = Window.partitionBy(col("__cohort")).orderBy(col("__offset"))
        .rowsBetween(Window.unboundedPreceding, 0)
      cell.withColumn("__cum", sum(col("__rev")).over(w))
        .join(sizes, Seq("__cohort"))
        .select(to_date(col("__cohort")).as("cohort"),
          col("__offset").as("month_offset"), col("n_users"),
          (round(col("__cum").cast("double"), 2) + lit(0.0d))
            .as("cum_revenue"),
          (round(col("__cum").cast("double") /
            col("n_users").cast("double"), 2) + lit(0.0d))
            .as("cum_ltv_per_user"))
    },
      // LTV: bounded cohort×offset grid, cumulative exact-decimal revenue
      oracle = """WITH e AS (SELECT user_id, ts, cast(value AS decimal(18,2)) AS v
           FROM events),
         fst AS (SELECT user_id, date_trunc('month', min(ts)) AS cohort
           FROM e GROUP BY 1),
         sizes AS (SELECT cohort,
             cast(count(DISTINCT user_id) AS bigint) AS n_users
           FROM fst GROUP BY 1),
         cell AS (SELECT cohort,
             cast(date_diff('month', cohort, date_trunc('month', ts))
               AS int) AS month_offset,
             sum(v) AS rev
           FROM e JOIN fst USING (user_id) GROUP BY 1, 2),
         c AS (SELECT cohort, month_offset,
             sum(rev) OVER (PARTITION BY cohort ORDER BY month_offset) AS cum
           FROM cell)
         SELECT cast(c.cohort AS date) AS cohort, month_offset, n_users,
           round(cast(cum AS double), 2) + 0.0 AS cum_revenue,
           round(cast(cum AS double) / cast(n_users AS double), 2) + 0.0
             AS cum_ltv_per_user
         FROM c JOIN sizes ON c.cohort = sizes.cohort"""),

    // ---- EXT: classical seasonal indices (ratio-to-moving-average) ----
    Gate("q336_seasonal_indices", (s, dir) => {
      // the pre-STL decomposition every demand planner still uses: a
      // centered 12-month moving average is the trend; each month's
      // revenue/trend ratio, averaged per calendar month, is its seasonal
      // index. Windows run over the bounded monthly series (the q286
      // discipline); ratios are rounded then decimal-averaged.
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("__m"))
        .agg(sum(col("o_totalprice").cast(D)).as("__rev"))
      val wOrd = Window.orderBy(col("__m"))
      val seq = monthly.withColumn("__i", row_number().over(wOrd))
      val wMa = Window.orderBy(col("__i")).rowsBetween(-6, 5)
      val wCnt = Window.orderBy(col("__i")).rowsBetween(-6, 5)
      val withTrend = seq
        .withColumn("__cnt", count(lit(1)).over(wCnt))
        .withColumn("__masum", sum(col("__rev")).over(wMa))
        // only FULL 12-month windows define a trend point
        .filter(col("__cnt") === 12)
        .withColumn("__trend",
          col("__masum").cast("double") / 12.0d)
        .withColumn("__ratio",
          round(col("__rev").cast("double") / col("__trend"), 6)
            .cast("decimal(18,6)"))
      withTrend
        .groupBy(month(col("__m")).as("month_of_year"))
        .agg(count(lit(1)).as("n_years"),
          (round(sum(col("__ratio")).cast("double") /
            count(lit(1)).cast("double"), 6) + lit(0.0d))
            .as("seasonal_index"))
    },
      // seasonal indices: centered 12-month MA trend, rounded ratio means
      oracle = """WITH monthly AS (SELECT date_trunc('month', o_orderdate) AS m,
             sum(cast(o_totalprice AS decimal(18,2))) AS rev
           FROM orders GROUP BY 1),
         seq AS (SELECT m, rev, row_number() OVER (ORDER BY m) AS i
           FROM monthly),
         t AS (SELECT m, rev,
             count(*) OVER (ORDER BY i ROWS BETWEEN 6 PRECEDING
               AND 5 FOLLOWING) AS cnt,
             sum(rev) OVER (ORDER BY i ROWS BETWEEN 6 PRECEDING
               AND 5 FOLLOWING) AS masum
           FROM seq),
         r AS (SELECT m,
             cast(round(cast(rev AS double)
               / (cast(masum AS double) / 12.0), 6) AS decimal(18,6))
               AS ratio
           FROM t WHERE cnt = 12)
         SELECT cast(month(m) AS int) AS month_of_year,
           cast(count(*) AS bigint) AS n_years,
           round(cast(sum(ratio) AS double) / cast(count(*) AS double), 6)
             + 0.0 AS seasonal_index
         FROM r GROUP BY 1"""),

    // ---- EXT: Holt linear (double-exponential) smoothing ----
    Gate("q339_holt_smoothing", (s, dir) => {
      // level+trend exponential smoothing (alpha=0.3, beta=0.2) over the
      // bounded monthly revenue series — the short-horizon forecaster
      // complementing q336's seasonal decomposition and q48's EWMA. The
      // corpus pass is ONE monthly aggregate; the ~80-row recursion is a
      // bounded model fit (the q332 collect precedent) with every step
      // rounded to 6 dp so it is lockstep-identical to the oracle's
      // recursive CTE.
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(sum(col("o_totalprice").cast(D)).cast("double").as("__y"))
      graft.operators.Analyses
        .holtSmooth(monthly, "month", "__y", alpha = 0.3, beta = 0.2)
        .select(col("month"),
          (round(col("__y"), 2) + lit(0.0d)).as("revenue"),
          (col("smooth_level") + lit(0.0d)).as("smooth_level"),
          (col("smooth_trend") + lit(0.0d)).as("smooth_trend"),
          (col("forecast_next") + lit(0.0d)).as("forecast_next"))
    },
      // Holt: recursive CTE over the bounded monthly series, every level/
      // trend step rounded to 6 dp — lockstep with the Scala fold
      // every recursion step (and the forecast) uses the sign-split
      // half-away floor floor(x*1e6+0.5)/1e6 — the SAME IEEE op sequence
      // the Scala core (Analyses.holtSteps) runs, no engine round()
      // semantics (the q370 rule; q492's round-7 red was one knife-edge
      // cell under engine round)
      oracle = """WITH RECURSIVE monthly AS (
           SELECT date_trunc('month', o_orderdate) AS m,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS y
           FROM orders GROUP BY 1),
         seq AS (SELECT m, y, row_number() OVER (ORDER BY m) AS i
           FROM monthly),
         rec AS (
           SELECT i, lev, tr FROM (
             SELECT s.i, s.y AS lraw,
               CASE WHEN lraw >= 0 THEN floor(lraw * 1000000.0 + 0.5)
                 ELSE -floor(-lraw * 1000000.0 + 0.5) END / 1000000.0 AS lev,
               s2.y - s.y AS traw,
               CASE WHEN traw >= 0 THEN floor(traw * 1000000.0 + 0.5)
                 ELSE -floor(-traw * 1000000.0 + 0.5) END / 1000000.0 AS tr
             FROM seq s JOIN seq s2 ON s2.i = 2
             WHERE s.i = 1) x0
           UNION ALL
           SELECT i, lev_n AS lev, tr_n AS tr FROM (
             SELECT s.i,
               cast(0.3 AS double) * s.y
                 + cast(0.7 AS double) * (r.lev + r.tr) AS lraw,
               CASE WHEN lraw >= 0 THEN floor(lraw * 1000000.0 + 0.5)
                 ELSE -floor(-lraw * 1000000.0 + 0.5) END / 1000000.0 AS lev_n,
               cast(0.2 AS double) * (lev_n - r.lev)
                 + cast(0.8 AS double) * r.tr AS traw,
               CASE WHEN traw >= 0 THEN floor(traw * 1000000.0 + 0.5)
                 ELSE -floor(-traw * 1000000.0 + 0.5) END / 1000000.0 AS tr_n
             FROM rec r JOIN seq s ON s.i = r.i + 1) x1)
         SELECT cast(s.m AS date) AS month,
           round(s.y, 2) + 0.0 AS revenue,
           r.lev + 0.0 AS smooth_level,
           r.tr + 0.0 AS smooth_trend,
           CASE WHEN r.lev + r.tr >= 0
             THEN floor((r.lev + r.tr) * 1000000.0 + 0.5)
             ELSE -floor(-(r.lev + r.tr) * 1000000.0 + 0.5)
             END / 1000000.0 + 0.0 AS forecast_next
         FROM rec r JOIN seq s ON s.i = r.i"""),

    // ---- EXT: CUSUM changepoint localization per stream ----
    Gate("q341_changepoint", (s, dir) => {
      // where did the level shift? per event stream, the day t maximizing
      // |S_t·n − t·T| — the integer-scaled CUSUM deviation from a flat
      // mean, EXACT cents algebra with no rounding until output (q335's
      // prefix-sum discipline turned from monitoring into localization).
      // Windows are key-partitioned on event_type; the split must leave
      // both halves non-empty (t < n); ties break to the earliest day.
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(sum((col("value").cast(D) * lit(100)).cast("bigint"))
          .as("cents"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val wAll = Window.partitionBy(col("event_type"))
      val dev = daily
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("s", sum(col("cents")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("tot", sum(col("cents")).over(wAll))
        .filter(col("t") < col("n"))
        .withColumn("dv", abs(col("s") * col("n") - col("t") * col("tot")))
      val wPick = Window.partitionBy(col("event_type"))
        .orderBy(col("dv").desc, col("d"))
      dev.withColumn("__rk", row_number().over(wPick))
        .filter(col("__rk") === 1)
        .select(col("event_type"), col("n").as("n_days"),
          col("d").as("cp_day"),
          (round(col("dv").cast("double") /
            (col("n").cast("double") * lit(100.0d)), 2) + lit(0.0d))
            .as("cusum_peak"),
          (round(col("s").cast("double") /
            (col("t").cast("double") * lit(100.0d)), 6) + lit(0.0d))
            .as("mean_before"),
          (round((col("tot") - col("s")).cast("double") /
            ((col("n") - col("t")).cast("double") * lit(100.0d)), 6)
            + lit(0.0d)).as("mean_after"))
    },
      // changepoint: exact integer-scaled CUSUM argmax, earliest-day ties
      oracle = """WITH daily AS (
           SELECT event_type, cast(ts AS date) AS d,
             cast(sum(cast(cast(value AS decimal(18,2)) * 100 AS bigint))
               AS bigint) AS cents
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, d, cents,
             cast(row_number() OVER (PARTITION BY event_type ORDER BY d)
               AS bigint) AS t,
             cast(sum(cents) OVER (PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS bigint) AS s
           FROM daily),
         g AS (
           SELECT event_type, cast(count(*) AS bigint) AS n,
             cast(sum(cents) AS bigint) AS tot
           FROM daily GROUP BY 1),
         dev AS (
           SELECT w.event_type, w.d, w.t, w.s, g.n, g.tot,
             abs(w.s * g.n - w.t * g.tot) AS dv
           FROM w JOIN g ON w.event_type = g.event_type
           WHERE w.t < g.n),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY dv DESC, d) AS rk
           FROM dev)
         SELECT event_type, n AS n_days, d AS cp_day,
           round(cast(dv AS double) / (cast(n AS double) * 100.0), 2)
             + 0.0 AS cusum_peak,
           round(cast(s AS double) / (cast(t AS double) * 100.0), 6)
             + 0.0 AS mean_before,
           round(cast(tot - s AS double)
             / (cast(n - t AS double) * 100.0), 6) + 0.0 AS mean_after
         FROM r WHERE rk = 1"""),

    // ---- EXT: cross-correlation function (lead/lag between streams) ----
    Gate("q347_cross_correlation", (s, dir) => {
      // does click volume LEAD purchase volume? corr(x_d, y_{d+k}) for
      // k ∈ [−3, 3] over the bounded daily series — exact integer-cents
      // moments per lag (products in decimal(38,0)); one double division
      // per lag at the end.
      val spark = s
      import spark.implicits._
      def daily(t: String, dc: String, vc: String) =
        Tables.events(s, dir).filter(col("event_type") === t)
          .groupBy(col("ts").cast("date").as(dc))
          .agg(sum((col("value").cast(D) * lit(100)).cast("bigint"))
            .as(vc))
      val x = daily("click", "dx", "xv")
      val y = daily("purchase", "dy", "yv")
      val lags = (-3 to 3).toDF("lag")
      val pairs = x.crossJoin(broadcast(lags))
        .join(y, col("dy") === date_add(col("dx"), col("lag")))
      pairs.groupBy(col("lag"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("xv")).as("__sx"), sum(col("yv")).as("__sy"),
          sum(col("xv").cast("decimal(18,0)") *
            col("yv").cast("decimal(19,0)")).as("__sxy"),
          sum(col("xv").cast("decimal(18,0)") *
            col("xv").cast("decimal(19,0)")).as("__sxx"),
          sum(col("yv").cast("decimal(18,0)") *
            col("yv").cast("decimal(19,0)")).as("__syy"))
        .select(col("lag"), col("n_days"),
          (round((col("n_days").cast("double") *
            col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy").cast("double")) /
            sqrt((col("n_days").cast("double") *
              col("__sxx").cast("double") -
              col("__sx").cast("double") * col("__sx").cast("double")) *
              (col("n_days").cast("double") *
                col("__syy").cast("double") -
                col("__sy").cast("double") * col("__sy").cast("double"))),
            6) + lit(0.0d)).as("ccf"))
    },
      // CCF: exact integer-cents moments per lag, one double division each
      oracle = """WITH x AS (
           SELECT cast(ts AS date) AS dx,
             cast(sum(cast(cast(value AS decimal(18,2)) * 100 AS bigint))
               AS bigint) AS xv
           FROM events WHERE event_type = 'click' GROUP BY 1),
         y AS (
           SELECT cast(ts AS date) AS dy,
             cast(sum(cast(cast(value AS decimal(18,2)) * 100 AS bigint))
               AS bigint) AS yv
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
         pairs AS (
           SELECT l.lag, x.xv, y.yv
           FROM lags l
           JOIN x ON true
           JOIN y ON y.dy = x.dx + to_days(cast(l.lag AS int))),
         m AS (
           SELECT lag, cast(count(*) AS bigint) AS n,
             cast(sum(xv) AS bigint) AS sx, cast(sum(yv) AS bigint) AS sy,
             sum(cast(xv AS hugeint) * yv) AS sxy,
             sum(cast(xv AS hugeint) * xv) AS sxx,
             sum(cast(yv AS hugeint) * yv) AS syy
           FROM pairs GROUP BY 1)
         SELECT cast(lag AS int) AS lag, n AS n_days,
           round((cast(n AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double))
             / sqrt((cast(n AS double) * cast(sxx AS double)
                 - cast(sx AS double) * cast(sx AS double))
               * (cast(n AS double) * cast(syy AS double)
                 - cast(sy AS double) * cast(sy AS double))), 6) + 0.0
             AS ccf
         FROM m"""),

    // ---- EXT: session bounce rate ----
    Gate("q368_bounce_rate", (s, dir) => {
      // the product-analytics scalar on q87's session definition
      // (1800 s inactivity gap): single-event sessions / all sessions +
      // mean session length — key-partitioned windows only.
      import org.apache.spark.sql.expressions.Window
      val wl = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val t = Tables.events(s, dir)
        .withColumn("__es",
          floor(unix_micros(col("ts")) / lit(1000000L)).cast("long"))
        .withColumn("__pe", lag(col("__es"), 1).over(wl))
      val sess = t.withColumn("__sid",
        sum(when(col("__pe").isNull ||
          col("__es") - col("__pe") > 1800, 1L).otherwise(0L))
          .over(wl.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy(col("user_id"), col("__sid"))
        .agg(count(lit(1)).as("__len"))
      sess.agg(count(lit(1)).as("n_sessions"),
          sum(when(col("__len") === 1, 1L).otherwise(0L)).as("n_bounce"),
          sum(col("__len")).as("__tot"))
        .select(col("n_sessions"), col("n_bounce"),
          (round(col("n_bounce").cast("double") /
            col("n_sessions").cast("double"), 6) + lit(0.0d))
            .as("bounce_rate"),
          (round(col("__tot").cast("double") /
            col("n_sessions").cast("double"), 6) + lit(0.0d))
            .as("mean_session_len"))
    },
      // bounce rate: q87's floor-second 1800 s gap sessions, one aggregate
      oracle = """WITH t AS (
           SELECT user_id, ts, event_id,
             cast(floor(epoch(ts)) AS bigint) AS es,
             lag(cast(floor(epoch(ts)) AS bigint))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pe
           FROM events),
         s AS (
           SELECT user_id,
             cast(sum(CASE WHEN pe IS NULL OR es - pe > 1800
               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS bigint) AS sid
           FROM t),
         g AS (SELECT user_id, sid, cast(count(*) AS bigint) AS len
           FROM s GROUP BY 1, 2),
         m AS (
           SELECT cast(count(*) AS bigint) AS n_sessions,
             cast(sum(CASE WHEN len = 1 THEN 1 ELSE 0 END) AS bigint)
               AS n_bounce,
             cast(sum(len) AS bigint) AS tot
           FROM g)
         SELECT n_sessions, n_bounce,
           round(cast(n_bounce AS double) / cast(n_sessions AS double), 6)
             + 0.0 AS bounce_rate,
           round(cast(tot AS double) / cast(n_sessions AS double), 6)
             + 0.0 AS mean_session_len
         FROM m"""),

    // ---- EXT: local-maxima peak detection per stream ----
    Gate("q383_peak_detection", (s, dir) => {
      // strict local maxima of each stream's daily revenue with the rise
      // from the previous day and the fall to the next — the alerting
      // primitive behind q341's changepoints (exact cents comparisons,
      // key-partitioned lag/lead windows only).
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(sum((col("value").cast(D) * lit(100)).cast("bigint"))
          .as("cents"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      daily
        .withColumn("__pv", lag(col("cents"), 1).over(w))
        .withColumn("__nx", lead(col("cents"), 1).over(w))
        .filter(col("__pv").isNotNull && col("__nx").isNotNull &&
          col("cents") > col("__pv") && col("cents") > col("__nx"))
        .select(col("event_type"), col("d").as("peak_day"),
          (round(col("cents").cast("double") / lit(100.0d), 2)
            + lit(0.0d)).as("peak_value"),
          (round((col("cents") - col("__pv")).cast("double") /
            lit(100.0d), 2) + lit(0.0d)).as("rise"),
          (round((col("cents") - col("__nx")).cast("double") /
            lit(100.0d), 2) + lit(0.0d)).as("fall"))
    },
      // peaks: exact cents comparisons, key-partitioned lag/lead
      oracle = """WITH daily AS (
           SELECT event_type, cast(ts AS date) AS d,
             cast(sum(cast(cast(value AS decimal(18,2)) * 100 AS bigint))
               AS bigint) AS cents
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, d, cents,
             lag(cents) OVER (PARTITION BY event_type ORDER BY d) AS pv,
             lead(cents) OVER (PARTITION BY event_type ORDER BY d) AS nx
           FROM daily)
         SELECT event_type, d AS peak_day,
           round(cast(cents AS double) / 100.0, 2) + 0.0 AS peak_value,
           round(cast(cents - pv AS double) / 100.0, 2) + 0.0 AS rise,
           round(cast(cents - nx AS double) / 100.0, 2) + 0.0 AS fall
         FROM w
         WHERE pv IS NOT NULL AND nx IS NOT NULL AND cents > pv
           AND cents > nx"""),

    // ---- EXT: conversion latency percentiles ----
    Gate("q385_conversion_latency", (s, dir) => {
      // the funnel-latency readout behind q122's counts: minutes from
      // first signup to first subsequent purchase, p50/p90/p99 resolved
      // by integer rank against the minute-grain DISTRIBUTION table
      // (q316/q369's compressed-window trick); floor-second epochs and
      // integer-minute division keep the grain engine-identical.
      import org.apache.spark.sql.expressions.Window
      val spark = s
      import spark.implicits._
      val ev = Tables.events(s, dir)
      def es(c: org.apache.spark.sql.Column) =
        floor(unix_micros(c) / lit(1000000L)).cast("long")
      val sTbl = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(es(min(col("ts"))).as("__es"))
      val pTbl = ev.filter(col("event_type") === "purchase")
        .join(sTbl, Seq("user_id"))
        .filter(es(col("ts")) > col("__es"))
        .groupBy(col("user_id"), col("__es"))
        .agg(es(min(col("ts"))).as("__ep"))
      val dist = pTbl
        .select(expr("(__ep - __es) div 60").as("__mins"))
        .groupBy(col("__mins")).agg(count(lit(1)).as("__c"))
      val tot = dist.agg(sum(col("__c")).as("n_converted"))
      val wc = Window.orderBy(col("__mins"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = dist.withColumn("__cc", sum(col("__c")).over(wc))
      val q = Seq(50, 90, 99).toDF("pct")
      cum.crossJoin(broadcast(q)).crossJoin(broadcast(tot))
        .groupBy(col("pct"), col("n_converted"))
        .agg(min(when(col("__cc") >=
          expr("(pct * n_converted + 99) div 100"), col("__mins")))
          .cast("bigint").as("latency_minutes"))
        .select(col("pct"), col("n_converted"), col("latency_minutes"))
    },
      // conversion latency: floor-second epochs, integer-minute grain,
      // rank lookups on the compressed distribution table
      oracle = """WITH s AS (SELECT user_id,
             cast(floor(epoch(min(ts))) AS bigint) AS es
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         p AS (
           SELECT e.user_id, s.es,
             cast(floor(epoch(min(e.ts))) AS bigint) AS ep
           FROM events e JOIN s ON e.user_id = s.user_id
           WHERE e.event_type = 'purchase'
             AND cast(floor(epoch(e.ts)) AS bigint) > s.es
           GROUP BY 1, 2),
         dist AS (SELECT (ep - es) // 60 AS mins,
             cast(count(*) AS bigint) AS c
           FROM p GROUP BY 1),
         tot AS (SELECT cast(sum(c) AS bigint) AS n FROM dist),
         cum AS (
           SELECT mins, c,
             cast(sum(c) OVER (ORDER BY mins ROWS UNBOUNDED PRECEDING)
               AS bigint) AS cc
           FROM dist),
         q AS (SELECT cast(unnest([50, 90, 99]) AS int) AS pct)
         SELECT q.pct, tot.n AS n_converted,
           cast(min(CASE WHEN cum.cc >= (q.pct * tot.n + 99) // 100
             THEN cum.mins END) AS bigint) AS latency_minutes
         FROM q CROSS JOIN tot CROSS JOIN cum
         GROUP BY q.pct, tot.n"""),

    // ---- EXT: rolling-origin drift-forecast backtest ----
    Gate("q386_forecast_backtest", (s, dir) => {
      // how good is the naive drift forecast ŷ_{t+h} = y_t + h(y_t −
      // y_{t−1})? MAE/RMSE by horizon h ∈ {1,2,3} over every origin of
      // the bounded monthly series — the rolling-origin evaluation that
      // complements q287's MASE; absolute/squared errors rounded to 2 dp
      // then exactly decimal-summed.
      import org.apache.spark.sql.expressions.Window
      val spark = s
      import spark.implicits._
      val seq0 = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("__m"))
        .agg(sum(col("o_totalprice").cast(D)).cast("double").as("__y"))
        .withColumn("__i", row_number().over(Window.orderBy(col("__m"))))
        .select("__i", "__y")
      val hz = Seq(1, 2, 3).toDF("horizon")
      val a = seq0.select(col("__i").as("ia"), col("__y").as("ya"))
      val b = seq0.select(col("__i").as("ib"), col("__y").as("yb"))
      val c = seq0.select(col("__i").as("ic"), col("__y").as("yc"))
      a.crossJoin(broadcast(hz))
        .join(b, col("ib") === col("ia") - col("horizon"))
        .join(c, col("ic") === col("ia") - col("horizon") - lit(1))
        .withColumn("__f", col("yb") + col("horizon").cast("double") *
          (col("yb") - col("yc")))
        .withColumn("__ae",
          round(abs(col("ya") - col("__f")), 2).cast("decimal(18,2)"))
        .withColumn("__se",
          round((col("ya") - col("__f")) * (col("ya") - col("__f")), 2)
            .cast("decimal(28,2)"))
        .groupBy(col("horizon"))
        .agg(count(lit(1)).as("n_evals"),
          (round(sum(col("__ae")).cast("double") /
            count(lit(1)).cast("double"), 2) + lit(0.0d)).as("mae"),
          (round(sqrt(sum(col("__se")).cast("double") /
            count(lit(1)).cast("double")), 2) + lit(0.0d)).as("rmse"))
    },
      // backtest: naive drift forecast, 2-dp rounded errors exactly summed
      oracle = """WITH monthly AS (
           SELECT date_trunc('month', o_orderdate) AS m,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS double)
               AS y
           FROM orders GROUP BY 1),
         seq AS (SELECT y, row_number() OVER (ORDER BY m) AS i
           FROM monthly),
         hz AS (SELECT cast(unnest([1, 2, 3]) AS int) AS horizon),
         f AS (
           SELECT hz.horizon, a.y AS actual,
             b.y + cast(hz.horizon AS double) * (b.y - c.y) AS forecast
           FROM hz
           JOIN seq a ON true
           JOIN seq b ON b.i = a.i - hz.horizon
           JOIN seq c ON c.i = a.i - hz.horizon - 1),
         e AS (
           SELECT horizon,
             cast(round(abs(actual - forecast), 2) AS decimal(18,2))
               AS ae,
             cast(round((actual - forecast) * (actual - forecast), 2)
               AS decimal(28,2)) AS se
           FROM f)
         SELECT horizon, cast(count(*) AS bigint) AS n_evals,
           round(cast(sum(ae) AS double) / cast(count(*) AS double), 2)
             + 0.0 AS mae,
           round(sqrt(cast(sum(se) AS double) / cast(count(*) AS double)),
             2) + 0.0 AS rmse
         FROM e GROUP BY 1"""),

    // ---- EXT: linear multi-touch attribution ----
    Gate("q397_linear_attribution", (s, dir) => {
      // the equal-credit sibling of q184's first/last-touch: every
      // click/view in the 7 days before a purchase shares 1/n of that
      // conversion's credit. Linear attribution NEEDS the per-conversion
      // touch count, so the conv×touch join is inherent — it is horizon-
      // bounded (≤ one user-week of touches per conversion) and keyed on
      // user_id, the suite's interval-join discipline. Per-(conversion,
      // type) credit is 6-dp rounded then exact-decimal summed (q88).
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("__cid"),
          unix_micros(col("ts")).as("__cts"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("__ttype"),
          unix_micros(col("ts")).as("__tts"))
      val horizon = 7L * 86400L * 1000000L
      val j = conv.join(touch, Seq("user_id"))
        .filter(col("__tts") < col("__cts") &&
          col("__tts") >= col("__cts") - lit(horizon))
      j.groupBy(col("__cid"), col("__ttype"))
        .agg(count(lit(1)).as("__ct"))
        .withColumn("__n",
          sum(col("__ct")).over(Window.partitionBy(col("__cid"))))
        .withColumn("__credit",
          round(col("__ct").cast("double") / col("__n").cast("double"), 6)
            .cast("decimal(18,6)"))
        .groupBy(col("__ttype").as("event_type"))
        .agg(countDistinct(col("__cid")).as("n_conversions_touched"),
          sum(col("__ct")).as("n_touches"),
          (round(sum(col("__credit")).cast("double"), 6) + lit(0.0d))
            .as("linear_credit"))
    },
      oracle = """WITH conv AS (SELECT user_id, event_id AS cid, epoch_us(ts) AS cts
           FROM events WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, event_type AS tt, epoch_us(ts) AS tts
           FROM events WHERE event_type IN ('click', 'view')),
         j AS (SELECT c.cid, t.tt
           FROM conv c JOIN tch t ON c.user_id = t.user_id
             AND t.tts < c.cts AND t.tts >= c.cts - 604800000000),
         pc AS (SELECT cid, tt, cast(count(*) AS bigint) AS ct
           FROM j GROUP BY 1, 2),
         pn AS (SELECT *, sum(ct) OVER (PARTITION BY cid) AS n FROM pc),
         cr AS (SELECT cid, tt, ct,
             cast(round(cast(ct AS double) / cast(n AS double), 6)
               AS decimal(18,6)) AS credit
           FROM pn)
         SELECT tt AS event_type,
           cast(count(DISTINCT cid) AS bigint) AS n_conversions_touched,
           cast(sum(ct) AS bigint) AS n_touches,
           round(cast(sum(credit) AS double), 6) + 0.0 AS linear_credit
         FROM cr GROUP BY 1"""),

    // ---- EXT: event path mining (top trigram user journeys) ----
    Gate("q410_event_paths", (s, dir) => {
      // sequence-pattern mining primitive: the 10 most frequent
      // event-type trigrams along user timelines — the "what do users do
      // next" journey report. Per-user lead windows (key-partitioned),
      // one global count over the ≤ |types|³ path table, total-order
      // top-10.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val paths = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("__t2", lead(col("event_type"), 1).over(w))
        .withColumn("__t3", lead(col("event_type"), 2).over(w))
        .filter(col("__t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("__t2"), col("__t3"))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
      paths.withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("path"))))
        .filter(col("rank") <= 10)
        .select(col("rank"), col("path"), col("n"))
    },
      oracle = """WITH p AS (SELECT concat_ws('>', event_type,
             lead(event_type, 1) OVER w, lead(event_type, 2) OVER w)
             AS path,
             lead(event_type, 2) OVER w AS t3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (SELECT path, cast(count(*) AS bigint) AS n
           FROM p WHERE t3 IS NOT NULL GROUP BY 1),
         r AS (SELECT *, cast(row_number() OVER (ORDER BY n DESC, path)
             AS int) AS rank
           FROM g)
         SELECT rank, path, n FROM r WHERE rank <= 10"""),

    // ---- EXT: U-shaped (position-based) attribution ----
    Gate("q416_ushaped_attribution", (s, dir) => {
      // completes the attribution family (first/last q184, linear q397):
      // 40% to the first touch, 40% to the last, 20% split across the
      // middles; two touches split 50/50 and a single touch takes 1.0
      // (the standard conventions — per-conversion credit always sums to
      // exactly 1, the conservation invariant the spec asserts). Same
      // horizon-bounded conv×touch join keyed on user_id; position comes
      // from one key-partitioned window per conversion; per-touch weights
      // are 6-dp rounded then exact-decimal summed.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("__cid"),
          unix_micros(col("ts")).as("__cts"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("__ttype"),
          col("event_id").as("__tid"), unix_micros(col("ts")).as("__tts"))
      val horizon = 7L * 86400L * 1000000L
      val w = Window.partitionBy(col("__cid"))
        .orderBy(col("__tts"), col("__tid"))
      val j = conv.join(touch, Seq("user_id"))
        .filter(col("__tts") < col("__cts") &&
          col("__tts") >= col("__cts") - lit(horizon))
        .withColumn("__pos", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__cid"))))
        .withColumn("__w", round(
          when(col("__n") === 1, lit(1.0d))
            .when(col("__n") === 2, lit(0.5d))
            .when(col("__pos") === 1 || col("__pos") === col("__n"),
              lit(0.4d))
            .otherwise(lit(0.2d) / (col("__n") - 2).cast("double")), 6)
          .cast("decimal(18,6)"))
      j.groupBy(col("__ttype").as("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          (round(sum(col("__w")).cast("double"), 6) + lit(0.0d))
            .as("ushaped_credit"))
    },
      oracle = """WITH conv AS (SELECT user_id, event_id AS cid, epoch_us(ts) AS cts
           FROM events WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, event_type AS tt, event_id AS tid,
             epoch_us(ts) AS tts
           FROM events WHERE event_type IN ('click', 'view')),
         j AS (SELECT c.cid, t.tt, t.tid, t.tts
           FROM conv c JOIN tch t ON c.user_id = t.user_id
             AND t.tts < c.cts AND t.tts >= c.cts - 604800000000),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY cid ORDER BY tts, tid) AS pos,
             count(*) OVER (PARTITION BY cid) AS n
           FROM j),
         wgt AS (SELECT tt, cast(round(CASE WHEN n = 1 THEN 1.0
             WHEN n = 2 THEN 0.5
             WHEN pos = 1 OR pos = n THEN 0.4
             ELSE 0.2 / cast(n - 2 AS double) END, 6) AS decimal(18,6)) AS w
           FROM r)
         SELECT tt AS event_type, cast(count(*) AS bigint) AS n_touches,
           round(cast(sum(w) AS double), 6) + 0.0 AS ushaped_credit
         FROM wgt GROUP BY 1"""),

    // ---- EXT: concurrent-sessions curve (interval sweep) ----
    Gate("q430_concurrency_curve", (s, dir) => {
      // the capacity-planning question: how many sessions are OPEN at
      // once? Classic interval sweep (+1 at session start, −1 one second
      // after its end), with simultaneous boundaries folded atomically at
      // second grain so tie order cannot matter — then the running count
      // decomposes two-level by day (the q428 pattern): within-day
      // cumulative via key-partitioned windows + a bounded per-day net
      // table whose prefix sum is the midnight carry. Per day: peak
      // concurrency and sessions still open at midnight. The oracle keeps
      // its sanctioned single global window; the engine never sorts the
      // corpus globally.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .withColumn("__s", col("ts").cast("long"))
      val sess = graft.operators.Relational
        .sessionize(ev, "user_id", "__s", 1800L, col("event_id"))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("__s")).as("st"), max(col("__s")).as("en"))
      val bounds = sess.select(col("st").as("t"), lit(1L).as("delta"))
        .union(sess.select((col("en") + 1).as("t"), lit(-1L).as("delta")))
      val net = bounds.groupBy(expr("t div 86400").as("day"), col("t"))
        .agg(sum(col("delta")).as("net"))
      val wDay = Window.partitionBy(col("day")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dayNet = net.groupBy(col("day")).agg(sum(col("net")).as("dnet"))
      val wPre = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = dayNet
        .withColumn("carry", coalesce(sum(col("dnet")).over(wPre), lit(0L)))
        .select(col("day"), col("carry"), col("dnet"))
      net
        .withColumn("__cum", sum(col("net")).over(wDay))
        .join(broadcast(carry), Seq("day"))
        .groupBy(col("day"), col("carry"), col("dnet"))
        .agg(max(col("__cum") + col("carry")).as("peak_concurrent"))
        .select(col("day").as("day_num"), col("peak_concurrent"),
          (col("carry") + col("dnet")).as("open_at_midnight"))
    },
      oracle = """WITH es AS (SELECT event_id, user_id,
             cast(floor(epoch(ts)) AS bigint) AS s
           FROM events),
         lg AS (SELECT user_id, s, event_id,
             lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id)
               AS prev_s
           FROM es),
         sx AS (SELECT user_id, s,
             sum(CASE WHEN prev_s IS NULL OR s - prev_s > 1800
               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
           FROM lg),
         b AS (SELECT user_id, seq, min(s) AS st, max(s) AS en
           FROM sx GROUP BY 1, 2),
         d AS (SELECT st AS t, 1 AS delta FROM b
               UNION ALL SELECT en + 1, -1 FROM b),
         n AS (SELECT t // 86400 AS day, t,
             cast(sum(delta) AS bigint) AS net
           FROM d GROUP BY 1, 2),
         c AS (SELECT day, t, sum(net) OVER (ORDER BY t) AS cum FROM n),
         dn AS (SELECT day, sum(net) AS dnet FROM n GROUP BY 1),
         dc AS (SELECT day,
             cast(sum(dnet) OVER (ORDER BY day) AS bigint) AS runend
           FROM dn)
         SELECT c.day AS day_num, cast(max(cum) AS bigint)
             AS peak_concurrent,
           max(dc.runend) AS open_at_midnight
         FROM c JOIN dc ON c.day = dc.day GROUP BY 1"""),

    // ---- EXT: exact Shapley-value channel attribution ----
    Gate("q472_shapley_attribution", (s, dir) => {
      // game-theoretic credit, computed EXACTLY: 4 channels → 16
      // coalitions, so the characteristic function v(S) = converted
      // users whose touch set ⊆ S lives in a 16-row table built from ONE
      // corpus aggregate (exact-mask counts), and the Shapley sum runs
      // on a 4×8 bounded join. Weights ×4! = {6,2,2,6} keep every
      // marginal term an integer; the only division is the final /24.
      // Complements the positional heuristics (q397 linear, q416
      // U-shaped) with the axiomatic allocation.
      val ue = Tables.events(s, dir).groupBy("user_id").agg(
        (max(when(col("event_type") === "click", 1).otherwise(0))
          + max(when(col("event_type") === "view", 1).otherwise(0)) * 2
          + max(when(col("event_type") === "signup", 1).otherwise(0)) * 4
          + max(when(col("event_type") === "error", 1).otherwise(0)) * 8)
          .as("mask"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
      val cnt = ue.filter(col("conv") === 1)
        .groupBy(col("mask").as("t")).agg(count(lit(1)).as("c"))
      val sTab = s.range(0, 16).select(col("id").cast("int").as("s"))
      val v = sTab.join(broadcast(cnt),
          cnt("t").bitwiseAND(sTab("s")) === cnt("t"), "left")
        .groupBy("s").agg(coalesce(sum("c"), lit(0L)).as("v"))
      import s.implicits._
      val ch = Seq(("click", 1), ("view", 2), ("signup", 4), ("error", 8))
        .toDF("channel", "bit")
      val v0 = v.select(col("s").as("s0"), col("v").as("vs0"))
      val v1 = v.select(col("s").as("s1"), col("v").as("vs1"))
      ch.join(broadcast(v0), v0("s0").bitwiseAND(ch("bit")) === 0)
        .join(broadcast(v1),
          v1("s1") === v0("s0").bitwiseOR(ch("bit")))
        .withColumn("w", when(bit_count(col("s0")) === 0, 6L)
          .when(bit_count(col("s0")) === 3, 6L).otherwise(2L))
        .groupBy("channel")
        .agg(sum(col("w") * (col("vs1") - col("vs0"))).as("phi24"))
        .select(col("channel"), col("phi24"),
          (floor(col("phi24").cast("double") / 24.0 * 1000000 + 0.5)
            / 1000000.0).as("phi"))
    },
      // 16-coalition exact Shapley; ×24 integer weights
      oracle = """WITH ue AS (SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             + 2 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
           FROM events GROUP BY 1),
         cnt AS (SELECT mask AS t, cast(count(*) AS bigint) AS c
           FROM ue WHERE conv = 1 GROUP BY 1),
         sv AS (SELECT unnest(generate_series(0, 15)) AS s),
         v AS (SELECT sv.s, cast(coalesce(sum(cnt.c), 0) AS bigint) AS v
           FROM sv LEFT JOIN cnt ON (cnt.t & sv.s) = cnt.t GROUP BY 1),
         ch AS (SELECT * FROM (VALUES ('click', 1), ('view', 2),
             ('signup', 4), ('error', 8)) AS t(channel, bit)),
         terms AS (SELECT ch.channel,
             CASE WHEN bit_count(v0.s) IN (0, 3) THEN 6 ELSE 2 END
               * (v1.v - v0.v) AS term
           FROM ch
           JOIN v v0 ON (v0.s & ch.bit) = 0
           JOIN v v1 ON v1.s = (v0.s | ch.bit))
         SELECT channel, cast(sum(term) AS bigint) AS phi24,
           floor(cast(sum(term) AS double) / 24.0 * 1000000 + 0.5)
             / 1000000.0 AS phi
         FROM terms GROUP BY 1"""),

    // ---- EXT: Markov removal-effect attribution ----
    Gate("q478_markov_attribution", (s, dir) => {
      // the data-driven attribution standard beside q472's Shapley: a
      // first-order journey chain (virtual 'start', journeys truncated
      // at first purchase, '__null' absorbs non-converting ends) and
      // per-channel REMOVAL effects — delete the channel, redirect its
      // inbound edges to '__null', re-run the 20-round lockstep
      // absorption, and credit 1 − P_removed/P_full. The corpus pass is
      // one transition aggregate; the five scenario solves run on the
      // ≤36-entry chain (bounded model fit, q332 precedent). Transition
      // p's carry the 6-dp contract; round terms are 12-dp decimals.
      import org.apache.spark.sql.expressions.Window
      val wl = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, dir)
        .withColumn("prior", coalesce(
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .over(wl.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0)))
        .filter(col("prior") === 0)
      val hops = ev
        .withColumn("t", coalesce(lead(col("event_type"), 1).over(wl),
          lit("__null")))
        .filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("f"), col("t"))
      val starts = ev.groupBy("user_id")
        .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
          .as("m"))
        .select(lit("start").as("f"), col("m.event_type").as("t"))
      val cnt = hops.unionAll(starts).groupBy("f", "t")
        .agg(count(lit(1)).as("n"))
      val withP = cnt
        .withColumn("tot", sum("n").over(Window.partitionBy("f")))
        .withColumn("p",
          round(col("n").cast("double") / col("tot").cast("double"), 6))
        .select("f", "t", "p")
      val chain = withP.collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2)))
      val states = (chain.map(_._1._1) ++ chain.map(_._1._2))
        .distinct.sorted.toSeq
      val absorbingSet = Set("purchase", "__null")
      def r12(x: Double): Double =
        BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      def absorb(removed: Option[String]): Double = {
        val tr = chain.toSeq.flatMap { case ((f, t), p) =>
          removed match {
            case Some(c) if f == c => None
            case Some(c) =>
              Some(((f, if (t == c) "__null" else t), p))
            case None => Some(((f, t), p))
          }
        }
        val sts = states.filterNot(removed.contains)
        var x: Map[String, Double] = sts.map(st =>
          st -> (if (st == "purchase") 1.0 else 0.0)).toMap
        (1 to 20).foreach { _ =>
          val next = sts.filterNot(absorbingSet).map { st =>
            val terms = tr.filter(_._1._1 == st).flatMap {
              case ((_, t), p) =>
                x.get(t).map(xv => BigDecimal(r12(p * xv)))
            }
            st -> (if (terms.isEmpty) 0.0 else terms.sum.toDouble)
          }.toMap
          x = next ++ sts.filter(absorbingSet)
            .map(st => st -> x(st)).toMap
        }
        x.getOrElse("start", 0.0)
      }
      val pFull = absorb(None)
      val channels = Seq("click", "view", "signup", "error")
      val rows = channels.map { c =>
        val pr = absorb(Some(c))
        val removal6 =
          math.floor((1.0 - pr / pFull) * 1000000 + 0.5).toLong
        (c, pFull, pr, removal6)
      }
      val tot6 = rows.map(_._4).sum
      val spark = s
      import spark.implicits._
      rows.map { case (c, pf, pr, r6) =>
        (c, pf, pr, r6.toDouble / 1000000.0,
          math.floor(r6.toDouble / tot6.toDouble * 1000000 + 0.5)
            / 1000000.0)
      }.toDF("channel", "pf", "prm", "removal_effect", "share")
        .select(col("channel"),
          (round(col("pf"), 6) + lit(0.0d)).as("p_full"),
          (round(col("prm"), 6) + lit(0.0d)).as("p_removed"),
          col("removal_effect"), col("share"))
    },
      // generated 5-scenario unrolled value iteration
      oracle = MarkovRemovalOracleSql),

    // ---- EXT: per-key executor-side Holt smoothing ----
    Gate("q492_holt_by_key", (s, dir) => {
      // the per-key sibling of q339: every event type's DAILY series
      // (30 days at every SF) is smoothed INSIDE flatMapGroups (no driver
      // collect — the corpus shuffles once on the key, each key's
      // recursion buffers only its own span-bounded series); lockstep
      // 6-dp rounding against a per-key recursive-CTE oracle
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(col("value").cast(D)).cast("double").as("__y"))
      graft.operators.Analyses
        .holtSmoothByKey(daily, "event_type", "day", "__y",
          alpha = 0.3, beta = 0.2)
        .select(col("event_type"), col("day"),
          (round(col("__y"), 2) + lit(0.0d)).as("total_value"),
          (col("smooth_level") + lit(0.0d)).as("smooth_level"),
          (col("smooth_trend") + lit(0.0d)).as("smooth_trend"),
          (col("forecast_next") + lit(0.0d)).as("forecast_next"))
    },
      // per-key Holt: the q339 recursive CTE, partitioned by event type —
      // same mirrored half-away-floor rounding as q339 (the q370 rule;
      // this gate's round-7 red was one knife-edge cell under engine round)
      oracle = """WITH RECURSIVE daily AS (
           SELECT event_type AS k, cast(ts AS date) AS m,
             cast(sum(cast(value AS decimal(18,2))) AS double) AS y
           FROM events GROUP BY 1, 2),
         seq AS (SELECT k, m, y,
             row_number() OVER (PARTITION BY k ORDER BY m) AS i,
             count(*) OVER (PARTITION BY k) AS cnt
           FROM daily),
         rec AS (
           SELECT k, i, lev, tr FROM (
             SELECT s.k, s.i, s.y AS lraw,
               CASE WHEN lraw >= 0 THEN floor(lraw * 1000000.0 + 0.5)
                 ELSE -floor(-lraw * 1000000.0 + 0.5) END / 1000000.0 AS lev,
               s2.y - s.y AS traw,
               CASE WHEN traw >= 0 THEN floor(traw * 1000000.0 + 0.5)
                 ELSE -floor(-traw * 1000000.0 + 0.5) END / 1000000.0 AS tr
             FROM seq s JOIN seq s2 ON s2.k = s.k AND s2.i = 2
             WHERE s.i = 1 AND s.cnt >= 2) x0
           UNION ALL
           SELECT k, i, lev_n AS lev, tr_n AS tr FROM (
             SELECT s.k, s.i,
               cast(0.3 AS double) * s.y
                 + cast(0.7 AS double) * (r.lev + r.tr) AS lraw,
               CASE WHEN lraw >= 0 THEN floor(lraw * 1000000.0 + 0.5)
                 ELSE -floor(-lraw * 1000000.0 + 0.5) END / 1000000.0 AS lev_n,
               cast(0.2 AS double) * (lev_n - r.lev)
                 + cast(0.8 AS double) * r.tr AS traw,
               CASE WHEN traw >= 0 THEN floor(traw * 1000000.0 + 0.5)
                 ELSE -floor(-traw * 1000000.0 + 0.5) END / 1000000.0 AS tr_n
             FROM rec r JOIN seq s ON s.k = r.k AND s.i = r.i + 1) x1)
         SELECT s.k AS event_type, cast(s.m AS date) AS day,
           round(s.y, 2) + 0.0 AS total_value,
           r.lev + 0.0 AS smooth_level,
           r.tr + 0.0 AS smooth_trend,
           CASE WHEN r.lev + r.tr >= 0
             THEN floor((r.lev + r.tr) * 1000000.0 + 0.5)
             ELSE -floor(-(r.lev + r.tr) * 1000000.0 + 0.5)
             END / 1000000.0 + 0.0 AS forecast_next
         FROM rec r JOIN seq s ON s.k = r.k AND s.i = r.i"""),
  )
}
