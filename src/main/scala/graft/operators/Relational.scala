package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.2 / §2.4 / §2.5 / §2.7 — projections, filters, aggregations,
  * sort/limit/pagination, and window analytics as composable
  * `DataFrame => DataFrame` combinators.
  *
  * Each combinator is declarative: it only adds nodes to the logical plan, so
  * Catalyst predicate pushdown / column pruning reach the parquet scan — the
  * engine-side replacement for the reference's B-tree indexes
  * (reference: database/schemas/init.sql:166-204).
  */
object Relational {

  // ---- filters / lookups (§2.2) ------------------------------------------

  /** P1 — point lookup by primary key
    * (reference: services/auth-service/crud.py:17-19). Equality predicate is
    * pushed to the source: parquet row-group min/max skipping stands in for
    * the B-tree index. */
  def pointLookup(df: DataFrame, keyCol: String, key: Any): DataFrame =
    df.filter(col(keyCol) === lit(key))

  /** P3 — fallback OR-lookup: login accepts username OR email with the same
    * input (reference: services/auth-service/main.py:118-120). */
  def orLookup(df: DataFrame, value: Any, cols: String*): DataFrame =
    df.filter(cols.map(c => col(c) === lit(value)).reduce(_ || _))

  /** P4 — optional equality filter: apply only when the caller passed a value
    * (reference: services/auth-service/crud.py:98-99). */
  def optionalFilter(df: DataFrame, c: String, v: Option[Any]): DataFrame =
    v.fold(df)(x => df.filter(col(c) === lit(x)))

  /** P5 — conjunctive multi-filter listing: all predicates optional, ANDed
    * (reference: services/file-service/main.py:281-288). */
  def multiFilter(df: DataFrame, preds: Seq[Column]): DataFrame =
    if (preds.isEmpty) df else df.filter(preds.reduce(_ && _))

  /** P6 — row-level security: non-admin sees only rows it owns
    * (reference: services/file-service/main.py:185,279,319). `uid` is Any so
    * UUID-string and numeric owner columns both compare without a lossy
    * string↔numeric coercion. */
  def forUser(df: DataFrame, ownerCol: String, uid: Any, role: String): DataFrame =
    if (role == "admin") df else df.filter(col(ownerCol) === lit(uid))

  /** P8 — set-membership predicate (MIME / enum allowlists)
    * (reference: shared/utils/__init__.py:89-91; services/file-service/main.py:92). */
  def memberOf(c: Column, allowed: Seq[Any]): Column = c.isin(allowed: _*)

  /** P9 — regex predicate, e.g. the email validator
    * (reference: shared/utils/__init__.py:153-157). */
  val EmailRe = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
  /** P12 — UUID-format validation (reference: shared/utils/__init__.py:144-150). */
  val UuidRe = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

  /** P10 — coordinate range validation
    * (reference: shared/utils/__init__.py:176-178). */
  def validCoords(lon: Column, lat: Column): Column =
    lat.between(-90, 90) && lon.between(-180, 180)

  /** P13 — CHECK-constraint predicates become write-path validation; rows are
    * split into (valid, quarantined) instead of aborting the batch
    * (reference: init.sql:66,136; the per-file try/except at
    * services/file-service/main.py:158-167). */
  def quarantine(df: DataFrame, valid: Column): (DataFrame, DataFrame) =
    (df.filter(valid), df.filter(!coalesce(valid, lit(false))))

  // ---- aggregations (§2.4) -----------------------------------------------

  /** A3 — min/max bounding box over coordinate columns, per group
    * (reference: shared/utils/__init__.py:181-194). Single-pass partial
    * aggregation: map-side combine makes this shuffle only one row per
    * (group × partition) at any scale. */
  def bboxAgg(df: DataFrame, groupCols: Seq[String], lon: Column, lat: Column): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(
      min(lon).as("min_lon"), max(lon).as("max_lon"),
      min(lat).as("min_lat"), max(lat).as("max_lat"))

  /** A5 — group-by rollups over status/type columns
    * (reference: init.sql:176-183 — the indexes these queries were designed for). */
  def rollupCount(df: DataFrame, groupCols: String*): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n"))

  /** A6 — progress aggregation per project (reference: init.sql:65). The
    * mean is derived as exact-sum ÷ count (one double division) rather than
    * a native double `avg`, whose accumulation order varies with
    * partitioning — this form is deterministic and, when `progress` is a
    * decimal column, bit-identical across engines. */
  def progressRollup(df: DataFrame, key: String, progress: String): DataFrame =
    df.groupBy(col(key)).agg(
      count(lit(1)).as("__n"),
      sum(col(progress)).as("__sum"),
      min(col(progress)).as("min_progress"),
      max(col(progress)).as("max_progress"))
      .withColumn("avg_progress", col("__sum").cast("double") / col("__n"))
      .drop("__n", "__sum")

  // ---- sort / limit / pagination (§2.5) ----------------------------------

  /** L4 — priority-ordered top-k ("next k pending tasks")
    * (reference: init.sql:66,183). Catalyst plans this as
    * TakeOrderedAndProject: per-partition heap + driver merge of k rows only —
    * no global sort, safe at any scale. Callers must include a unique
    * tie-break column for determinism. */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** L1/W2 — offset/limit pagination with a deterministic total order
    * (reference: services/auth-service/crud.py:88-101;
    * skip=(page-1)*size: shared/utils/__init__.py:161-172).
    *
    * Scale note: the single-partition `row_number` window is fine for the
    * reference's API-layer page sizes (≤100, shared/models/__init__.py:40)
    * but is a deliberate non-goal at 100 TB — deep pagination there should be
    * keyset-based (`WHERE key > last_seen ORDER BY key LIMIT size`), which
    * `keysetPage` implements. */
  def page(df: DataFrame, page: Int, size: Int, order: Column*): DataFrame = {
    val w = Window.orderBy(order: _*)
    val skip = (page.max(1) - 1) * size
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > skip && col("__rn") <= skip + size)
      .drop("__rn")
  }

  /** L1 — raw skip/limit pagination honoring NON-ALIGNED offsets: rows with
    * row_number ∈ (skip, skip+limit]. The reference's users listing takes a
    * free-form `skip`, not a page number (services/auth-service/crud.py:88-101),
    * so skip=5/limit=10 must return rows 6-15 — `page` can only express
    * offsets that are multiples of the page size. Same scale caveat as
    * `page`; `keysetPage` is the 100 TB path. */
  def offsetPage(df: DataFrame, skip: Int, limit: Int, order: Column*): DataFrame = {
    val w = Window.orderBy(order: _*)
    val s = skip.max(0)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > s && col("__rn") <= s.toLong + limit.max(0))
      .drop("__rn")
  }

  /** Keyset pagination — the scale-safe variant of L1: pushdown-friendly range
    * predicate + top-k, no global window. */
  def keysetPage(df: DataFrame, keyCol: String, lastSeen: Option[Any], size: Int): DataFrame = {
    val after = lastSeen.fold(df)(k => df.filter(col(keyCol) > lit(k)))
    after.orderBy(col(keyCol)).limit(size)
  }

  /** L3 — the reference's pagination-parameter clamp: page ≥ 1,
    * size ∈ [1, 100] (reference: shared/models/__init__.py:38-41). */
  def clampPageParams(page: Int, size: Int): (Int, Int) =
    (page.max(1), size.max(1).min(100))

  /** L2/F7 — pagination metadata: total count + ceil-division page count
    * (reference: shared/utils/__init__.py:161-172). */
  def paginationMeta(df: DataFrame, size: Int): DataFrame =
    df.agg(count(lit(1)).as("total"))
      .select(col("total"),
        ceil(col("total") / lit(size)).cast("long").as("pages"))

  /** L2 full parity — the reference's paginated-response envelope metadata:
    * total, page, size, pages, has_next, has_prev
    * (reference: shared/utils/__init__.py:161-172), with the L3 parameter
    * clamp applied. */
  def paginationMeta(df: DataFrame, page: Int, size: Int): DataFrame = {
    val (p, s) = clampPageParams(page, size)
    df.agg(count(lit(1)).as("total"))
      .select(col("total"), lit(p).as("page"), lit(s).as("size"),
        ceil(col("total") / lit(s)).cast("long").as("pages"))
      .withColumn("has_next", lit(p) < col("pages"))
      .withColumn("has_prev", lit(p > 1))
  }

  // ---- windows (§2.7) -----------------------------------------------------

  /** W1 — latest row per key: the "current status" view over an append-only
    * event/status log (reference: status transitions init.sql:7,64-65;
    * last_login overwrite services/auth-service/crud.py:70-75).
    * Partitioned window — parallel by key, no global sort. */
  def latestPerKey(df: DataFrame, key: String, order: Column*): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** W3 — lag/lead sequence analysis over a per-user audit trail
    * (reference: audit_logs + created_at index, init.sql:153-163,204). */
  def withLag(df: DataFrame, key: String, valueCol: String, order: Column*): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    df.withColumn("prev_" + valueCol, lag(col(valueCol), 1).over(w))
      .withColumn("delta_" + valueCol, col(valueCol) - lag(col(valueCol), 1).over(w))
  }

  /** W4 — running total per key (frame: unbounded preceding → current). */
  def runningSum(df: DataFrame, key: String, valueCol: Column, as: String, order: Column*): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, sum(valueCol).over(w))
  }

  /** W4 — rolling time-range aggregate: per key, totals over the trailing
    * `windowSeconds` of event time (frame: RANGE BETWEEN N PRECEDING AND
    * CURRENT ROW over epoch seconds). The streaming analog of the
    * reference's request-rate metrics (services/api-gateway/middleware.py:68-94)
    * expressed as a batch window. Timestamps are truncated to whole seconds
    * so frame boundaries are reproducible across engines. */
  def rollingWindow(df: DataFrame, key: String, ts: String, valueCol: Column,
                    windowSeconds: Long, as: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(unix_timestamp(date_trunc("second", col(ts))))
      .rangeBetween(-windowSeconds, Window.currentRow)
    df.withColumn(as, sum(valueCol).over(w))
      .withColumn(as + "_n", count(lit(1)).over(w))
  }

  /** Batch sessionization — split each key's event stream into sessions at
    * inactivity gaps larger than `gapSeconds`: the batch-analytics twin of
    * the streaming TTL session store (Streams.sessionWithTtl) and the
    * standard first step of funnel/engagement analysis. session_seq is the
    * 1-based session index within the key (lag to flag session starts, then
    * a running sum of the flags — both over the SAME key-partitioned window,
    * one shuffle, never global). Gap comparison uses floor-second epochs so
    * the boundary is engine-reproducible under nanos→micros truncation. */
  def sessionize(df: DataFrame, key: String, ts: String, gapSeconds: Long,
                 tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts).asc, tieBreak.asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(ts).cast("long"), 1).over(w)
    val isStart = when(
      prev.isNull || (col(ts).cast("long") - prev) > gapSeconds, 1).otherwise(0)
    df.withColumn("session_seq", sum(isStart).over(run))
  }

  /** Time-weighted average — the irregular-series mean that weights each
    * observation by how long it was CURRENT (until the key's next event),
    * the standard TWAP/telemetry aggregate where plain `avg` over-counts
    * bursts. Each event's weight is the exact microsecond gap to the next
    * event of the same key (`lead` over a key-partitioned window); the last
    * event carries no interval and single-event keys vanish — the
    * observed-interval model. Zero-span keys (all events co-timestamped)
    * are excluded rather than emitting a 0/0.
    *
    * Determinism: weights are exact `unix_micros` longs and the weighted
    * sum is decimal(18,2)·long — both engines sum EXACTLY and divide once
    * at the end as doubles. Scale shape: one key-partitioned window + one
    * hash aggregate; no grids, no driver state. */
  def timeWeightedAvg(df: DataFrame, key: String, ts: String, value: String,
                      tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts).asc, tieBreak.asc)
    df.withColumn("__us", unix_micros(col(ts)))
      .withColumn("__dur", lead(col("__us"), 1).over(w) - col("__us"))
      .filter(col("__dur").isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("__dur")).as("span_us"),
        (sum(col(value).cast("decimal(18,2)") * col("__dur")).cast("double") /
          sum(col("__dur")).cast("double")).as("twap"))
      .filter(col("span_us") > 0)
  }

  /** Uniqueness audit — parquet has no unique constraints
    * (reference: unique indexes init.sql:13-14); report violating keys. */
  def duplicateKeys(df: DataFrame, keyCols: String*): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)

  /** Time-series resample + forward fill: regularize an irregular event
    * series onto a fixed `stepSeconds` grid per key, carrying the last
    * observed value across empty buckets (the standard resample/ffill pass
    * before windowed feature extraction or charting). Each key's grid spans
    * ITS OWN [min, max] bucket range — grid size is (time span / step) per
    * key, independent of event count, so a 100 TB event log resamples to a
    * bounded-width table. Per-bucket "last observed" uses a (ts, tieBreak)
    * window; both windows are key-partitioned (never global); the grid
    * equi-joins observations on (key, bucket). Leading buckets before a
    * key's first observation within its own range cannot be null by
    * construction (the range starts at an observed bucket). */
  def resampleFfill(df: DataFrame, key: String, tsSec: Column, value: Column,
                    tieBreak: Column, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    val withB = df.withColumn("__es", tsSec)
      .withColumn("__bkt", floor(col("__es") / stepSeconds).cast("long"))
    val wLast = Window.partitionBy(col(key), col("__bkt"))
      .orderBy(col("__es").desc, tieBreak.desc)
    val obs = withB.withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") === 1)
      .select(col(key), col("__bkt").as("bucket"), value.as("__v"))
    val grid = withB.groupBy(col(key))
      .agg(min(col("__bkt")).as("__lo"), max(col("__bkt")).as("__hi"))
      .select(col(key), explode(sequence(col("__lo"), col("__hi"))).as("bucket"))
    val wf = Window.partitionBy(col(key)).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq(key, "bucket"), "left")
      .withColumn("value_ffill", last(col("__v"), ignoreNulls = true).over(wf))
      .withColumn("observed", col("__v").isNotNull)
      .select(col(key), (col("bucket") * stepSeconds).as("bucket_start"),
        col("value_ffill"), col("observed"))
  }

  /** SCD-2 history build — collapse a per-key event stream into validity
    * intervals for a tracked attribute: one row per VALUE RUN with
    * `valid_from` (first ts of the run), `valid_to` (start of the next run,
    * NULL while current) and `is_current`. The slowly-changing-dimension
    * shape every warehouse derives from a change log (reference analog: the
    * task status event stream, init.sql:64-65, viewed as versioned rows
    * instead of W1's latest-only).
    *
    * Two key-partitioned windows (lag to find run starts, lead over run
    * starts for the closing timestamp) — never global; ties broken by the
    * caller's tie column so replays are stable. */
  def scd2(events: DataFrame, keyCol: String, tsCol: String, attrCol: String,
           tieBreak: Column): DataFrame = {
    val wAll = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc, tieBreak.asc)
    val runs = events
      .withColumn("__prev", lag(col(attrCol), 1).over(wAll))
      // run start = first event of the key, or a value change (null-safe)
      .filter(col("__prev").isNull || !(col("__prev") <=> col(attrCol)))
    val wRuns = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc, tieBreak.asc)
    runs
      .withColumn("valid_to", lead(col(tsCol), 1).over(wRuns))
      .select(col(keyCol), col(attrCol), col(tsCol).as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  /** Deterministic per-group mode — most frequent value with an explicit
    * (count desc, value asc) tie-break, because the built-in `mode` leaves
    * ties engine- and partition-order-dependent (unusable under an
    * exact-hash contract). Two hash aggregates + one WindowGroupLimit-shaped
    * rank over the (group, value) count table — bounded by value
    * cardinality, never a data-sized window. */
  def modePerGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("n").desc, col(valueCol).asc)
    counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(groupCol), col(valueCol).as("mode_value"), col("n"))
  }

  /** Daily active users + cumulative distinct users — the growth-accounting
    * pair. Cumulative COUNT(DISTINCT) is deliberately NOT a running
    * distinct over the event stream (unbounded state): a user contributes
    * to the cumulative series exactly once, on their FIRST day, so the
    * series is the running sum of first-seen counts — two hash aggregates
    * and one window over the day-level table, whose size is the time span,
    * not the event count. */
  def activeUsers(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(countDistinct(col(keyCol)).as("dau"))
    val firstSeen = events.groupBy(col(keyCol))
      .agg(min(to_date(col(tsCol))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("__new"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(firstSeen, Seq("day"), "left")
      .withColumn("cumulative_users",
        sum(coalesce(col("__new"), lit(0L))).over(w))
      .select(col("day"), col("dau"), col("cumulative_users"))
  }

  /** Gaps-and-islands — longest consecutive-day activity streak per key
    * (the engagement metric next to DAU: "7-day streak" badges, churn-risk
    * run lengths). Classic island labeling: dedupe to the (key, day) grain,
    * then `day − row_number()` is constant within a consecutive run — a
    * pure per-key window over the DAY-level table (bounded by the time
    * span, not the event count, the activeUsers discipline), followed by
    * two hash aggregates. Returns (key, best_streak, n_streaks,
    * active_days); tie between equal-length streaks is irrelevant because
    * only the max length is reported. */
  def activityStreaks(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = events.select(col(keyCol), to_date(col(tsCol)).as("day")).distinct()
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
    val islands = daily
      .withColumn("__grp", datediff(col("day"), lit("1995-01-01")) -
        row_number().over(w))
      .groupBy(col(keyCol), col("__grp"))
      .agg(count(lit(1)).as("__len"))
    islands.groupBy(col(keyCol))
      .agg(max(col("__len")).as("best_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("__len")).as("active_days"))
  }

  /** Rolling N-day distinct active users — the WAU/MAU sibling of
    * [[activeUsers]]. A sliding COUNT(DISTINCT) is NOT computed as a
    * window-distinct over events (unbounded state, and Spark has no
    * distinct-over-range window): dedupe to the (key, day) grain, explode
    * each pair to the N window-END days it contributes to, dedupe again,
    * and count — two hash aggregates over a table bounded by N·|key-days|,
    * the standard contribution-explode rewrite. Window-end days outside the
    * observed day set are dropped (semi-join with the day dimension). */
  def rollingActiveUsers(events: DataFrame, keyCol: String, tsCol: String,
                         windowDays: Int): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val daily = events.select(col(keyCol), to_date(col(tsCol)).as("day")).distinct()
    val days = daily.select(col("day").as("win_day")).distinct()
    val contrib = daily
      .select(col(keyCol), explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1))).as("win_day"))
      .distinct()
    contrib.join(days, Seq("win_day"), "left_semi")
      .groupBy(col("win_day"))
      .agg(count(lit(1)).as("active_users"))
  }

  /** Event-type transition matrix (first-order Markov) — the behavior-flow
    * view product analytics builds next to the funnel: for every ordered
    * pair of event types, how often does one IMMEDIATELY follow the other
    * within a user's stream, and with what conditional probability
    * p(to|from). Successor pairs come from one key-partitioned `lead`
    * window (same shape as SCD-2/sessionize — never a self-join); the
    * matrix itself is bounded by |types|², so the row-normalizing window
    * over it is safe at any input scale. Probabilities are one double
    * division of exact counts, rounded to the 6-dp contract. */
  def markovTransitions(events: DataFrame, keyCol: String, tsCol: String,
                        typeCol: String, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc, tieBreak.asc)
    events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"), 6))
  }

  /** Ordered funnel analysis — how many users completed stage 1, then
    * stage 2 STRICTLY AFTER their first stage-1 event, then stage 3 after
    * that (the product-analytics conversion funnel; order matters, a
    * purchase before the first view does not count). Implemented as the
    * chained min-after shape: per-stage per-user `min(ts)` constrained to
    * follow the previous stage's timestamp — one hash aggregate + one
    * equi-join per stage, no windows, no per-user event sorting. Returns
    * one row per funnel depth 1..stages.size with the user count reaching
    * it (depth d counts users who completed stages 1..d in order).
    *
    * Scale shape: each stage is a key-partitioned aggregate over only that
    * stage's events (filter pushed to the scan); joins are user-key
    * shuffles. Stage count is a query constant, so the chain length is
    * fixed — never a per-user sequence scan. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    val reached: Seq[DataFrame] = stages.zipWithIndex
      .foldLeft(Nil: List[DataFrame]) { case (acc, (stage, i)) =>
        val evs = events.filter(col(typeCol) === stage)
          .select(col(userCol).as("__u"), col(tsCol).as("__ts"))
        val cur = acc match {
          case Nil =>
            evs.groupBy(col("__u")).agg(min(col("__ts")).as(s"__t$i"))
          case prev :: _ =>
            evs.join(prev.select(col("__u"), col(s"__t${i - 1}")), Seq("__u"))
              .filter(col("__ts") > col(s"__t${i - 1}"))
              .groupBy(col("__u")).agg(min(col("__ts")).as(s"__t$i"))
        }
        cur :: acc
      }.reverse
    reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("depth"), lit(stages(i)).as("stage"), col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Weekly cohort retention — the (cohort, week-offset) → active-user
    * matrix behind every retention curve: a user's cohort is the epoch week
    * of their FIRST event; for each later event the offset is its epoch
    * week minus the cohort week. Integer epoch-week arithmetic
    * (`floor(epoch / 604800)`) keeps the bucketing engine-exact where
    * calendar week truncation would not be. One per-user min aggregate +
    * one equi-join back + one distinct-count aggregate — all user-key
    * shuffles, nothing broadcast, no windows. */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val weeks = events.select(col(userCol).as("__u"),
      floor(col(tsCol).cast("long") / 604800L).cast("long").as("__w"))
    val cohorts = weeks.groupBy(col("__u")).agg(min(col("__w")).as("cohort_week"))
    weeks.join(cohorts, Seq("__u"))
      .select(col("__u"), col("cohort_week"),
        (col("__w") - col("cohort_week")).as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("__u")).as("n_users"))
  }

  /** First/last-touch attribution — for every conversion event, the
    * earliest and latest touch event by the same key within the trailing
    * `horizonSeconds` window (touch at the conversion instant included,
    * the RANGE-frame convention). Conversions with no touch in the window
    * keep NULL attributions — the row is the fact, the touch is optional.
    *
    * Scale shape: ONE key-partitioned RANGE window over epoch micros —
    * no conversions×touches join to blow up, state bounded by per-key
    * horizon density. min/max over (ts, id) structs give the extreme
    * touch with a total-order tie-break in the same pass. */
  def touchAttribution(df: DataFrame, key: String, ts: String,
                       typeCol: String, idCol: String, convType: String,
                       touchType: String, horizonSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(unix_micros(col(ts)))
      .rangeBetween(-horizonSeconds * 1000000L, 0)
    val touch = when(col(typeCol) === touchType,
      struct(unix_micros(col(ts)).as("t"), col(idCol).as("id")))
    df.withColumn("__first", min(touch).over(w))
      .withColumn("__last", max(touch).over(w))
      .filter(col(typeCol) === convType)
      .select(col(idCol).as("conv_id"), col(key), col(ts).as("conv_ts"),
        col("__first.id").as("first_touch_id"),
        col("__last.id").as("last_touch_id"))
  }

  /** Data-driven data-quality rule engine: rules arrive as DATA
    * (rule_id, column, op, arg — the shape a governance team maintains in a
    * table), not as code. Every rule is evaluated in ONE scan of the fact
    * table: the bounded rule list is folded into an array of per-rule
    * violation flags, exploded, and aggregated — never a scan per rule.
    * NULL semantics are explicit and uniform: a NULL that the predicate
    * cannot prove compliant is a violation (`NOT coalesce(pred, false)`),
    * except `not_null` which tests the null itself.
    *
    * Supported ops: not_null; gt / ge (numeric, arg = threshold);
    * in (arg = '|'-joined domain); regex (RE2-safe pattern, identical
    * semantics in Spark and DuckDB with ^$ anchors); between
    * (arg = 'lo|hi', inclusive).
    *
    * Scale shape: rule list is dimension-sized by construction (collected
    * to the driver ONCE at plan-build time — it is metadata, not data);
    * the fact table streams through a single whole-stage-codegen'd
    * projection + one hash aggregate over |rules| groups. */
  def dataRuleAudit(df: DataFrame,
                    rules: Seq[(String, String, String, String)]): DataFrame = {
    def pred(c: Column, op: String, arg: String): Column = op match {
      case "not_null" => c.isNotNull
      case "gt"       => c > lit(arg.toDouble)
      case "ge"       => c >= lit(arg.toDouble)
      case "in"       => c.isin(arg.split('|').toSeq: _*)
      case "regex"    => c.rlike(arg)
      case "between"  =>
        val Array(lo, hi) = arg.split('|'); c >= lit(lo) && c <= lit(hi)
    }
    val flags = rules.map { case (id, column, op, arg) =>
      struct(lit(id).as("rule_id"), lit(column).as("column_name"),
        (!coalesce(pred(col(column), op, arg), lit(false)))
          .cast("int").as("viol"))
    }
    df.select(explode(array(flags: _*)).as("r"))
      .groupBy(col("r.rule_id").as("rule_id"),
        col("r.column_name").as("column_name"))
      .agg(count(lit(1)).as("n_checked"),
        sum(col("r.viol")).as("n_violations"))
      .withColumn("violation_rate",
        round(col("n_violations").cast("double") /
          col("n_checked").cast("double"), 6) + lit(0.0d))
  }
}
