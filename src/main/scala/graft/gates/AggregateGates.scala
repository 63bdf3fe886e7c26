package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Relational => R}
import Gate.D

/** Grouped aggregation: rollups, cubes, pivots, column profiles,
  * histograms, sketches, business metrics and privacy audits. */
object AggregateGates {
  /** Shared verbatim by the Spark SQL surface (q104) and its DuckDB oracle:
    * explicit GROUPING SETS — per-status totals, per-year totals, and the
    * grand total in one aggregate pass (Spark expands to one Expand + one
    * hash aggregate; never three scans). */
  private val GroupingSetsSql: String =
    """SELECT o_orderstatus, cast(year(o_orderdate) AS bigint) AS yr,
       count(*) AS n,
       cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (yr), ())"""

  val gates: Seq[Gate] = Seq(
    // ---- aggregation core (SURVEY §2.4) ----
    Gate("q01_pricing_summary", (s, dir) => {
      // A1/A5 analog at TPC-H Q1 shape: single shuffle, map-side partials.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(D)).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
      oracle = """SELECT l_returnflag, l_linestatus,
         cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
         cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
         cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))) as double) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus"""),
    Gate("q07_rollup_status", (s, dir) =>
      R.rollupCount(Tables.events(s, dir), "event_type"),
      oracle = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"),
    Gate("q08_time_buckets", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(D)).cast("double").as("sum_value")),
      oracle = """SELECT cast(date_trunc('day', ts) as date) AS day, event_type,
         count(*) AS n, cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
         FROM events GROUP BY 1, 2"""),
    Gate("q15_bbox_agg", (s, dir) => {
      // A3 bbox per group over derived integer coordinates (exact arithmetic).
      val li = Tables.lineitem(s, dir)
        .withColumn("lon", (col("l_partkey") * 7 % 360 - 180).cast("long"))
        .withColumn("lat", (col("l_suppkey") * 13 % 180 - 90).cast("long"))
      R.bboxAgg(li, Seq("l_returnflag"), col("lon"), col("lat"))
    },
      oracle = """SELECT l_returnflag,
         min(lon) AS min_lon, max(lon) AS max_lon,
         min(lat) AS min_lat, max(lat) AS max_lat
         FROM (SELECT l_returnflag,
                 cast(l_partkey * 7 % 360 - 180 as bigint) AS lon,
                 cast(l_suppkey * 13 % 180 - 90 as bigint) AS lat
               FROM lineitem) t GROUP BY l_returnflag"""),
    Gate("q28_validation_split", (s, dir) =>
      // P13 CHECK-constraint predicate as a validation rollup.
      Tables.events(s, dir)
        .groupBy(col("value").between(0, 100).as("valid"))
        .agg(count(lit(1)).as("n")),
      oracle = """SELECT value BETWEEN 0 AND 100 AS valid, count(*) AS n
         FROM events GROUP BY 1"""),

    // ---- A6: progress rollup (deterministic derived mean) ----
    Gate("q61_progress_rollup", (s, dir) =>
      R.progressRollup(
        Tables.events(s, dir).withColumn("p", col("value").cast(D)),
        "event_type", "p")
        .select(col("event_type"), col("avg_progress"),
          col("min_progress").cast("double").as("min_progress"),
          col("max_progress").cast("double").as("max_progress")),
      oracle = """SELECT event_type,
         cast(sum(cast(value as decimal(18,2))) as double) / count(*) AS avg_progress,
         cast(min(cast(value as decimal(18,2))) as double) AS min_progress,
         cast(max(cast(value as decimal(18,2))) as double) AS max_progress
         FROM events GROUP BY event_type"""),

    // ---- A: cube (completes rollup/grouping-sets/pivot family) ----
    Gate("q135_cube", (s, dir) =>
      Tables.documents(s, dir)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("total_chars")),
      oracle = """SELECT lang, source, count(*) AS n,
           cast(sum(n_chars) AS bigint) AS total_chars
         FROM documents GROUP BY CUBE (lang, source)"""),

    // ---- A: unpivot/melt — wide measure columns back to long rows ----
    Gate("q150_unpivot", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_tax").cast("double").as("tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("tax")),
          "measure", "value"),
      // unpivot = stacked UNION ALL; measure names are the Spark-side column
      // aliases, values cast to the common double type on both sides
      oracle = """SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           cast(l_quantity AS double) AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'extendedprice' AS measure,
           cast(l_extendedprice AS double) AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'tax' AS measure,
           cast(l_tax AS double) AS value FROM lineitem"""),

    // ---- A: market-basket co-purchase top-k (item-item recommendation) ----
    Gate("q151_copurchase", (s, dir) =>
      graft.operators.Analyses.coPurchasePairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", k = 5),
      // co-purchase: within-basket a<b pairs, symmetric re-orientation, top-k
      // per item on (n_co desc, other asc) — a total order, so row_number is
      // deterministic on both engines
      oracle = """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
             FROM lineitem),
         pairs AS (SELECT a.item AS item, c.item AS other, count(*) AS n_co
           FROM b a JOIN b c ON a.ok = c.ok AND a.item < c.item GROUP BY 1, 2),
         sym AS (SELECT item, other, n_co FROM pairs
           UNION ALL SELECT other AS item, item AS other, n_co FROM pairs),
         rk AS (SELECT item, other, n_co, row_number() OVER (
             PARTITION BY item ORDER BY n_co DESC, other) AS rnk FROM sym)
         SELECT item, other, n_co, rnk FROM rk WHERE rnk <= 5"""),

    // ---- A: 2-D skyline / Pareto frontier ----
    Gate("q159_skyline", (s, dir) =>
      graft.operators.Analyses.skyline2D(
        Tables.part(s, dir), "p_retailprice", "p_size"),
      // skyline: dominance NOT EXISTS over the distinct-pair grain
      oracle = """WITH pairs AS (SELECT p_retailprice, p_size, count(*) AS n
           FROM part GROUP BY 1, 2)
         SELECT p_retailprice, p_size, n FROM pairs t
         WHERE NOT EXISTS (SELECT 1 FROM pairs o
           WHERE o.p_retailprice <= t.p_retailprice AND o.p_size >= t.p_size
             AND (o.p_retailprice < t.p_retailprice OR o.p_size > t.p_size))"""),

    // ---- A/W: per-group weighted median ----
    Gate("q160_weighted_median", (s, dir) =>
      graft.operators.Analyses.weightedMedian(
        Tables.lineitem(s, dir), "l_suppkey", "l_extendedprice", "l_quantity"),
      // weighted median: smallest v with 2·cumw ≥ total, exact decimal
      // weights at the (group, value) grain
      oracle = """WITH grain AS (SELECT l_suppkey, l_extendedprice AS v,
             sum(cast(l_quantity AS decimal(18,2))) AS wv
           FROM lineitem WHERE cast(l_quantity AS decimal(18,2)) > 0
           GROUP BY 1, 2),
         c AS (SELECT l_suppkey, v,
             sum(wv) OVER (PARTITION BY l_suppkey ORDER BY v) AS cum,
             sum(wv) OVER (PARTITION BY l_suppkey) AS tot FROM grain)
         SELECT l_suppkey, min(v) AS wmedian FROM c
         WHERE cum * 2 >= tot GROUP BY 1"""),

    // ---- A: one-pass column profiler (long-form data-quality report) ----
    Gate("q161_profile", (s, dir) =>
      graft.operators.Analyses.profileColumns(Tables.lineitem(s, dir),
        numCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        strCols = Seq("l_returnflag", "l_linestatus")),
      // profiler: per-column stats as UNION ALL branches; numeric min/max as
      // double, string min/max lexicographic (ASCII-only columns)
      oracle = """SELECT 'l_quantity' AS col_name, count(l_quantity) AS n_nonnull,
           count(DISTINCT l_quantity) AS n_distinct,
           cast(min(l_quantity) AS double) AS min_num,
           cast(max(l_quantity) AS double) AS max_num,
           cast(NULL AS varchar) AS min_str, cast(NULL AS varchar) AS max_str
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', count(l_extendedprice),
           count(DISTINCT l_extendedprice),
           cast(min(l_extendedprice) AS double),
           cast(max(l_extendedprice) AS double),
           cast(NULL AS varchar), cast(NULL AS varchar) FROM lineitem
         UNION ALL
         SELECT 'l_discount', count(l_discount), count(DISTINCT l_discount),
           cast(min(l_discount) AS double), cast(max(l_discount) AS double),
           cast(NULL AS varchar), cast(NULL AS varchar) FROM lineitem
         UNION ALL
         SELECT 'l_tax', count(l_tax), count(DISTINCT l_tax),
           cast(min(l_tax) AS double), cast(max(l_tax) AS double),
           cast(NULL AS varchar), cast(NULL AS varchar) FROM lineitem
         UNION ALL
         SELECT 'l_returnflag', count(l_returnflag),
           count(DISTINCT l_returnflag), cast(NULL AS double),
           cast(NULL AS double), min(l_returnflag), max(l_returnflag)
         FROM lineitem
         UNION ALL
         SELECT 'l_linestatus', count(l_linestatus),
           count(DISTINCT l_linestatus), cast(NULL AS double),
           cast(NULL AS double), min(l_linestatus), max(l_linestatus)
         FROM lineitem"""),

    // ---- A: per-group Shannon entropy (stream-mix diagnostics) ----
    Gate("q162_entropy", (s, dir) =>
      graft.operators.Analyses.groupEntropy(
        Tables.events(s, dir), "user_id", "event_type"),
      // entropy: −Σ p·ln p, per-term 6-dp rounded, exact decimal sum (the
      // q127 KL discipline)
      oracle = """WITH gc AS (SELECT user_id, event_type, count(*) AS c
           FROM events GROUP BY 1, 2),
         n AS (SELECT user_id, cast(sum(c) AS bigint) AS n FROM gc GROUP BY 1)
         SELECT user_id, max(n) AS n_events,
           count(DISTINCT event_type) AS n_cats,
           cast(sum(cast(round(-(cast(c AS double) / cast(n AS double)) *
             ln(cast(c AS double) / cast(n AS double)), 6)
             AS decimal(18,6))) AS double) AS entropy
         FROM gc JOIN n USING (user_id) GROUP BY user_id"""),

    // ---- A: per-group equi-depth histogram (quantile profile) ----
    Gate("q164_equidepth", (s, dir) =>
      graft.operators.Analyses.equiDepthHistogram(
        Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice", buckets = 8),
      // equi-depth: bucket = (cum−c)·B div tot, pure integer arithmetic over
      // the (group, value) distribution grain
      oracle = """WITH grain AS (SELECT l_returnflag, l_extendedprice AS v,
             count(*) AS c FROM lineitem GROUP BY 1, 2),
         cumt AS (SELECT l_returnflag, v, c,
             sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY l_returnflag) AS tot FROM grain)
         SELECT l_returnflag,
           cast(((cum - c) * 8) // tot AS bigint) AS bucket,
           cast(sum(c) AS bigint) AS n_rows, min(v) AS v_min, max(v) AS v_max
         FROM cumt GROUP BY 1, 2"""),

    // ---- A/J: period-over-period cohort diff (churned / new / retained) ----
    Gate("q167_churn", (s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("ts") >= lit("2024-01-01") &&
        col("ts") < lit("2024-01-15")).select("user_id").distinct()
      val b = ev.filter(col("ts") >= lit("2024-01-15")).select("user_id").distinct()
      a.join(b, Seq("user_id"), "left_semi").withColumn("status", lit("retained"))
        .unionByName(a.join(b, Seq("user_id"), "left_anti")
          .withColumn("status", lit("churned")))
        .unionByName(b.join(a, Seq("user_id"), "left_anti")
          .withColumn("status", lit("new")))
    },
      // churn: distinct-actives set algebra across two periods
      oracle = """WITH a AS (SELECT DISTINCT user_id FROM events
           WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'),
         b AS (SELECT DISTINCT user_id FROM events
           WHERE ts >= TIMESTAMP '2024-01-15')
         SELECT user_id, 'retained' AS status FROM a
           WHERE EXISTS (SELECT 1 FROM b WHERE b.user_id = a.user_id)
         UNION ALL
         SELECT user_id, 'churned' FROM a
           WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.user_id = a.user_id)
         UNION ALL
         SELECT user_id, 'new' FROM b
           WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.user_id = b.user_id)"""),

    // ---- A: association rules (support / confidence / lift) ----
    Gate("q171_assoc_rules", (s, dir) =>
      graft.operators.Analyses.associationRules(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minCo = 2),
      // association rules: every statistic ONE division of exact integer
      // counts (lift = n_co*N / n_item*n_other) — bit-identical, no rounding
      oracle = """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
             FROM lineitem),
         pairs AS (SELECT a.item AS item, c.item AS other, count(*) AS n_co
           FROM b a JOIN b c ON a.ok = c.ok AND a.item < c.item
           GROUP BY 1, 2 HAVING count(*) >= 2),
         sym AS (SELECT item, other, n_co FROM pairs
           UNION ALL SELECT other AS item, item AS other, n_co FROM pairs),
         supp AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
         tot AS (SELECT count(DISTINCT ok) AS n_baskets FROM b)
         SELECT item, other, n_co,
           cast(n_co AS double) / cast(n_baskets AS double) AS support,
           cast(n_co AS double) / cast(n_item AS double) AS confidence,
           cast(n_co * n_baskets AS double) /
             cast(n_item * n_other AS double) AS lift
         FROM sym JOIN supp USING (item)
         JOIN (SELECT item AS other, n_item AS n_other FROM supp) USING (other)
         CROSS JOIN tot"""),

    // ---- A/L: monthly trending parts (top-k per period) ----
    Gate("q173_monthly_top_parts", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), date_trunc("month", col("o_orderdate")).as("month"))
      val cnt = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("month"), col("l_partkey")).agg(count(lit(1)).as("n_lines"))
      val w = Window.partitionBy(col("month"))
        .orderBy(col("n_lines").desc, col("l_partkey").asc)
      cnt.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
    },
      // trending: per-month part counts, top-5 on (n desc, partkey)
      oracle = """WITH cnt AS (SELECT date_trunc('month', o_orderdate) AS month,
             l_partkey, count(*) AS n_lines
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY month
             ORDER BY n_lines DESC, l_partkey ASC) AS rnk FROM cnt)
         SELECT month, l_partkey, n_lines, rnk FROM r WHERE rnk <= 5"""),

    // ---- A: ABC/Pareto classification (two-level global prefix sum) ----
    Gate("q182_pareto_class", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(D) *
          (lit(1) - col("l_discount").cast(D))).as("rev"))
      graft.operators.Analyses.paretoClass(rev, "l_partkey", "rev")
    },
      // Pareto/ABC: oracle's ONE global window equals the engine's two-level
      // range-partitioned prefix sum exactly (associative decimal addition);
      // 80/95 cuts as exact integer-multiply compares
      oracle = """WITH rev AS (SELECT l_partkey,
             sum(cast(l_extendedprice AS decimal(18,2)) *
               (1 - cast(l_discount AS decimal(18,2)))) AS v
           FROM lineitem GROUP BY 1),
         t AS (SELECT sum(v) AS total FROM rev),
         r AS (SELECT l_partkey, v, sum(v) OVER (ORDER BY v DESC, l_partkey
             ROWS UNBOUNDED PRECEDING) AS cum FROM rev)
         SELECT l_partkey, cast(v AS double) AS value,
           CASE WHEN cum * 10 <= total * 8 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc_class
         FROM r CROSS JOIN t"""),

    // ---- A: per-group Gini coefficient (concentration diagnostic) ----
    Gate("q183_gini", (s, dir) =>
      graft.operators.Analyses.giniByGroup(
        Tables.customer(s, dir).filter(col("c_acctbal") > 0),
        "c_nationkey", "c_acctbal", col("c_custkey")),
      // Gini: exact decimal·rank sums, ONE final division of identical doubles
      oracle = """WITH t AS (SELECT c_nationkey AS g,
             cast(c_acctbal AS decimal(18,2)) AS v,
             cast(row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal ASC, c_custkey ASC) AS bigint) AS i
           FROM customer WHERE c_acctbal > 0)
         SELECT g AS c_nationkey, count(*) AS n,
           cast(sum(v) AS double) AS total,
           cast(sum(v * i) * 2 - sum(v) * (count(*) + 1) AS double) /
             cast(sum(v) * count(*) AS double) AS gini
         FROM t GROUP BY 1 HAVING sum(v) > 0"""),

    // ---- A: ratio-to-parent rollup (nation share of region + global) ----
    Gate("q194_ratio_to_parent", (s, dir) => {
      val rn = Tables.nation(s, dir)
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
      val nrev = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(rn), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(D) *
          (lit(1) - col("l_discount").cast(D))).as("__rev"))
      // parent/global totals re-aggregate the nation grain (dimension-sized
      // BY NATURE) — shares are single divisions of exact-decimal doubles
      val rrev = nrev.groupBy(col("r_name")).agg(sum(col("__rev")).as("__rrev"))
      val grev = nrev.agg(sum(col("__rev")).as("__grev"))
      nrev.join(broadcast(rrev), Seq("r_name")).crossJoin(broadcast(grev))
        .select(col("r_name"), col("n_name"),
          col("__rev").cast("double").as("revenue"),
          (col("__rev").cast("double") / col("__rrev").cast("double"))
            .as("share_of_region"),
          (col("__rev").cast("double") / col("__grev").cast("double"))
            .as("share_of_total"))
    },
      // ratio-to-parent: shares are single divisions of exact-decimal sums
      oracle = """WITH nrev AS (SELECT r_name, n_name,
             sum(cast(l_extendedprice AS decimal(18,2)) *
               (1 - cast(l_discount AS decimal(18,2)))) AS rev
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2),
         rrev AS (SELECT r_name, sum(rev) AS rrev FROM nrev GROUP BY 1),
         grev AS (SELECT sum(rev) AS grev FROM nrev)
         SELECT nrev.r_name, n_name, cast(rev AS double) AS revenue,
           cast(rev AS double) / cast(rrev AS double) AS share_of_region,
           cast(rev AS double) / cast(grev AS double) AS share_of_total
         FROM nrev JOIN rrev ON nrev.r_name = rrev.r_name CROSS JOIN grev"""),

    // ---- A/L: top-k per group with OTHERS rollup ----
    Gate("q210_topk_others", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(D) *
          (lit(1) - col("l_discount").cast(D))).as("__rev"))
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("__rev").desc, col("l_partkey").asc)
      val ranked = rev.withColumn("__rnk", row_number().over(w))
      val top = ranked.filter(col("__rnk") <= 5)
        .select(col("s_nationkey"), col("l_partkey").cast("string").as("part"),
          col("__rev").cast("double").as("revenue"))
      val others = ranked.filter(col("__rnk") > 5)
        .groupBy(col("s_nationkey"))
        .agg(sum(col("__rev")).cast("double").as("revenue"))
        .select(col("s_nationkey"), lit("OTHERS").as("part"), col("revenue"))
      top.unionByName(others)
    },
      // top-k with OTHERS: window cut + residual rollup
      oracle = """WITH rev AS (SELECT s_nationkey, l_partkey,
             sum(cast(l_extendedprice AS decimal(18,2)) *
               (1 - cast(l_discount AS decimal(18,2)))) AS rev
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY s_nationkey
             ORDER BY rev DESC, l_partkey ASC) AS rnk FROM rev)
         SELECT s_nationkey, cast(l_partkey AS varchar) AS part,
           cast(rev AS double) AS revenue
         FROM r WHERE rnk <= 5
         UNION ALL
         SELECT s_nationkey, 'OTHERS' AS part,
           cast(sum(rev) AS double) AS revenue
         FROM r WHERE rnk > 5 GROUP BY 1"""),

    // ---- A: leave-one-out target encoding (leakage-safe feature) ----
    Gate("q216_target_encoding", (s, dir) => {
      // enc_i = (Σ_cat y − y_i) / (n_cat − 1): numerator exact decimal,
      // ONE division; single-member categories yield null (no self-leak)
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          col("value").cast(D).as("__y"))
      val agg = e.groupBy(col("event_type"))
        .agg(sum(col("__y")).as("__s"), count(lit(1)).as("__n"))
      e.join(agg, Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          when(col("__n") > 1, round(
            (col("__s") - col("__y")).cast("double") /
              (col("__n") - 1).cast("double"), 6)).as("loo_enc"))
    },
      // LOO target encoding: exact-decimal numerator, one division
      oracle = """WITH e AS (SELECT event_id, event_type,
             cast(value AS decimal(18,2)) AS y FROM events),
         a AS (SELECT event_type, sum(y) AS s, count(*) AS n
           FROM e GROUP BY 1)
         SELECT event_id, e.event_type,
           CASE WHEN n > 1 THEN round(cast(s - y AS double) /
             cast(n - 1 AS double), 6) END AS loo_enc
         FROM e JOIN a ON e.event_type = a.event_type"""),

    // ---- A: k-anonymity audit over quasi-identifiers ----
    Gate("q217_k_anonymity", (s, dir) =>
      // groups of quasi-identifiers smaller than k are re-identification
      // risks — the privacy audit an export pipeline runs before release
      Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"), col("c_nationkey"),
          expr("cast(floor(c_acctbal / 1000) as bigint)").as("bal_band"))
        .agg(count(lit(1)).as("group_size"))
        .filter(col("group_size") < 5),
      // k-anonymity: small quasi-identifier groups
      oracle = """SELECT c_mktsegment, c_nationkey,
           cast(floor(c_acctbal / 1000) AS bigint) AS bal_band,
           count(*) AS group_size
         FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 5"""),

    // ---- A: join-key skew report (scale-planning diagnostic) ----
    Gate("q219_skew_report", (s, dir) => {
      // per candidate shuffle key: cardinality, hottest-key share, and the
      // max/mean ratio that predicts reducer imbalance — the numbers that
      // decide salting/AQE-skew config before a 100 TB run
      def keyStats(keyCol: String) = Tables.lineitem(s, dir)
        .groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("__c"))
        .agg(lit(keyCol).as("join_key"), count(lit(1)).as("n_keys"),
          sum(col("__c")).as("n_rows"), max(col("__c")).as("max_cnt"))
        .select(col("join_key"), col("n_keys"), col("max_cnt"),
          round(col("n_rows").cast("double") / col("n_keys").cast("double"), 6)
            .as("mean_cnt"),
          round(col("max_cnt").cast("double") * col("n_keys").cast("double") /
            col("n_rows").cast("double"), 6).as("skew_ratio"))
      keyStats("l_suppkey").unionByName(keyStats("l_partkey"))
        .unionByName(keyStats("l_orderkey"))
    },
      // skew report: per-key count table -> one summary row per key column
      oracle = """WITH s AS (SELECT 'l_suppkey' AS join_key, count(*) AS c
             FROM lineitem GROUP BY l_suppkey),
         p AS (SELECT 'l_partkey' AS join_key, count(*) AS c
             FROM lineitem GROUP BY l_partkey),
         o AS (SELECT 'l_orderkey' AS join_key, count(*) AS c
             FROM lineitem GROUP BY l_orderkey),
         u AS (SELECT * FROM s UNION ALL SELECT * FROM p
           UNION ALL SELECT * FROM o)
         SELECT join_key, count(*) AS n_keys, max(c) AS max_cnt,
           round(cast(sum(c) AS double) / cast(count(*) AS double), 6)
             AS mean_cnt,
           round(cast(max(c) AS double) * cast(count(*) AS double) /
             cast(sum(c) AS double), 6) AS skew_ratio
         FROM u GROUP BY 1"""),

    // ---- A: utilization heatmap (dow × hour with share-of-day) ----
    Gate("q224_usage_heatmap", (s, dir) => {
      val e = Tables.events(s, dir)
        .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      val cell = e.groupBy(col("dow"), col("hod"))
        .agg(count(lit(1)).as("n"))
      val day = cell.groupBy(col("dow")).agg(sum(col("n")).as("__d"))
      cell.join(day, Seq("dow"))
        .select(col("dow"), col("hod"), col("n"),
          (col("n").cast("double") / col("__d").cast("double"))
            .as("share_of_day"))
    },
      // heatmap: 2-d rollup + share-of-parent division
      oracle = """WITH cell AS (SELECT cast(dayofweek(ts) + 1 AS int) AS dow,
             cast(hour(ts) AS int) AS hod, count(*) AS n
           FROM events GROUP BY 1, 2),
         day AS (SELECT dow, sum(n) AS d FROM cell GROUP BY 1)
         SELECT cell.dow, hod, n,
           cast(n AS double) / cast(d AS double) AS share_of_day
         FROM cell JOIN day ON cell.dow = day.dow"""),

    // ---- A: exponentially-decayed popularity (recency-weighted counts) ----
    Gate("q228_decayed_popularity", (s, dir) => {
      // the feature-store staple: counts where each event contributes
      // 2^(-age/halflife) — one scan + one agg, the anchor timestamp is a
      // 1-row broadcast. Decay terms are 6dp-rounded then summed EXACTLY in
      // decimal (the kaplanMeier ln-sum discipline) so the sum is
      // order-independent across engines and partitionings.
      val e = Tables.events(s, dir)
      val anchor = e.agg(max(col("ts")).as("__mts"))
      e.crossJoin(broadcast(anchor))
        .withColumn("__w",
          round(pow(lit(0.5d),
            (unix_micros(col("__mts")) - unix_micros(col("ts"))) /
              lit(86400000000.0d) / lit(7.0d)), 6).cast("decimal(18,6)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("__w")).cast("double").as("decayed_count"))
    },
      // decayed popularity: mirrored pow tree, 6dp terms, exact decimal sum
      oracle = """WITH m AS (SELECT max(ts) AS mts FROM events)
         SELECT event_type, count(*) AS n_events,
           cast(sum(cast(round(pow(0.5,
             (epoch_us(mts) - epoch_us(ts)) / 86400000000.0 / 7.0), 6)
             AS decimal(18,6))) AS double) AS decayed_count
         FROM events, m GROUP BY event_type"""),

    // ---- A: HLL sketch accuracy gate (approx distinct within bound) ----
    Gate("q230_hll_accuracy", (s, dir) =>
      // the 100 TB cardinality path is the HLL++ sketch (mergeable, fixed
      // size); this gate runs sketch and exact side by side and asserts the
      // sketch lands within 3× its 5% rsd — the oracle can't run Spark's
      // HLL, so the CONTRACT (exact value + bound holds) is what's gated.
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("__a"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("__a") - col("n_exact")) <=
            lit(0.15d) * col("n_exact").cast("double")).as("within_bound")),
      // HLL gate: the oracle carries the exact side + the contract boolean
      oracle = """SELECT event_type, count(DISTINCT user_id) AS n_exact,
         true AS within_bound
         FROM events GROUP BY event_type"""),

    // ---- EXT: group-median imputation (data repair) ----
    Gate("q265_impute_median", (s, dir) => {
      // the standard repair pass: values flagged missing (deterministic
      // %17 mask here) impute to the group median, with the imputation
      // VOLUME reported per group — repairs must be auditable. Median over
      // 2dp values interpolates identically in both engines; the repaired
      // mean is assembled in ONE mirrored expression from the exact
      // decimal sum of surviving values.
      val e = Tables.events(s, dir).select(col("event_type"),
        col("value").cast(D).as("v"),
        (col("event_id") % 17 === 0).as("miss"))
      val med = e.filter(!col("miss"))
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(cast(v AS double), 0.5)"), 6)
          .as("med"))
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("miss"), 1L).otherwise(0L)).as("n_imputed"),
          sum(when(!col("miss"), col("v")).otherwise(lit(0).cast(D)))
            .cast("double").as("__s"))
        .join(med, Seq("event_type"))
        .select(col("event_type"), col("n"), col("n_imputed"),
          round((col("__s") + col("med") * col("n_imputed")
            .cast("double")) / col("n").cast("double"), 6)
            .as("mean_after"))
    },
      // impute: mirrored median + one repaired-mean expression
      oracle = """WITH e AS (SELECT event_type,
           cast(value AS decimal(18,2)) AS v,
           event_id % 17 = 0 AS miss FROM events),
         med AS (SELECT event_type,
             round(quantile_cont(cast(v AS double), 0.5), 6) AS med
           FROM e WHERE NOT miss GROUP BY 1),
         g AS (SELECT event_type, cast(count(*) AS bigint) AS n,
             cast(sum(CASE WHEN miss THEN 1 ELSE 0 END) AS bigint)
               AS n_imputed,
             cast(sum(CASE WHEN NOT miss THEN v
               ELSE cast(0 AS decimal(18,2)) END) AS double) AS s
           FROM e GROUP BY 1)
         SELECT g.event_type, n, n_imputed,
           round((s + med * cast(n_imputed AS double)) /
             cast(n AS double), 6) AS mean_after
         FROM g JOIN med USING (event_type)"""),

    // ---- EXT: largest-remainder proration (exact cents allocation) ----
    Gate("q272_proration", (s, dir) => {
      // the finance/ETL allocation op: spread each order's total cents
      // across its line items proportional to extended price, conserving
      // the total EXACTLY — floor shares first, then one extra cent to the
      // largest remainders (linenumber tie-break). Pure integer
      // arithmetic; windows are per-order (≤7 rows by schema).
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("w"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("t"))
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val wSum = Window.partitionBy(col("l_orderkey"))
      val base = j
        .withColumn("__W", sum(col("w")).over(wSum))
        .withColumn("__base", expr("(t * w) div __W"))
        .withColumn("__rem", (col("t") * col("w")) % col("__W"))
      val ranked = base
        .withColumn("__left", col("t") - sum(col("__base")).over(wSum))
        .withColumn("__rk", row_number().over(wSum
          .orderBy(col("__rem").desc, col("l_linenumber"))))
      ranked.select(col("l_orderkey"), col("l_linenumber"),
        (col("__base") +
          when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .as("alloc_cents"))
    },
      // proration: mirrored integer floor-share + largest-remainder windows
      oracle = """WITH li AS (SELECT l_orderkey, l_linenumber,
           cast(round(l_extendedprice * 100, 0) AS bigint) AS w
           FROM lineitem),
         o AS (SELECT o_orderkey,
           cast(round(o_totalprice * 100, 0) AS bigint) AS t FROM orders),
         j AS (SELECT l_orderkey, l_linenumber, w, t
           FROM li JOIN o ON l_orderkey = o_orderkey),
         b AS (SELECT *, sum(w) OVER (PARTITION BY l_orderkey) AS tw
           FROM j),
         c AS (SELECT *, (t * w) // tw AS base, (t * w) % tw AS rem
           FROM b),
         r AS (SELECT *,
             t - sum(base) OVER (PARTITION BY l_orderkey) AS leftover,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY rem DESC, l_linenumber) AS rk
           FROM c)
         SELECT l_orderkey, l_linenumber,
           cast(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
             AS bigint) AS alloc_cents
         FROM r"""),

    // ---- EXT: ANALYZE-style column statistics ----
    Gate("q275_table_stats", (s, dir) => {
      // the stats pass a cost-based optimizer feeds on: per column, exact
      // NDV + null count (+ row count). Exact distincts here — bounded
      // fixture domains; the 100 TB path is the gated HLL sketch (q230).
      val li = Tables.lineitem(s, dir)
      def one(c: String): DataFrame = li.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(c)).as("ndv"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"))
        .select(lit(c).as("column_name"), col("n_rows"), col("ndv"),
          col("n_nulls"))
      one("l_orderkey").unionAll(one("l_returnflag"))
        .unionAll(one("l_quantity")).unionAll(one("l_shipdate"))
    },
      // table stats: mirrored exact NDV/null counts per column
      oracle = """SELECT 'l_orderkey' AS column_name,
           cast(count(*) AS bigint) AS n_rows,
           cast(count(DISTINCT l_orderkey) AS bigint) AS ndv,
           cast(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
             AS bigint) AS n_nulls
         FROM lineitem
         UNION ALL
         SELECT 'l_returnflag', cast(count(*) AS bigint),
           cast(count(DISTINCT l_returnflag) AS bigint),
           cast(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
             AS bigint)
         FROM lineitem
         UNION ALL
         SELECT 'l_quantity', cast(count(*) AS bigint),
           cast(count(DISTINCT l_quantity) AS bigint),
           cast(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
             AS bigint)
         FROM lineitem
         UNION ALL
         SELECT 'l_shipdate', cast(count(*) AS bigint),
           cast(count(DISTINCT l_shipdate) AS bigint),
           cast(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
             AS bigint)
         FROM lineitem"""),

    // ---- EXT: shipping-SLA conformance by month ----
    Gate("q282_sla_conformance", (s, dir) =>
      // operations reporting: per order month, the fraction of line items
      // shipped within 30/60/90 days of the order — integer day diffs,
      // exact counts, three mirrored divisions.
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          datediff(col("l_shipdate"), col("o_orderdate")).as("d"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("d") <= 30, 1L).otherwise(0L)).as("__n30"),
          sum(when(col("d") <= 60, 1L).otherwise(0L)).as("__n60"),
          sum(when(col("d") <= 90, 1L).otherwise(0L)).as("__n90"))
        .select(col("month"), col("n"),
          round(col("__n30").cast("double") / col("n").cast("double"), 6)
            .as("pct_30d"),
          round(col("__n60").cast("double") / col("n").cast("double"), 6)
            .as("pct_60d"),
          round(col("__n90").cast("double") / col("n").cast("double"), 6)
            .as("pct_90d")),
      // SLA conformance: integer day diffs, three mirrored divisions
      oracle = """SELECT strftime(o_orderdate, '%Y-%m') AS month,
           cast(count(*) AS bigint) AS n,
           round(cast(sum(CASE WHEN date_diff('day', o_orderdate,
               l_shipdate) <= 30 THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) AS pct_30d,
           round(cast(sum(CASE WHEN date_diff('day', o_orderdate,
               l_shipdate) <= 60 THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) AS pct_60d,
           round(cast(sum(CASE WHEN date_diff('day', o_orderdate,
               l_shipdate) <= 90 THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) AS pct_90d
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1"""),

    // ---- EXT: per-key rate anomaly + score normalization ----
    Gate("q143_mode_per_group", (s, dir) =>
      R.modePerGroup(Tables.events(s, dir), "user_id", "event_type"),
      // deterministic mode: explicit (count desc, value) tie-break — built-in
      // mode() is tie-ambiguous under an exact-hash contract
      oracle = """WITH c AS (SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT user_id, event_type, n,
           row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
           FROM c)
         SELECT user_id, event_type AS mode_value, n FROM r WHERE rk = 1"""),

    // ---- A-family: per-source equi-width histogram profile ----
    Gate("q125_histogram_profile", (s, dir) =>
      graft.operators.Analyses.histogramProfile(
        Tables.documents(s, dir), "source", "n_chars", buckets = 10),
      // histogram: shared global [min, max] edges, integer bucket arithmetic,
      // top value clamped into the last bucket
      oracle = """WITH mm AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents)
         SELECT source,
           cast(CASE WHEN mx = mn THEN 0
             ELSE least(((n_chars - mn) * 10) // (mx - mn), 9) END AS bigint) AS bucket,
           count(*) AS n,
           cast(min(n_chars) AS bigint) AS bucket_min,
           cast(max(n_chars) AS bigint) AS bucket_max
         FROM documents, mm GROUP BY 1, 2"""),

    // ---- pivot (wide rollup; A-family) ----
    Gate("q101_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir).groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        // pivot yields NULL for absent combos; the oracle's FILTER'd counts
        // yield 0 — align on 0
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    },
      // pivot: fixed column list; FILTER'd counts are bigint on both sides
      oracle = """SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id"""),

    // ---- rollup / grouping sets (A-family) ----
    Gate("q102_rollup", (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("yr", year(col("o_orderdate")).cast("long"))
        .rollup(col("o_orderstatus"), col("yr"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(D)).cast("double").as("total")),
      // rollup: NULL grouping-total rows match Spark's rollup; exact decimal
      // sum -> double
      oracle = """SELECT o_orderstatus, cast(year(o_orderdate) AS bigint) AS yr,
           count(*) AS n,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, yr)"""),
    Gate("q104_grouping_sets", (s, dir) => {
      // explicit GROUPING SETS on the SQL surface (q49's path); the SQL
      // text is shared verbatim with the DuckDB oracle
      Tables.registerAll(s, dir)
      s.sql(GroupingSetsSql)
    },
      oracle = GroupingSetsSql),

    // ---- §2.11 analysis registry ----
    Gate("q46_analysis_registry", (s, dir) =>
      graft.operators.Analyses.run("token_stats", Tables.documents(s, dir),
        """{"column":"text"}"""),
      oracle = """WITH sc AS (SELECT len(string_split(text,' ')) AS n_tokens,
           len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS en,
           len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS de,
           len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et','est'))) AS fr,
           len(list_filter(string_split(text,' '), x -> x IN ('el','los','las','y','es'))) AS es
           FROM documents)
         SELECT CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                WHEN fr >= es AND fr > 0 THEN 'fr'
                WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_pred,
           count(*) AS n, avg(n_tokens) AS avg_tokens
         FROM sc GROUP BY 1"""),

    // ---- custom typed UDAF (§7.3) ----
    Gate("q47_bbox_udaf", (s, dir) => {
      val pts = Tables.lineitem(s, dir).select(col("l_returnflag"),
        (col("l_partkey") * 7 % 360 - 180).cast("double").as("lon"),
        (col("l_suppkey") * 13 % 180 - 90).cast("double").as("lat"))
      pts.groupBy(col("l_returnflag"))
        .agg(graft.operators.Analyses.bboxUdaf(col("lon"), col("lat")).as("b"))
        .select(col("l_returnflag"),
          col("b.minLon").as("min_lon"), col("b.maxLon").as("max_lon"),
          col("b.minLat").as("min_lat"), col("b.maxLat").as("max_lat"))
    },
      oracle = """SELECT l_returnflag,
         min(lon) AS min_lon, max(lon) AS max_lon,
         min(lat) AS min_lat, max(lat) AS max_lat
         FROM (SELECT l_returnflag,
                 cast(l_partkey * 7 % 360 - 180 as double) AS lon,
                 cast(l_suppkey * 13 % 180 - 90 as double) AS lat
               FROM lineitem) t GROUP BY l_returnflag"""),

    // ---- EXT: RFM quintile segmentation (threshold buckets, no global window) ----
    Gate("q293_rfm_segments", (s, dir) =>
      graft.operators.Analyses.rfmSegments(
        Tables.orders(s, dir), "o_custkey", "o_orderdate", "o_totalprice"),
      // RFM: broadcast quantile thresholds, strict-> lower-bucket ties
      oracle = """WITH per AS (SELECT o_custkey, max(cast(o_orderdate AS date)) AS last_d,
             cast(count(*) AS bigint) AS frequency,
             sum(cast(o_totalprice AS decimal(18,2))) AS spend
           FROM orders GROUP BY 1),
         h AS (SELECT max(last_d) AS hd FROM per),
         base AS (SELECT o_custkey,
             cast(date_diff('day', last_d, hd) AS bigint) AS recency_days,
             frequency, round(cast(spend AS double), 2) AS monetary
           FROM per CROSS JOIN h),
         th AS (SELECT
             list_transform(quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]),
               t -> round(t, 6)) AS tr,
             list_transform(quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]),
               t -> round(t, 6)) AS tf,
             list_transform(quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]),
               t -> round(t, 6)) AS tm
           FROM base)
         SELECT o_custkey, recency_days, frequency, monetary,
           cast(1 + len(list_filter(tr,
             t -> cast(recency_days AS double) > t)) AS int) AS r_q,
           cast(1 + len(list_filter(tf,
             t -> cast(frequency AS double) > t)) AS int) AS f_q,
           cast(1 + len(list_filter(tm, t -> monetary > t)) AS int) AS m_q,
           cast((1 + len(list_filter(tr, t -> cast(recency_days AS double) > t))) * 100
             + (1 + len(list_filter(tf, t -> cast(frequency AS double) > t))) * 10
             + (1 + len(list_filter(tm, t -> monetary > t))) AS bigint)
             AS segment
         FROM base CROSS JOIN th"""),

    // ---- EXT: count-min sketch accuracy audit (d=2, w=64) ----
    Gate("q294_countmin_audit", (s, dir) =>
      graft.operators.Sketches.countMinAudit(
        Tables.events(s, dir), col("user_id"), depth = 2, width = 64,
        topN = 20),
      // count-min: md5-lane counters, min-over-lanes estimate, top-20 audit
      oracle = """WITH keyed AS (SELECT cast(user_id AS varchar) AS k,
             cast(count(*) AS bigint) AS exact
           FROM events GROUP BY 1),
         lanes AS (
           SELECT 0 AS j,
               ('0x' || substr(md5(k), 1, 8))::bigint % 64 AS b,
               cast(sum(exact) AS bigint) AS c
             FROM keyed GROUP BY 2
           UNION ALL
           SELECT 1,
               ('0x' || substr(md5(k), 9, 8))::bigint % 64,
               cast(sum(exact) AS bigint)
             FROM keyed GROUP BY 2),
         e0 AS (SELECT k, exact, c FROM keyed JOIN lanes ON j = 0
           AND ('0x' || substr(md5(k), 1, 8))::bigint % 64 = b),
         e1 AS (SELECT k, exact, c FROM keyed JOIN lanes ON j = 1
           AND ('0x' || substr(md5(k), 9, 8))::bigint % 64 = b),
         est AS (SELECT k, exact, min(c) AS estimate
           FROM (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
           GROUP BY 1, 2)
         SELECT k AS key, exact, estimate, estimate - exact AS overestimate
         FROM est ORDER BY exact DESC, k ASC LIMIT 20"""),

    // ---- EXT: KMV bottom-k set-intersection estimate audit ----
    Gate("q295_kmv_intersect", (s, dir) =>
      graft.operators.Sketches.kmvIntersectAudit(
        Tables.events(s, dir), col("event_type"), col("user_id"), k = 128),
      // KMV: bottom-k union trick; under-full pairs are exact by construction
      oracle = """WITH m AS (SELECT DISTINCT cast(event_type AS varchar) AS s,
             cast(user_id AS varchar) AS mm FROM events),
         sizes AS (SELECT s, cast(count(*) AS bigint) AS n FROM m GROUP BY 1),
         h AS (SELECT s, mm,
             ('0x' || substr(md5(mm), 1, 15))::bigint AS hh FROM m),
         sk AS (SELECT s, mm, hh FROM (SELECT s, mm, hh,
             row_number() OVER (PARTITION BY s ORDER BY hh, mm) AS r FROM h)
           WHERE r <= 128),
         pairs AS (SELECT a.s AS set_a, b.s AS set_b, a.n AS n_a, b.n AS n_b
           FROM sizes a, sizes b WHERE a.s < b.s),
         uni AS (SELECT set_a, set_b, n_a, n_b, mm, hh, count(*) AS cnt
           FROM (
             SELECT p.set_a, p.set_b, p.n_a, p.n_b, k.mm, k.hh
               FROM pairs p JOIN sk k ON k.s = p.set_a
             UNION ALL
             SELECT p.set_a, p.set_b, p.n_a, p.n_b, k.mm, k.hh
               FROM pairs p JOIN sk k ON k.s = p.set_b)
           GROUP BY 1, 2, 3, 4, 5, 6),
         topk AS (SELECT * FROM (SELECT *,
             row_number() OVER (PARTITION BY set_a, set_b
               ORDER BY hh, mm) AS r FROM uni)
           WHERE r <= 128),
         stats AS (SELECT set_a, set_b, n_a, n_b,
             cast(count(*) AS bigint) AS ku,
             max(CASE WHEN r = 128 THEN hh END) AS thetah,
             cast(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS bigint)
               AS inboth
           FROM topk GROUP BY 1, 2, 3, 4),
         ex AS (SELECT a.s AS set_a, b.s AS set_b,
             cast(count(*) AS bigint) AS exact_intersection
           FROM m a JOIN m b ON a.mm = b.mm AND a.s < b.s GROUP BY 1, 2)
         SELECT st.set_a, st.set_b, st.n_a, st.n_b,
           cast(coalesce(e.exact_intersection, 0) AS bigint)
             AS exact_intersection,
           round(cast(inboth AS double) / cast(least(ku, 128) AS double)
             * (CASE WHEN ku < 128 OR thetah IS NULL THEN cast(ku AS double)
                ELSE 127.0 * 1152921504606846976.0 / cast(thetah AS double)
                END), 2) + 0.0 AS est_intersection
         FROM stats st LEFT JOIN ex e
           ON st.set_a = e.set_a AND st.set_b = e.set_b"""),

    // ---- EXT: l-diversity privacy audit ----
    Gate("q305_l_diversity", (s, dir) => {
      val t = Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"))
      graft.operators.Analyses.lDiversityAudit(t,
        Seq("c_mktsegment", "c_nationkey"), col("o_orderpriority"), minL = 3)
    },
      // l-diversity: distinct-l + entropy-l per QI group, q162 entropy terms
      oracle = """WITH t AS (SELECT c_mktsegment, c_nationkey, o_orderpriority AS s
           FROM customer JOIN orders ON c_custkey = o_custkey),
         cell AS (SELECT c_mktsegment, c_nationkey, s,
             cast(count(*) AS bigint) AS c
           FROM t GROUP BY 1, 2, 3),
         totals AS (SELECT c_mktsegment, c_nationkey,
             cast(sum(c) AS bigint) AS n
           FROM cell GROUP BY 1, 2),
         terms AS (SELECT cell.c_mktsegment, cell.c_nationkey, s, c, n,
             cast(round(-(cast(c AS double) / cast(n AS double))
               * ln(cast(c AS double) / cast(n AS double)), 6)
               AS decimal(18,6)) AS term
           FROM cell JOIN totals USING (c_mktsegment, c_nationkey))
         SELECT c_mktsegment, c_nationkey, max(n) AS n,
           count(DISTINCT s) AS l_distinct,
           round(exp(cast(sum(term) AS double)), 6) + 0.0 AS entropy_l,
           cast(count(DISTINCT s) >= 3 AS int) AS diverse
         FROM terms GROUP BY 1, 2"""),

    // ---- EXT: ABC × XYZ inventory classification ----
    Gate("q321_abc_xyz", (s, dir) => {
      // q182's revenue-Pareto ABC crossed with demand-VARIABILITY XYZ:
      // X = steady (CV ≤ 0.5), Y = variable (≤ 1), Z = erratic — the
      // classic stocking-policy matrix. Monthly demand moments are exact
      // decimals (q152 discipline); the ABC cut runs on the revenue
      // distribution table with integer cumulative shares (ties can't
      // straddle engines); CV thresholds compare the 6-dp ROUNDED value.
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"),
          date_trunc("month", col("l_shipdate")).as("__m"))
        .agg(sum(col("l_quantity").cast(D)).as("__q"))
      val stats = monthly.groupBy(col("l_partkey")).agg(
          count(lit(1)).as("__nm"),
          sum(col("__q")).as("__sq"),
          sum(col("__q").cast("decimal(28,2)") * col("__q")).as("__sqq"))
        .filter(col("__nm") > 1)
        .withColumn("__mean",
          col("__sq").cast("double") / col("__nm").cast("double"))
        .withColumn("__sd", sqrt(
          (col("__nm").cast("double") * col("__sqq").cast("double") -
            col("__sq").cast("double") * col("__sq").cast("double")) /
            (col("__nm").cast("double") * (col("__nm").cast("double") - 1.0d))))
        .withColumn("cv", round(col("__sd") / col("__mean"), 6) + lit(0.0d))
      val rev = Tables.lineitem(s, dir).groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(D)).as("__rev"))
      val wc = Window.orderBy(col("__rev").desc, col("l_partkey").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = rev.agg(sum(col("__rev")).as("__tot"))
      // integer-exact Pareto cut: cum·100 ≤ tot·80 → A, ≤ 95 → B, else C
      val abc = rev.withColumn("__cum", sum(col("__rev")).over(wc))
        .crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("__cum") * 100 <= col("__tot") * 80, "A")
            .when(col("__cum") * 100 <= col("__tot") * 95, "B")
            .otherwise("C"))
      abc.join(stats, Seq("l_partkey"))
        .withColumn("xyz_class",
          when(col("cv") <= 0.5, "X").when(col("cv") <= 1.0, "Y")
            .otherwise("Z"))
        .groupBy(col("abc_class"), col("xyz_class"))
        .agg(count(lit(1)).as("n_parts"),
          (round(sum(col("__rev")).cast("double"), 2) + lit(0.0d))
            .as("revenue"))
    },
      // ABC×XYZ: integer-exact Pareto cut + exact-moment CV thresholds
      oracle = """WITH monthly AS (SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
             sum(cast(l_quantity AS decimal(18,2))) AS q
           FROM lineitem GROUP BY 1, 2),
         stats AS (SELECT l_partkey, cast(count(*) AS bigint) AS nm,
             sum(q) AS sq, sum(cast(q AS decimal(28,2)) * q) AS sqq
           FROM monthly GROUP BY 1 HAVING count(*) > 1),
         cv AS (SELECT l_partkey,
             round(sqrt((cast(nm AS double) * cast(sqq AS double)
                 - cast(sq AS double) * cast(sq AS double))
               / (cast(nm AS double) * (cast(nm AS double) - 1.0)))
               / (cast(sq AS double) / cast(nm AS double)), 6) + 0.0 AS cv
           FROM stats),
         rev AS (SELECT l_partkey,
             sum(cast(l_extendedprice AS decimal(18,2))) AS r
           FROM lineitem GROUP BY 1),
         tot AS (SELECT sum(r) AS t FROM rev),
         abc AS (SELECT l_partkey, r,
             CASE WHEN sum(r) OVER (ORDER BY r DESC, l_partkey ASC) * 100
                 <= t * 80 THEN 'A'
               WHEN sum(r) OVER (ORDER BY r DESC, l_partkey ASC) * 100
                 <= t * 95 THEN 'B'
               ELSE 'C' END AS abc_class
           FROM rev CROSS JOIN tot)
         SELECT abc_class,
           CASE WHEN cv <= 0.5 THEN 'X' WHEN cv <= 1.0 THEN 'Y'
             ELSE 'Z' END AS xyz_class,
           cast(count(*) AS bigint) AS n_parts,
           round(cast(sum(r) AS double), 2) + 0.0 AS revenue
         FROM abc JOIN cv USING (l_partkey)
         GROUP BY 1, 2"""),

    // ---- EXT: revenue bridge (volume / rate / mix decomposition) ----
    Gate("q328_revenue_bridge", (s, dir) => {
      // "WHY did revenue move 1996→1997": per segment the exact
      // ΔR = Δn·aov_A + n_A·Δaov + Δn·Δaov decomposition (volume, rate,
      // cross) — the waterfall q285's direct standardization only hints
      // at. Counts and revenue are exact; the three effects are mirrored
      // double expressions that reconcile to ΔR by construction.
      def yearAgg(y: Int, nc: String, rc: String) =
        Tables.orders(s, dir)
          .filter(year(col("o_orderdate")) === y)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as(nc),
            sum(col("o_totalprice").cast(D)).as(rc))
      val j = yearAgg(1996, "n_a", "__ra").join(
        yearAgg(1997, "n_b", "__rb"), Seq("o_orderpriority"))
      def aov(r: String, n: String) = col(r).cast("double") / col(n).cast("double")
      j.filter(col("n_a") > 0 && col("n_b") > 0)
        .withColumn("__aova", aov("__ra", "n_a"))
        .withColumn("__aovb", aov("__rb", "n_b"))
        .select(col("o_orderpriority"), col("n_a"), col("n_b"),
          (round(col("__ra").cast("double"), 2) + lit(0.0d)).as("rev_a"),
          (round(col("__rb").cast("double"), 2) + lit(0.0d)).as("rev_b"),
          (round((col("n_b") - col("n_a")).cast("double") * col("__aova"), 2)
            + lit(0.0d)).as("volume_effect"),
          (round(col("n_a").cast("double") * (col("__aovb") - col("__aova")), 2)
            + lit(0.0d)).as("rate_effect"),
          (round((col("n_b") - col("n_a")).cast("double") *
            (col("__aovb") - col("__aova")), 2) + lit(0.0d)).as("cross_effect"))
    },
      // revenue bridge: volume/rate/cross effects from exact per-year moments
      oracle = """WITH a AS (SELECT o_orderpriority, cast(count(*) AS bigint) AS n_a,
             sum(cast(o_totalprice AS decimal(18,2))) AS ra
           FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
         b AS (SELECT o_orderpriority, cast(count(*) AS bigint) AS n_b,
             sum(cast(o_totalprice AS decimal(18,2))) AS rb
           FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1),
         j AS (SELECT a.o_orderpriority, n_a, n_b,
             cast(ra AS double) AS rad, cast(rb AS double) AS rbd,
             cast(ra AS double) / cast(n_a AS double) AS aova,
             cast(rb AS double) / cast(n_b AS double) AS aovb
           FROM a JOIN b ON a.o_orderpriority = b.o_orderpriority
           WHERE n_a > 0 AND n_b > 0)
         SELECT o_orderpriority, n_a, n_b,
           round(rad, 2) + 0.0 AS rev_a, round(rbd, 2) + 0.0 AS rev_b,
           round(cast(n_b - n_a AS double) * aova, 2) + 0.0
             AS volume_effect,
           round(cast(n_a AS double) * (aovb - aova), 2) + 0.0
             AS rate_effect,
           round(cast(n_b - n_a AS double) * (aovb - aova), 2) + 0.0
             AS cross_effect
         FROM j"""),

    // ---- EXT: consistent-hash ring rebalance audit ----
    Gate("q330_consistent_hash", (s, dir) => {
      // the partition-rebalance math of every distributed store: 16 nodes
      // × 4 virtual points on an md5 ring; a key belongs to the first
      // point clockwise. Removing one node must move ONLY that node's
      // keys (~1/16) — the audit counts per-node keys before/after and
      // the churn, all md5-deterministic and oracle-mirrored.
      import graft.operators.Sketches.kmvHash
      val vn = (for (n <- 0 until 16; v <- 0 until 4) yield (n, v))
        .toList
      val vnodes = s.createDataFrame(vn).toDF("node", "vp")
        .withColumn("__pos",
          kmvHash(concat(lit("node:"), col("node"), lit(":"), col("vp"))))
        .select(col("node"), col("__pos"))
      val keys = Tables.events(s, dir).select(col("user_id")).distinct()
        .withColumn("__kpos", kmvHash(concat(lit("key:"), col("user_id"))))
      def assign(vns: DataFrame, out: String): DataFrame = {
        val wrapRow = vns.agg(min(col("__pos")).as("__minpos"))
        val wrapNode = vns.join(broadcast(wrapRow),
          col("__pos") === col("__minpos")).select(
          col("node").as("__wrapnode"), col("__minpos"))
        val best = keys.join(broadcast(vns), col("__pos") >= col("__kpos"))
          .groupBy(col("user_id"), col("__kpos"))
          .agg(min(col("__pos")).as("__bestpos"))
        keys.join(best, Seq("user_id", "__kpos"), "left")
          .join(broadcast(vns.withColumnRenamed("node", "__bn")),
            col("__bestpos") === col("__pos"), "left")
          .crossJoin(broadcast(wrapNode))
          .select(col("user_id"),
            coalesce(col("__bn"), col("__wrapnode")).as(out))
      }
      val before = assign(vnodes, "node_before")
      val after = assign(vnodes.filter(col("node") =!= 7), "node_after")
      val moved = before.join(after, Seq("user_id"))
      moved.groupBy(col("node_after").as("node"))
        .agg(count(lit(1)).as("n_after"),
          sum((col("node_before") =!= col("node_after")).cast("long"))
            .as("n_gained"))
        .join(before.groupBy(col("node_before").as("node"))
          .agg(count(lit(1)).as("n_before")), Seq("node"), "full")
        .select(col("node"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("n_gained"), lit(0L)).as("n_gained"))
    },
      // consistent hashing: 64 md5 ring points, first-clockwise assignment,
      // wrap to the global minimum; node 7 removed in the after-view
      oracle = """WITH vn AS (SELECT n.range AS node, v.range AS vp,
             ('0x' || substr(md5('node:' || cast(n.range AS varchar)
               || ':' || cast(v.range AS varchar)), 1, 15))::bigint AS pos
           FROM range(0, 16) n, range(0, 4) v),
         keys AS (SELECT DISTINCT user_id,
             ('0x' || substr(md5('key:' || cast(user_id AS varchar)), 1,
               15))::bigint AS kpos
           FROM events),
         bef AS (SELECT user_id,
             coalesce(
               (SELECT v2.node FROM vn v2 WHERE v2.pos =
                 (SELECT min(v3.pos) FROM vn v3 WHERE v3.pos >= k.kpos)),
               (SELECT v4.node FROM vn v4 WHERE v4.pos =
                 (SELECT min(v5.pos) FROM vn v5))) AS node_before
           FROM keys k),
         aft AS (SELECT user_id,
             coalesce(
               (SELECT v2.node FROM vn v2 WHERE v2.node <> 7 AND v2.pos =
                 (SELECT min(v3.pos) FROM vn v3 WHERE v3.node <> 7
                   AND v3.pos >= k.kpos)),
               (SELECT v4.node FROM vn v4 WHERE v4.node <> 7 AND v4.pos =
                 (SELECT min(v5.pos) FROM vn v5 WHERE v5.node <> 7)))
               AS node_after
           FROM keys k),
         m AS (SELECT b.user_id, node_before, node_after
           FROM bef b JOIN aft a ON b.user_id = a.user_id),
         ag AS (SELECT node_after AS node,
             cast(count(*) AS bigint) AS n_after,
             cast(sum(CASE WHEN node_before <> node_after THEN 1 ELSE 0 END)
               AS bigint) AS n_gained
           FROM m GROUP BY 1),
         bg AS (SELECT node_before AS node,
             cast(count(*) AS bigint) AS n_before
           FROM m GROUP BY 1)
         SELECT cast(coalesce(ag.node, bg.node) AS int) AS node,
           coalesce(n_before, 0) AS n_before,
           coalesce(n_after, 0) AS n_after,
           coalesce(n_gained, 0) AS n_gained
         FROM ag FULL JOIN bg ON ag.node = bg.node"""),

    // ---- EXT: Jain's fairness index of per-user load ----
    Gate("q333_jain_fairness", (s, dir) =>
      // J = (Σc)²/(n·Σc²) ∈ (1/n, 1]: 1 = perfectly even per-user event
      // load, →1/n = one user dominates — the quota-health scalar behind
      // q260's skew profile, from exact integer moments
      Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("__c")).as("__s"),
          sum(col("__c") * col("__c")).as("__q"))
        .select(col("event_type"), col("n_users"),
          (round(col("__s").cast("double") * col("__s").cast("double") /
            (col("n_users").cast("double") * col("__q").cast("double")), 6)
            + lit(0.0d)).as("jain_index")),
      // Jain: exact integer moments, one mirrored division
      oracle = """WITH c AS (SELECT event_type, user_id, cast(count(*) AS bigint) AS c
           FROM events GROUP BY 1, 2)
         SELECT event_type, cast(count(*) AS bigint) AS n_users,
           round(cast(sum(c) AS double) * cast(sum(c) AS double)
             / (cast(count(*) AS double) * cast(sum(c * c) AS double)), 6)
             + 0.0 AS jain_index
         FROM c GROUP BY 1"""),

    // ---- EXT: 3-D skyline (Pareto-optimal suppliers) ----
    Gate("q334_skyline3d", (s, dir) => {
      // q159's 2-D frontier in three objectives: maximize revenue,
      // maximize breadth (distinct parts), MINIMIZE mean ship delay — a
      // supplier survives unless someone is at least as good on all three
      // and strictly better on one. Metrics come off the corpus in one
      // hash aggregate to the SUPPLIER grain (dimension-bounded, so the
      // pairwise dominance test is a broadcast non-equi self-join over a
      // design-sized table — the legitimate place for one). Delay
      // compares at the exact integer-sum grain (cross-multiplied, no
      // division) so dominance can't flip on a rounded mean.
      val m = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast(D)).as("__rev"),
          countDistinct(col("l_partkey")).as("n_parts"),
          sum(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long")).as("__dsum"),
          count(lit(1)).as("__dn"))
      val a = m.select(col("l_suppkey").as("sk"), col("__rev").as("ra"),
        col("n_parts").as("pa"), col("__dsum").as("sa"), col("__dn").as("na"))
      val b = m.select(col("l_suppkey").as("sk_b"), col("__rev").as("rb"),
        col("n_parts").as("pb"), col("__dsum").as("sb"), col("__dn").as("nb"))
      // b dominates a: rb ≥ ra, pb ≥ pa, delay_b ≤ delay_a (sb·na ≤ sa·nb),
      // and strict somewhere
      val dominated = a.join(broadcast(b),
        col("sk") =!= col("sk_b") &&
          col("rb") >= col("ra") && col("pb") >= col("pa") &&
          col("sb") * col("na") <= col("sa") * col("nb") &&
          (col("rb") > col("ra") || col("pb") > col("pa") ||
            col("sb") * col("na") < col("sa") * col("nb")),
        "left_semi")
      a.join(dominated.select(col("sk")), Seq("sk"), "left_anti")
        .select(col("sk").as("s_suppkey"),
          (round(col("ra").cast("double"), 2) + lit(0.0d)).as("revenue"),
          col("pa").as("n_parts"),
          (round(col("sa").cast("double") / col("na").cast("double"), 6)
            + lit(0.0d)).as("mean_ship_delay_days"))
    },
      // 3-D skyline: exact integer/decimal dominance (delays compared
      // cross-multiplied), NOT EXISTS anti-dominance on the supplier grain
      oracle = """WITH m AS (SELECT l_suppkey,
             sum(cast(l_extendedprice AS decimal(18,2))) AS rev,
             cast(count(DISTINCT l_partkey) AS bigint) AS np,
             cast(sum(date_diff('day', cast(o_orderdate AS date),
               cast(l_shipdate AS date))) AS bigint) AS ds,
             cast(count(*) AS bigint) AS dn
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1)
         SELECT a.l_suppkey AS s_suppkey,
           round(cast(a.rev AS double), 2) + 0.0 AS revenue,
           a.np AS n_parts,
           round(cast(a.ds AS double) / cast(a.dn AS double), 6) + 0.0
             AS mean_ship_delay_days
         FROM m a
         WHERE NOT EXISTS (SELECT 1 FROM m b
           WHERE b.l_suppkey <> a.l_suppkey
             AND b.rev >= a.rev AND b.np >= a.np
             AND b.ds * a.dn <= a.ds * b.dn
             AND (b.rev > a.rev OR b.np > a.np
               OR b.ds * a.dn < a.ds * b.dn))"""),

    // ---- EXT: accounts-receivable aging buckets ----
    Gate("q337_ar_aging", (s, dir) => {
      // open receivables ('O' status) aged against the ledger's horizon
      // (max order date, a 1-row broadcast): the 0-30/31-60/61-90/90+
      // buckets every finance close runs; exact integer day diffs, exact
      // decimal totals
      val o = Tables.orders(s, dir)
      val horizon = o.agg(max(to_date(col("o_orderdate"))).as("__h"))
      o.filter(col("o_orderstatus") === "O")
        .crossJoin(broadcast(horizon))
        .withColumn("__age", datediff(col("__h"), to_date(col("o_orderdate"))))
        .withColumn("age_bucket",
          when(col("__age") <= 30, "0-30")
            .when(col("__age") <= 60, "31-60")
            .when(col("__age") <= 90, "61-90")
            .otherwise("90+"))
        .groupBy(col("o_orderpriority"), col("age_bucket"))
        .agg(count(lit(1)).as("n_open"),
          (round(sum(col("o_totalprice").cast(D)).cast("double"), 2)
            + lit(0.0d)).as("open_amount"))
    },
      // AR aging: horizon-relative integer day buckets, exact totals
      oracle = """WITH h AS (SELECT max(cast(o_orderdate AS date)) AS hd FROM orders)
         SELECT o_orderpriority,
           CASE WHEN date_diff('day', cast(o_orderdate AS date), hd) <= 30
               THEN '0-30'
             WHEN date_diff('day', cast(o_orderdate AS date), hd) <= 60
               THEN '31-60'
             WHEN date_diff('day', cast(o_orderdate AS date), hd) <= 90
               THEN '61-90'
             ELSE '90+' END AS age_bucket,
           cast(count(*) AS bigint) AS n_open,
           round(cast(sum(cast(o_totalprice AS decimal(18,2))) AS double),
             2) + 0.0 AS open_amount
         FROM orders CROSS JOIN h
         WHERE o_orderstatus = 'O'
         GROUP BY 1, 2"""),

    // ---- EXT: Lorenz concentration curve (value-binned) ----
    Gate("q340_lorenz_curve", (s, dir) => {
      // the Lorenz curve behind the suite's Gini gates, on a VALUE-BINNED
      // grid ($10k bins of exact integer cents): the corpus pass is one
      // per-customer aggregate + one per-bin aggregate; the cumulative
      // curve runs over the BOUNDED bin table (q336's bounded-series
      // window discipline) — never a global sort of the customer grain,
      // which is the formulation that survives 100 TB.
      import org.apache.spark.sql.expressions.Window
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(D)).as("__s"))
        .withColumn("__cents", (col("__s") * lit(100)).cast("bigint"))
      val binned = spend
        .withColumn("spend_bin", expr("__cents div 1000000"))
        .groupBy(col("spend_bin"))
        .agg(count(lit(1)).as("n_customers"), sum(col("__s")).as("__bs"))
      val tot = binned.agg(sum(col("n_customers")).as("__tn"),
        sum(col("__bs")).as("__ts"))
      val wc = Window.orderBy(col("spend_bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      binned
        .withColumn("cum_customers", sum(col("n_customers")).over(wc))
        .withColumn("__cs", sum(col("__bs")).over(wc))
        .crossJoin(broadcast(tot))
        .select(col("spend_bin"), col("n_customers"), col("cum_customers"),
          (round(col("cum_customers").cast("double") /
            col("__tn").cast("double"), 6) + lit(0.0d))
            .as("cum_pop_share"),
          (round(col("__cs").cast("double") /
            col("__ts").cast("double"), 6) + lit(0.0d))
            .as("cum_rev_share"))
    },
      // Lorenz: exact integer-cent bins, cumulative over the bounded bin
      // table, shares against one 1-row total
      oracle = """WITH spend AS (
           SELECT o_custkey, sum(cast(o_totalprice AS decimal(18,2))) AS s
           FROM orders GROUP BY 1),
         binned AS (
           SELECT cast(s * 100 AS bigint) // 1000000 AS spend_bin,
             cast(count(*) AS bigint) AS n_customers,
             sum(s) AS bin_spend
           FROM spend GROUP BY 1),
         tot AS (SELECT cast(sum(n_customers) AS bigint) AS tn,
             sum(bin_spend) AS ts
           FROM binned),
         c AS (
           SELECT spend_bin, n_customers,
             cast(sum(n_customers) OVER (ORDER BY spend_bin) AS bigint)
               AS cum_customers,
             sum(bin_spend) OVER (ORDER BY spend_bin) AS cum_spend
           FROM binned)
         SELECT spend_bin, n_customers, cum_customers,
           round(cast(cum_customers AS double) / cast(tn AS double), 6)
             + 0.0 AS cum_pop_share,
           round(cast(cum_spend AS double) / cast(ts AS double), 6)
             + 0.0 AS cum_rev_share
         FROM c CROSS JOIN tot"""),

    // ---- EXT: Laspeyres / Paasche / Fisher price indices ----
    Gate("q346_price_index", (s, dir) => {
      // the economics of the fact table: per year vs the base year, the
      // fixed-basket (Laspeyres), current-basket (Paasche) and geometric-
      // mean (Fisher) price indices over the common part set. Unit prices
      // are pinned to 6-dp decimals, so every Σp·q is an EXACT decimal
      // sum; the base-year basket is a part-dimension broadcast.
      val py = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
          col("l_partkey"))
        .agg(sum(col("l_quantity").cast(D)).as("__q"),
          sum(col("l_extendedprice").cast(D)).as("__e"))
        .withColumn("__p",
          round(col("__e").cast("double") / col("__q").cast("double"), 6)
            .cast("decimal(19,6)"))
      val y0 = py.agg(min(col("yr")).as("__y0"))
      val base = py.crossJoin(broadcast(y0))
        .filter(col("yr") === col("__y0"))
        .select(col("l_partkey"), col("__q").as("__q0"),
          col("__p").as("__p0"))
      py.join(broadcast(base), Seq("l_partkey"))
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n_common_parts"),
          sum(col("__p") * col("__q0")).as("__pq0"),
          sum(col("__p0") * col("__q0")).as("__p0q0"),
          sum(col("__p") * col("__q")).as("__pq"),
          sum(col("__p0") * col("__q")).as("__p0q"))
        .select(col("yr"), col("n_common_parts"),
          (round(col("__pq0").cast("double") /
            col("__p0q0").cast("double"), 6) + lit(0.0d)).as("laspeyres"),
          (round(col("__pq").cast("double") /
            col("__p0q").cast("double"), 6) + lit(0.0d)).as("paasche"),
          (round(sqrt((col("__pq0").cast("double") /
            col("__p0q0").cast("double")) *
            (col("__pq").cast("double") /
              col("__p0q").cast("double"))), 6) + lit(0.0d)).as("fisher"))
    },
      // price indices: 6-dp pinned unit prices → exact Σp·q decimal sums;
      // base-year basket joined on the part dimension
      oracle = """WITH py AS (
           SELECT cast(year(o_orderdate) AS int) AS yr, l_partkey,
             sum(cast(l_quantity AS decimal(18,2))) AS q,
             cast(round(cast(sum(cast(l_extendedprice AS decimal(18,2)))
                 AS double)
               / cast(sum(cast(l_quantity AS decimal(18,2))) AS double), 6)
               AS decimal(19,6)) AS p
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         base AS (SELECT cast(min(yr) AS int) AS y0 FROM py),
         b AS (SELECT l_partkey, q AS q0, p AS p0 FROM py CROSS JOIN base
           WHERE yr = y0),
         agg AS (
           SELECT py.yr, cast(count(*) AS bigint) AS n_common_parts,
             sum(py.p * b.q0) AS pq0, sum(b.p0 * b.q0) AS p0q0,
             sum(py.p * py.q) AS pq, sum(b.p0 * py.q) AS p0q
           FROM py JOIN b USING (l_partkey) GROUP BY 1)
         SELECT yr, n_common_parts,
           round(cast(pq0 AS double) / cast(p0q0 AS double), 6) + 0.0
             AS laspeyres,
           round(cast(pq AS double) / cast(p0q AS double), 6) + 0.0
             AS paasche,
           round(sqrt((cast(pq0 AS double) / cast(p0q0 AS double))
             * (cast(pq AS double) / cast(p0q AS double))), 6) + 0.0
             AS fisher
         FROM agg"""),

    // ---- EXT: days-sales-outstanding working-capital scalar ----
    Gate("q350_dso", (s, dir) => {
      // the finance close's DSO: open receivables over daily revenue run
      // rate, per priority class — exact decimal totals, one global span
      // broadcast, mirrored double divisions at the end.
      val span = Tables.orders(s, dir)
        .agg((datediff(max(col("o_orderdate").cast("date")),
          min(col("o_orderdate").cast("date"))) + lit(1))
          .cast("long").as("__nd"))
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(sum(when(col("o_orderstatus") === "O",
          col("o_totalprice").cast(D))
          .otherwise(lit(0).cast(D))).as("__ar"),
          sum(col("o_totalprice").cast(D)).as("__rev"))
        .crossJoin(broadcast(span))
        .select(col("o_orderpriority"),
          (round(col("__ar").cast("double"), 2) + lit(0.0d)).as("open_ar"),
          (round(col("__rev").cast("double") / col("__nd").cast("double"),
            2) + lit(0.0d)).as("daily_revenue"),
          (round(col("__ar").cast("double") /
            (col("__rev").cast("double") / col("__nd").cast("double")), 2)
            + lit(0.0d)).as("dso_days"))
    },
      // DSO: exact decimal totals, one global span, mirrored divisions
      oracle = """WITH span AS (
           SELECT cast(date_diff('day', min(cast(o_orderdate AS date)),
             max(cast(o_orderdate AS date))) + 1 AS bigint) AS n_days
           FROM orders),
         g AS (
           SELECT o_orderpriority,
             sum(CASE WHEN o_orderstatus = 'O'
               THEN cast(o_totalprice AS decimal(18,2))
               ELSE cast(0 AS decimal(18,2)) END) AS open_ar,
             sum(cast(o_totalprice AS decimal(18,2))) AS rev
           FROM orders GROUP BY 1)
         SELECT o_orderpriority,
           round(cast(open_ar AS double), 2) + 0.0 AS open_ar,
           round(cast(rev AS double) / cast(n_days AS double), 2) + 0.0
             AS daily_revenue,
           round(cast(open_ar AS double)
             / (cast(rev AS double) / cast(n_days AS double)), 2) + 0.0
             AS dso_days
         FROM g CROSS JOIN span"""),

    // ---- EXT: p95 ship-delay SLA per month ----
    Gate("q369_ship_delay_p95", (s, dir) => {
      // the ops SLA readout: 95th-percentile order→ship delay per ship
      // month, resolved by integer rank against the (month, delay)
      // DISTRIBUTION table (q316's trick — delays are a bounded integer
      // grid, so the window input stays compressed at any corpus scale).
      import org.apache.spark.sql.expressions.Window
      val d = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(date_format(date_trunc("month", col("o_orderdate")),
          "yyyy-MM").as("ship_month"),
          datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")).as("__delay"))
      val dist = d.groupBy(col("ship_month"), col("__delay"))
        .agg(count(lit(1)).as("__c"))
      val wOrd = Window.partitionBy(col("ship_month")).orderBy(col("__delay"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("ship_month"))
      dist
        .withColumn("__cc", sum(col("__c")).over(wOrd))
        .withColumn("__n", sum(col("__c")).over(wAll))
        .groupBy(col("ship_month"), col("__n"))
        .agg(min(when(col("__cc") >=
          expr("(95 * __n + 99) div 100"), col("__delay"))).cast("bigint")
          .as("p95_delay_days"))
        .select(col("ship_month"), col("__n").as("n_items"),
          col("p95_delay_days"))
    },
      // p95 ship delay: integer rank against the (month, delay)
      // distribution table — q316's compressed-window trick
      oracle = """WITH d AS (
           SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
               AS mth,
             date_diff('day', cast(o_orderdate AS date),
               cast(l_shipdate AS date)) AS delay
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         dist AS (SELECT mth, delay, cast(count(*) AS bigint) AS c
           FROM d GROUP BY 1, 2),
         cum AS (
           SELECT mth, delay, c,
             cast(sum(c) OVER (PARTITION BY mth ORDER BY delay
               ROWS UNBOUNDED PRECEDING) AS bigint) AS cc,
             cast(sum(c) OVER (PARTITION BY mth) AS bigint) AS n
           FROM dist)
         SELECT mth AS ship_month, cast(n AS bigint) AS n_items,
           cast(min(CASE WHEN cc >= (95 * n + 99) // 100 THEN delay END)
             AS bigint) AS p95_delay_days
         FROM cum GROUP BY 1, 2"""),

    // ---- EXT: dataset profile drift between periods ----
    Gate("q384_profile_drift", (s, dir) => {
      // the data-contract monitor: volume / user-cardinality / value-mean
      // / null-rate profiles of the two event halves, with drift ratios —
      // exact moments per period, mirrored divisions, NULL-guarded where
      // the baseline is zero.
      val ev = Tables.events(s, dir)
      val b = ev.agg(min(col("ts").cast("date")).as("__d0"))
      val m = ev.crossJoin(broadcast(b))
        .withColumn("__p",
          when(col("ts").cast("date") < date_add(col("__d0"), 15), "p1")
            .otherwise("p2"))
        .groupBy(col("__p"))
        .agg(count(lit(1)).as("__nr"),
          countDistinct(col("user_id")).as("__nu"),
          round(sum(col("value").cast(D)).cast("double") /
            count(lit(1)).cast("double"), 6).as("__mv"),
          round(sum(when(col("props").isNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)).cast("double"), 6).as("__zr"))
      def g(p: String, c: String, out: String) =
        max(when(col("__p") === p, col(c))).as(out)
      val w = m.agg(g("p1", "__nr", "r1"), g("p2", "__nr", "r2"),
        g("p1", "__nu", "u1"), g("p2", "__nu", "u2"),
        g("p1", "__mv", "m1"), g("p2", "__mv", "m2"),
        g("p1", "__zr", "z1"), g("p2", "__zr", "z2"))
      def row(name: String, a: org.apache.spark.sql.Column,
              bb: org.apache.spark.sql.Column, guard: Boolean) =
        w.select(lit(name).as("metric"),
          (a.cast("double") + lit(0.0d)).as("period1"),
          (bb.cast("double") + lit(0.0d)).as("period2"),
          (if (guard)
            when(a.cast("double") > 0,
              round(bb.cast("double") / a.cast("double"), 6) + lit(0.0d))
          else round(bb.cast("double") / a.cast("double"), 6) + lit(0.0d))
            .as("drift_ratio"))
      row("n_rows", col("r1"), col("r2"), guard = false)
        .unionByName(row("n_users", col("u1"), col("u2"), guard = false))
        .unionByName(row("mean_value", col("m1"), col("m2"), guard = false))
        .unionByName(row("null_props_rate", col("z1"), col("z2"),
          guard = true))
    },
      // profile drift: per-period exact moments, NULL-guarded ratios
      oracle = """WITH b AS (SELECT min(cast(ts AS date)) AS d0 FROM events),
         e AS (SELECT CASE WHEN cast(ts AS date) < d0 + to_days(15)
             THEN 'p1' ELSE 'p2' END AS period, user_id,
             cast(cast(value AS decimal(18,2)) AS double) AS v, props
           FROM events CROSS JOIN b),
         m AS (
           SELECT period, cast(count(*) AS bigint) AS n_rows,
             cast(count(DISTINCT user_id) AS bigint) AS n_users,
             round(cast(sum(cast(v AS decimal(18,2))) AS double)
               / cast(count(*) AS double), 6) AS mean_value,
             round(cast(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
               AS double) / cast(count(*) AS double), 6)
               AS null_props_rate
           FROM e GROUP BY 1),
         w AS (
           SELECT
             max(CASE WHEN period='p1' THEN n_rows END) AS r1,
             max(CASE WHEN period='p2' THEN n_rows END) AS r2,
             max(CASE WHEN period='p1' THEN n_users END) AS u1,
             max(CASE WHEN period='p2' THEN n_users END) AS u2,
             max(CASE WHEN period='p1' THEN mean_value END) AS m1,
             max(CASE WHEN period='p2' THEN mean_value END) AS m2,
             max(CASE WHEN period='p1' THEN null_props_rate END) AS z1,
             max(CASE WHEN period='p2' THEN null_props_rate END) AS z2
           FROM m)
         SELECT 'n_rows' AS metric, cast(r1 AS double) + 0.0 AS period1,
           cast(r2 AS double) + 0.0 AS period2,
           round(cast(r2 AS double) / cast(r1 AS double), 6) + 0.0
             AS drift_ratio
         FROM w
         UNION ALL
         SELECT 'n_users', cast(u1 AS double) + 0.0,
           cast(u2 AS double) + 0.0,
           round(cast(u2 AS double) / cast(u1 AS double), 6) + 0.0 FROM w
         UNION ALL
         SELECT 'mean_value', m1 + 0.0, m2 + 0.0,
           round(m2 / m1, 6) + 0.0 FROM w
         UNION ALL
         SELECT 'null_props_rate', z1 + 0.0, z2 + 0.0,
           CASE WHEN z1 > 0 THEN round(z2 / z1, 6) + 0.0 END FROM w"""),

    // ---- EXT: k-anonymity risk audit ----
    Gate("q401_k_anonymity", (s, dir) => {
      // disclosure-risk governance over the quasi-identifier class table
      // (nation, segment, $1000 balance band): for k ∈ {2, 5, 10}, how many
      // rows sit in equivalence classes smaller than k. One hash aggregate
      // builds the class table; the k-grid is a 3-row broadcast. All
      // comparisons are exact integers.
      val classes = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0d).cast("long").as("__band"))
        .agg(count(lit(1)).as("__sz"))
      val ks = s.range(0, 3).select(
        element_at(array(lit(2L), lit(5L), lit(10L)), col("id").cast("int") + 1)
          .as("k"))
      classes.crossJoin(broadcast(ks))
        .groupBy(col("k"))
        .agg(sum(col("__sz")).as("n_rows"),
          count(lit(1)).as("n_classes"),
          sum(when(col("__sz") < col("k"), col("__sz")).otherwise(0L))
            .as("n_at_risk"))
        .select(col("k"), col("n_rows"), col("n_classes"), col("n_at_risk"),
          (round(col("n_at_risk").cast("double") /
            col("n_rows").cast("double"), 6) + lit(0.0d)).as("risk_share"))
    },
      oracle = """WITH classes AS (SELECT c_nationkey, c_mktsegment,
             cast(floor(c_acctbal / 1000.0) AS bigint) AS band,
             cast(count(*) AS bigint) AS sz
           FROM customer GROUP BY 1, 2, 3),
         ks AS (SELECT cast(kk.k AS bigint) AS k
           FROM (SELECT unnest([2, 5, 10]) AS k) AS kk)
         SELECT k, cast(sum(sz) AS bigint) AS n_rows,
           cast(count(*) AS bigint) AS n_classes,
           cast(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS bigint)
             AS n_at_risk,
           round(cast(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS double)
             / cast(sum(sz) AS double), 6) + 0.0 AS risk_share
         FROM classes CROSS JOIN ks GROUP BY k"""),

    // ---- EXT: l-diversity audit ----
    Gate("q402_l_diversity", (s, dir) => {
      // the companion disclosure audit: within each (nation, segment)
      // quasi-identifier class, how diverse is the sensitive attribute
      // (the $2000 balance band)? For l ∈ {2, 3, 5}: classes with fewer
      // than l distinct sensitive values and the rows they expose.
      val classes = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("__sz"),
          countDistinct(floor(col("c_acctbal") / 2000.0d).cast("long"))
            .as("__l"))
      val ls = s.range(0, 3).select(
        element_at(array(lit(2L), lit(3L), lit(5L)), col("id").cast("int") + 1)
          .as("l"))
      classes.crossJoin(broadcast(ls))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("__l") < col("l"), 1L).otherwise(0L))
            .as("n_classes_below"),
          sum(when(col("__l") < col("l"), col("__sz")).otherwise(0L))
            .as("n_rows_exposed"))
    },
      oracle = """WITH classes AS (SELECT c_nationkey, c_mktsegment,
             cast(count(*) AS bigint) AS sz,
             cast(count(DISTINCT cast(floor(c_acctbal / 2000.0) AS bigint))
               AS bigint) AS l
           FROM customer GROUP BY 1, 2),
         ls AS (SELECT cast(ll.l AS bigint) AS lv
           FROM (SELECT unnest([2, 3, 5]) AS l) AS ll)
         SELECT lv AS l, cast(count(*) AS bigint) AS n_classes,
           cast(sum(CASE WHEN classes.l < lv THEN 1 ELSE 0 END) AS bigint)
             AS n_classes_below,
           cast(sum(CASE WHEN classes.l < lv THEN sz ELSE 0 END) AS bigint)
             AS n_rows_exposed
         FROM classes CROSS JOIN ls GROUP BY lv"""),

    // ---- EXT: small-cell suppression (statistical disclosure control) ----
    Gate("q403_cell_suppression", (s, dir) => {
      // the publishing rule: nation×segment counts with cells under 10
      // suppressed and rolled into one OTHER cell, so no small group is
      // identifiable in the released table. Exact integer counts; the
      // roll-up keeps the published total equal to the true total.
      val cells = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      val kept = cells.filter(col("n") >= 10)
        .select(col("n_name"), col("c_mktsegment"), col("n"),
          lit(0L).as("n_suppressed_cells"))
      val other = cells.filter(col("n") < 10)
        .agg(sum(col("n")).as("n"), count(lit(1)).as("n_suppressed_cells"))
        .filter(col("n").isNotNull)
        .select(lit("OTHER").as("n_name"), lit("OTHER").as("c_mktsegment"),
          col("n"), col("n_suppressed_cells"))
      kept.unionByName(other)
    },
      oracle = """WITH cells AS (SELECT n_name, c_mktsegment,
             cast(count(*) AS bigint) AS n
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2)
         SELECT n_name, c_mktsegment, n,
           cast(0 AS bigint) AS n_suppressed_cells
         FROM cells WHERE n >= 10
         UNION ALL
         SELECT 'OTHER' AS n_name, 'OTHER' AS c_mktsegment,
           cast(sum(n) AS bigint) AS n,
           cast(count(*) AS bigint) AS n_suppressed_cells
         FROM cells WHERE n < 10 HAVING count(*) > 0"""),

    // ---- EXT: quasi-identifier uniqueness-risk curve ----
    Gate("q405_uniqueness_curve", (s, dir) => {
      // re-identification risk vs attribute release: how quickly row
      // uniqueness explodes as quasi-identifiers accumulate — level 1
      // (nation), level 2 (+segment), level 3 (+$1000 balance band).
      // Three hash aggregates over the same scan, unioned.
      def level(n: Int, qis: Seq[org.apache.spark.sql.Column]) =
        Tables.customer(s, dir)
          .groupBy(qis: _*)
          .agg(count(lit(1)).as("__sz"))
          .agg(count(lit(1)).as("n_classes"),
            sum(when(col("__sz") === 1L, 1L).otherwise(0L)).as("n_unique"),
            sum(col("__sz")).as("n_rows"))
          .select(lit(n).as("level"), col("n_classes"), col("n_unique"),
            (round(col("n_unique").cast("double") /
              col("n_rows").cast("double"), 6) + lit(0.0d))
              .as("unique_share"))
      val band = floor(col("c_acctbal") / 1000.0d).cast("long")
      level(1, Seq(col("c_nationkey")))
        .unionByName(level(2, Seq(col("c_nationkey"), col("c_mktsegment"))))
        .unionByName(level(3,
          Seq(col("c_nationkey"), col("c_mktsegment"), band)))
    },
      oracle = """WITH c AS (SELECT c_nationkey, c_mktsegment,
             cast(floor(c_acctbal / 1000.0) AS bigint) AS band
           FROM customer),
         s1 AS (SELECT cast(count(*) AS bigint) AS sz FROM c
           GROUP BY c_nationkey),
         s2 AS (SELECT cast(count(*) AS bigint) AS sz FROM c
           GROUP BY c_nationkey, c_mktsegment),
         s3 AS (SELECT cast(count(*) AS bigint) AS sz FROM c
           GROUP BY c_nationkey, c_mktsegment, band),
         l1 AS (SELECT cast(1 AS int) AS level,
             cast(count(*) AS bigint) AS n_classes,
             cast(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS bigint)
               AS n_unique,
             round(cast(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS double)
               / cast(sum(sz) AS double), 6) + 0.0 AS unique_share
           FROM s1),
         l2 AS (SELECT cast(2 AS int) AS level,
             cast(count(*) AS bigint) AS n_classes,
             cast(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS bigint)
               AS n_unique,
             round(cast(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS double)
               / cast(sum(sz) AS double), 6) + 0.0 AS unique_share
           FROM s2),
         l3 AS (SELECT cast(3 AS int) AS level,
             cast(count(*) AS bigint) AS n_classes,
             cast(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS bigint)
               AS n_unique,
             round(cast(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS double)
               / cast(sum(sz) AS double), 6) + 0.0 AS unique_share
           FROM s3)
         SELECT * FROM l1 UNION ALL SELECT * FROM l2
         UNION ALL SELECT * FROM l3"""),

    // ---- EXT: user-profile assembly (field survivorship) ----
    Gate("q413_profile_assembly", (s, dir) => {
      // the CRM survivorship merge: each event TYPE carries different
      // fields, and the profile takes, per user, the latest value each
      // field was reported with — latest purchase amount, latest click
      // payload, first signup. One hash aggregate of filtered
      // max_by/min_by; the total order is a zero-padded (ts, event_id)
      // string key (DuckDB's arg_max has no composite-key overload). No
      // windows, no self-joins.
      val ord = format_string("%020d%020d", unix_micros(col("ts")),
        col("event_id"))
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(unix_micros(col("ts"))).as("last_seen_us"),
          min(when(col("event_type") === "signup",
            unix_micros(col("ts")))).as("signup_us"),
          max_by(when(col("event_type") === "purchase",
            round(col("value").cast("double"), 2)),
            when(col("event_type") === "purchase", ord))
            .as("latest_purchase_value"),
          max_by(when(col("event_type") === "click",
            get_json_object(col("props"), "$.k").cast("long")),
            when(col("event_type") === "click", ord))
            .as("latest_click_k"))
    },
      oracle = """SELECT user_id, cast(count(*) AS bigint) AS n_events,
           cast(max(epoch_us(ts)) AS bigint) AS last_seen_us,
           cast(min(epoch_us(ts)) FILTER (WHERE event_type = 'signup')
             AS bigint) AS signup_us,
           arg_max(round(value, 2), printf('%020d%020d', epoch_us(ts),
             event_id)) FILTER (WHERE event_type = 'purchase')
             AS latest_purchase_value,
           arg_max(json_extract(props, '$.k')::bigint,
             printf('%020d%020d', epoch_us(ts), event_id))
             FILTER (WHERE event_type = 'click') AS latest_click_k
         FROM events GROUP BY user_id"""),

    // ---- EXT: ε-DP noisy histogram (deterministic Laplace audit) ----
    Gate("q445_dp_histogram", (s, dir) => {
      // disclosure-control companion to q401–q403: Laplace(1/ε) noise via
      // the inverse CDF on an md5-derived uniform (u = (2h+1)/2^33 — an
      // odd dyadic, so u ≠ 1/2 and the log argument never hits 0), ε=0.5.
      // Deterministic noise is the TESTABLE skeleton of the DP release;
      // swapping the md5 uniform for a real RNG is the one-line production
      // change. Noise is 6-dp rounded before the add (ln-ulp discipline).
      val eps = 0.5
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__u",
          (conv(substring(md5(concat(lit("dp:"), col("event_type"))), 1, 8),
            16, 10).cast("long").cast("double") + lit(0.5d)) / lit(4294967296.0d))
        .withColumn("__noise", round(
          lit(-1.0 / eps) * signum(col("__u") - lit(0.5d)) *
            log(lit(1.0d) - lit(2.0d) * abs(col("__u") - lit(0.5d))), 6))
        .select(col("event_type"), col("n"),
          (round(col("n").cast("double") + col("__noise"), 6) + lit(0.0d))
            .as("noisy_n"),
          (abs(col("__noise")) + lit(0.0d)).as("abs_err"))
    },
      // deterministic Laplace: u = (h + 0.5)/2^32 from the first 8 md5 hex
      // chars, inverse-CDF noise at ε = 0.5, 6-dp rounded before the add
      oracle = """WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
         u AS (SELECT event_type, n,
             (('0x' || substr(md5('dp:' || event_type), 1, 8))::bigint + 0.5)
               / 4294967296.0 AS u
           FROM g),
         z AS (SELECT event_type, n,
             round(-2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6)
               AS noise
           FROM u)
         SELECT event_type, n,
           round(cast(n AS double) + noise, 6) + 0.0 AS noisy_n,
           abs(noise) + 0.0 AS abs_err
         FROM z"""),

    // ---- EXT: randomized response + debias (local-DP telemetry) ----
    Gate("q451_randomized_response", (s, dir) => {
      // the q445 (central-DP) sibling at the LOCAL level: each event
      // reports its sensitive bit (purchase?) through Warner's coin —
      // truth if coin1, else coin2 — and the collector debiases
      // π̂ = 2·p̂(reported) − 1/2. Coins are independent md5 hex nibbles
      // (testable skeleton; production swaps a real RNG). Per user
      // cohort: true rate vs debiased estimate vs |error|, every ratio
      // through the mirrored half-away floor (rational values — q370).
      val h1 = conv(substring(md5(concat(lit("rr1:"),
        col("event_id"))), 1, 1), 16, 10).cast("int")
      val h2 = conv(substring(md5(concat(lit("rr2:"),
        col("event_id"))), 1, 1), 16, 10).cast("int")
      val truth = (col("event_type") === "purchase").cast("int")
      val reported = when(h1 % 2 === 0, truth)
        .otherwise((h2 % 2).cast("int"))
      val floor6 = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1e6) + lit(0.5d)) / lit(1e6)
      Tables.events(s, dir)
        .select((col("user_id") % 8).cast("int").as("cohort"),
          truth.as("__t"), reported.as("__r"))
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"),
          sum(col("__t")).cast("long").as("n_true"),
          sum(col("__r")).cast("long").as("n_reported"))
        .select(col("cohort"), col("n"), col("n_true"),
          floor6(col("n_true").cast("double") / col("n").cast("double"))
            .as("true_rate"),
          floor6(lit(2.0d) * (col("n_reported").cast("double") /
            col("n").cast("double")) - lit(0.5d)).as("debiased_rate"),
          floor6(abs(lit(2.0d) * (col("n_reported").cast("double") /
            col("n").cast("double")) - lit(0.5d) -
            col("n_true").cast("double") / col("n").cast("double")))
            .as("abs_err"))
    },
      // Warner's randomized response mirrored nibble-for-nibble
      oracle = """WITH e AS (SELECT cast(user_id % 8 AS int) AS cohort,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS t,
             CASE WHEN ('0x' || substr(md5('rr1:' ||
                 cast(event_id AS varchar)), 1, 1))::int % 2 = 0
               THEN CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               ELSE ('0x' || substr(md5('rr2:' ||
                 cast(event_id AS varchar)), 1, 1))::int % 2
             END AS r
           FROM events),
         g AS (SELECT cohort, count(*) AS n,
             cast(sum(t) AS bigint) AS n_true,
             cast(sum(r) AS bigint) AS n_reported
           FROM e GROUP BY 1)
         SELECT cohort, n, n_true,
           floor((cast(n_true AS double) / cast(n AS double)) * 1000000.0
             + 0.5) / 1000000.0 AS true_rate,
           floor((2.0 * (cast(n_reported AS double) / cast(n AS double))
             - 0.5) * 1000000.0 + 0.5) / 1000000.0 AS debiased_rate,
           floor(abs(2.0 * (cast(n_reported AS double) / cast(n AS double))
             - 0.5 - cast(n_true AS double) / cast(n AS double))
             * 1000000.0 + 0.5) / 1000000.0 AS abs_err
         FROM g"""),

    // ---- EXT: t-closeness (ordinal EMD disclosure audit) ----
    Gate("q498_t_closeness", (s, dir) => {
      // the distributional upgrade of q401/q402: a quasi-identifier class
      // leaks when its SENSITIVE-value distribution strays from the
      // global one. For the ordered $1000 balance bands the earth-mover
      // distance is the mean |cumulative difference| over band ranks —
      // kept EXACT by cross-multiplying: cum_k = Σ(c_i·N − g_i·n_c) is an
      // integer, EMD = Σ|cum_k| ∕ (n_c·N·(m−1)), ONE final division; the
      // t=0.2 verdict is the integer compare 5·Σ|cum| > n_c·N·(m−1).
      // Bands are bounded by design (≤ ~20) so the grid and the per-class
      // window are both broadcast/bounded — nothing scales with N but
      // the two hash aggregates.
      import org.apache.spark.sql.expressions.Window
      val cust = Tables.customer(s, dir).select(
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0d).cast("long").as("__band"))
      val gli = cust.groupBy(col("__band")).agg(count(lit(1)).as("__g"))
        .withColumn("__i", row_number().over(Window.orderBy(col("__band"))))
      val tot = cust.agg(count(lit(1)).as("__N"),
        countDistinct(col("__band")).as("__m"))
      val cls = cust.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("__nc"))
      val cellc = cust
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("__band"))
        .agg(count(lit(1)).as("__c"))
      val grid = cls.crossJoin(broadcast(gli)).crossJoin(broadcast(tot))
        .join(cellc, Seq("c_nationkey", "c_mktsegment", "__band"), "left")
        .na.fill(0L, Seq("__c"))
      val wCum = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("__i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("__cum",
          sum(col("__c") * col("__N") - col("__g") * col("__nc")).over(wCum))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(max(col("__nc")).as("n_rows"), sum(abs(col("__cum"))).as("__sum"),
          max(col("__N")).as("__Nx"), max(col("__m")).as("__mx"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_rows"),
          (col("__sum").cast("double") /
            (col("n_rows") * col("__Nx") * (col("__mx") - 1)).cast("double"))
            .as("emd"),
          (col("__sum") * 5 > col("n_rows") * col("__Nx") * (col("__mx") - 1))
            .as("violates_t02"))
    },
      // t-closeness: integer cross-multiplied ordinal EMD, one division
      oracle = """WITH cust AS (SELECT c_nationkey, c_mktsegment,
             cast(floor(c_acctbal / 1000.0) AS bigint) AS band
           FROM customer),
         gli AS (SELECT band, count(*) AS g,
             row_number() OVER (ORDER BY band) AS i
           FROM cust GROUP BY band),
         tot AS (SELECT count(*) AS n, count(DISTINCT band) AS m FROM cust),
         cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS nc
           FROM cust GROUP BY 1, 2),
         cellc AS (SELECT c_nationkey, c_mktsegment, band, count(*) AS c
           FROM cust GROUP BY 1, 2, 3),
         grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.nc,
             gli.g, gli.i, tot.n, tot.m, coalesce(cellc.c, 0) AS c
           FROM cls CROSS JOIN gli CROSS JOIN tot
           LEFT JOIN cellc ON cellc.c_nationkey = cls.c_nationkey
             AND cellc.c_mktsegment = cls.c_mktsegment
             AND cellc.band = gli.band),
         cum AS (SELECT c_nationkey, c_mktsegment, nc, n, m,
             sum(c * n - g * nc) OVER (PARTITION BY c_nationkey,
               c_mktsegment ORDER BY i) AS cm
           FROM grid)
         SELECT c_nationkey, c_mktsegment,
           max(nc) AS n_rows,
           cast(sum(abs(cm)) AS double)
             / cast(max(nc) * max(n) * (max(m) - 1) AS double) AS emd,
           sum(abs(cm)) * 5 > max(nc) * max(n) * (max(m) - 1)
             AS violates_t02
         FROM cum GROUP BY 1, 2"""),

    // ---- EXT: entropy l-diversity ----
    Gate("q499_entropy_ldiversity", (s, dir) => {
      // the information-theoretic member of the q401/q402/q498 family:
      // per quasi-identifier class, H = ln(n) − Σc·ln(c)∕n over the
      // sensitive-band histogram (distinct-count l-diversity ignores
      // skew — a 99:1 class passes l=2 but has near-zero entropy). Terms
      // 6-dp rounded then decimal-summed (the q119 ln contract); one
      // vocab-bounded hash aggregate per class.
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0d).cast("long").as("__band"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(sum(col("__c")).as("n_rows"), count(lit(1)).as("n_distinct"),
          sum(round(col("__c").cast("double") *
              log(col("__c").cast("double")), 6).cast("decimal(18,6)"))
            .as("__s"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("n_rows"), col("n_distinct"),
          (round(log(col("n_rows").cast("double")) -
            col("__s").cast("double") / col("n_rows").cast("double"), 6)
            + lit(0.0d)).as("entropy"))
    },
      // entropy l-diversity: H = ln(n) − Σc·ln(c)/n, q119 ln contract
      oracle = """WITH cells AS (SELECT c_nationkey, c_mktsegment,
             cast(floor(c_acctbal / 1000.0) AS bigint) AS band,
             count(*) AS c
           FROM customer GROUP BY 1, 2, 3)
         SELECT c_nationkey, c_mktsegment,
           cast(sum(c) AS bigint) AS n_rows, count(*) AS n_distinct,
           round(ln(cast(sum(c) AS double))
             - cast(sum(cast(round(cast(c AS double) * ln(cast(c AS double)),
                 6) AS decimal(18,6))) AS double)
               / cast(sum(c) AS double), 6) + 0.0 AS entropy
         FROM cells GROUP BY 1, 2"""),
  )
}
