package graft
package gates

import org.apache.spark.sql.functions._
import graft.operators.{Relational => R}
import Gate.D

/** Descriptive and model statistics: correlations, regressions,
  * distribution fits, robust estimators, outlier screens and control charts. */
object StatisticsGates {
  /** Generated DuckDB oracle for q307: three unrolled IRLS (Newton)
    * iterations of 2-feature logistic regression. Per-row gradient/Hessian
    * terms are rounded then decimal-summed, coefficients rounded to 8 dp
    * between rounds, and the 3×3 cofactor solve is written with the exact
    * expression text of the Scala driver solve — the q111 unrolled-
    * iteration discipline applied to model training. The β=0 start makes
    * iteration 1 exp-free (p = 0.5 exactly). */
  private val LogisticOracleSql: String = {
    val iters = 3
    def sumsCte(k: Int, b0: String, b1: String, b2: String): String = {
      val from =
        if (k == 1) "feats"
        else s"feats CROSS JOIN b${k - 1}"
      s""",
         s$k AS (SELECT
             cast(count(*) AS bigint) AS n,
             cast(sum(cast(round(y - p, 6) AS decimal(18,6))) AS double) AS g0,
             cast(sum(cast(round((y - p) * x1, 6) AS decimal(18,6))) AS double) AS g1,
             cast(sum(cast(round((y - p) * x2, 6) AS decimal(18,6))) AS double) AS g2,
             cast(sum(cast(round(w, 6) AS decimal(18,6))) AS double) AS h00,
             cast(sum(cast(round(w * x1, 6) AS decimal(18,6))) AS double) AS h01,
             cast(sum(cast(round(w * x2, 6) AS decimal(18,6))) AS double) AS h02,
             cast(sum(cast(round(w * x1 * x1, 6) AS decimal(18,6))) AS double) AS h11,
             cast(sum(cast(round(w * x1 * x2, 6) AS decimal(18,6))) AS double) AS h12,
             cast(sum(cast(round(w * x2 * x2, 6) AS decimal(18,6))) AS double) AS h22
           FROM (SELECT y, x1, x2, p, p * (1.0 - p) AS w
             FROM (SELECT y, x1, x2,
                 1.0 / (1.0 + exp(-($b0 + $b1 * x1 + $b2 * x2))) AS p
               FROM $from) ip) iw),
         c$k AS (SELECT *,
             h11 * h22 - h12 * h12 AS cA, h02 * h12 - h01 * h22 AS cB,
             h01 * h12 - h02 * h11 AS cC, h00 * h22 - h02 * h02 AS cD,
             h01 * h02 - h00 * h12 AS cE, h00 * h11 - h01 * h01 AS cF
           FROM s$k),
         b$k AS (SELECT
             round($b0 + (cA * g0 + cB * g1 + cC * g2)
               / (h00 * cA + h01 * cB + h02 * cC), 8) AS b0,
             round($b1 + (cB * g0 + cD * g1 + cE * g2)
               / (h00 * cA + h01 * cB + h02 * cC), 8) AS b1,
             round($b2 + (cC * g0 + cE * g1 + cF * g2)
               / (h00 * cA + h01 * cB + h02 * cC), 8) AS b2
           FROM c$k${if (k == 1) "" else s" CROSS JOIN b${k - 1}"})"""
    }
    val body = (1 to iters).map { k =>
      if (k == 1) sumsCte(k, "0.0", "0.0", "0.0")
      else sumsCte(k, s"b${k - 1}.b0", s"b${k - 1}.b1", s"b${k - 1}.b2")
    }.mkString
    s"""WITH feats AS MATERIALIZED (SELECT cast(event_type = 'purchase' AS int) AS y,
             value / 100 AS x1, hour(ts) / 24.0 AS x2 FROM events)$body
         SELECT (SELECT cast(count(*) AS bigint) FROM feats) AS n,
           $iters AS iters,
           b0 + 0.0 AS b0, b1 + 0.0 AS b1, b2 + 0.0 AS b2,
           (SELECT round(cast(sum(cast(round(
               y * ln(p) + (1 - y) * ln(1.0 - p), 6) AS decimal(18,6)))
               AS double), 6) + 0.0
             FROM (SELECT y,
                 1.0 / (1.0 + exp(-(b$iters.b0 + b$iters.b1 * x1
                   + b$iters.b2 * x2))) AS p
               FROM feats CROSS JOIN b$iters) lp) AS log_likelihood
         FROM b$iters"""
  }

  /** Generated DuckDB oracle for q332: twenty unrolled value-iteration
    * rounds of x = Qx + b on the 5-state event chain (absorbing
    * purchase=1 / error=0 pinned each round; 12-dp-rounded terms summed
    * as exact decimals; q142's 6-dp transition probabilities). */
  private val AbsorptionOracleSql: String = {
    val rounds = 20
    val base =
      """WITH seq AS (SELECT event_type,
              lead(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS next_type
            FROM events),
          cnt AS (SELECT event_type AS f, next_type AS t, count(*) AS n
            FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
          trans AS MATERIALIZED (SELECT f, t,
              round(cast(n AS double) /
                cast(sum(n) OVER (PARTITION BY f) AS double), 6) AS p
            FROM cnt),
          states AS MATERIALIZED (SELECT DISTINCT f AS s FROM trans),
          x0 AS (SELECT s, CASE WHEN s = 'purchase' THEN 1.0
              WHEN s = 'error' THEN 0.0 ELSE 0.0 END AS x
            FROM states)"""
    val iterSql = (1 to rounds).map { k =>
      s""",
          x$k AS MATERIALIZED (
            SELECT s, x FROM x${k - 1} WHERE s IN ('purchase', 'error')
            UNION ALL
            SELECT tr.f AS s,
              cast(sum(cast(round(tr.p * xp.x, 12) AS decimal(18,12)))
                AS double) AS x
            FROM trans tr JOIN x${k - 1} xp ON tr.t = xp.s
            WHERE tr.f NOT IN ('purchase', 'error')
            GROUP BY 1)"""
    }.mkString
    base + iterSql +
      s"""
          SELECT s AS event_type,
            round(round(x, 12), 6) + 0.0 AS p_convert_before_error
          FROM x$rounds WHERE s NOT IN ('purchase', 'error')"""
  }

  /** Generated DuckDB oracle for q485 (Bradley-Terry strengths): the
    * 5-segment pairwise win matrix from per-(nation, segment) 6dp
    * balance means, then 20 unrolled MM rounds (Hunter 2004): each
    * un-normalized update's denominator terms are 12-dp-rounded and
    * summed as exact decimals, the vector renormalized to Σp = 1 with
    * the same rounding — the q332/q478 lockstep discipline on a 5-entry
    * state. */
  private val BradleyTerryOracleSql: String = {
    val rounds = 20
    val base =
      """WITH cellm AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
              cast(floor(cast(sum(cast(cast(c_acctbal AS decimal(18,2))
                  * 100 AS bigint)) AS double) / count(*) / 100.0
                * 1000000 + 0.5) AS bigint) AS m6
            FROM customer GROUP BY 1, 2),
          duels AS (SELECT a.seg AS i, b.seg AS j,
              cast(sum(CASE WHEN a.m6 > b.m6 THEN 1 ELSE 0 END)
                AS bigint) AS wij,
              cast(sum(CASE WHEN a.m6 <> b.m6 THEN 1 ELSE 0 END)
                AS bigint) AS nij
            FROM cellm a JOIN cellm b
              ON a.nk = b.nk AND a.seg <> b.seg
            GROUP BY 1, 2),
          m AS MATERIALIZED (SELECT i, j, nij FROM duels WHERE nij > 0),
          wins AS MATERIALIZED (SELECT i, cast(sum(wij) AS bigint) AS wi
            FROM duels GROUP BY 1),
          p0 AS (SELECT i, 0.2 AS x FROM wins)"""
    val iters = (1 to rounds).map { k =>
      s""",
          u$k AS MATERIALIZED (SELECT m.i, w.wi,
              cast(sum(cast(round(cast(m.nij AS double)
                / (pi.x + pj.x), 12) AS decimal(18,12))) AS double)
                AS den
            FROM m JOIN p${k - 1} pi ON pi.i = m.i
            JOIN p${k - 1} pj ON pj.i = m.j
            JOIN wins w ON w.i = m.i
            GROUP BY 1, 2),
          v$k AS MATERIALIZED (SELECT i,
              round(cast(wi AS double) / den, 12) AS x FROM u$k),
          p$k AS MATERIALIZED (SELECT i, round(x /
              (SELECT cast(sum(cast(x AS decimal(18,12))) AS double)
                 FROM v$k), 12) AS x
            FROM v$k)"""
    }.mkString
    base + iters +
      s"""
          SELECT p.i AS segment, w.wi AS n_wins,
            round(round(p.x, 12), 6) + 0.0 AS strength
          FROM p$rounds p JOIN wins w ON w.i = p.i"""
  }

  /** Generated DuckDB oracle for q375: five unrolled IPF rounds (row-scale
    * then column-scale per round), each half-step's cells rounded to 9 dp
    * and kept as exact decimals so the margin sums are order-free — the
    * q332 generated-oracle discipline applied to iterative proportional
    * fitting. */
  private val IpfOracleSql: String = {
    val base =
      """WITH a AS (SELECT o_orderpriority AS p, o_orderstatus AS s,
             cast(count(*) AS bigint) AS n
           FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
           GROUP BY 1, 2),
         rm AS (SELECT o_orderpriority AS p, cast(count(*) AS bigint) AS r
           FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           GROUP BY 1),
         cm AS (SELECT o_orderstatus AS s, cast(count(*) AS bigint) AS c
           FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           GROUP BY 1),
         x0 AS (SELECT p, s, n, cast(n AS decimal(28,9)) AS v FROM a)"""
    val rounds = (1 to 5).map { k =>
      s""",
         rs$k AS (SELECT p, sum(v) AS rs FROM x${k - 1} GROUP BY 1),
         xr$k AS (SELECT t.p, t.s, t.n,
             cast(round(cast(t.v AS double)
               * (cast(rm.r AS double) / cast(rs$k.rs AS double)), 9)
               AS decimal(28,9)) AS v
           FROM x${k - 1} t JOIN rm ON t.p = rm.p
             JOIN rs$k ON t.p = rs$k.p),
         cs$k AS (SELECT s, sum(v) AS cs FROM xr$k GROUP BY 1),
         x$k AS (SELECT t.p, t.s, t.n,
             cast(round(cast(t.v AS double)
               * (cast(cm.c AS double) / cast(cs$k.cs AS double)), 9)
               AS decimal(28,9)) AS v
           FROM xr$k t JOIN cm ON t.s = cm.s
             JOIN cs$k ON t.s = cs$k.s)"""
    }.mkString
    s"""$base$rounds
         SELECT p AS o_orderpriority, s AS o_orderstatus, n AS n_base,
           round(cast(v AS double), 6) + 0.0 AS fitted
         FROM x5"""
  }

  val gates: Seq[Gate] = Seq(
    // ---- A: per-group Pearson correlation from exact moments ----
    Gate("q152_exact_corr", (s, dir) =>
      graft.operators.Analyses.exactCorr(
        Tables.lineitem(s, dir), "l_suppkey", "l_quantity", "l_extendedprice"),
      // Pearson r from exact decimal moments, mirrored double tree:
      // vx = n*sxx − sx², vy likewise, r = (n*sxy − sx*sy)/sqrt(vx*vy);
      // zero-variance groups excluded (r undefined)
      oracle = """WITH t AS (SELECT l_suppkey,
             cast(l_quantity AS decimal(18,2)) AS x,
             cast(l_extendedprice AS decimal(18,2)) AS y FROM lineitem),
         m AS (SELECT l_suppkey, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
           FROM t GROUP BY 1),
         d AS (SELECT l_suppkey, n,
             cast(n AS double) * cast(sxx AS double) -
               cast(sx AS double) * cast(sx AS double) AS vx,
             cast(n AS double) * cast(syy AS double) -
               cast(sy AS double) * cast(sy AS double) AS vy,
             cast(n AS double) * cast(sxy AS double) -
               cast(sx AS double) * cast(sy AS double) AS num
           FROM m)
         SELECT l_suppkey, n, round(num / sqrt(vx * vy), 6) AS corr
         FROM d WHERE vx > 0 AND vy > 0"""),

    // ---- A: per-group winsorized mean (robust location) ----
    Gate("q201_winsorized_mean", (s, dir) =>
      graft.operators.Analyses.winsorizedMean(
        Tables.customer(s, dir), "c_nationkey", "c_acctbal",
        pLo = 0.05, pHi = 0.95),
      // winsorized mean: thresholds rounded to 6dp BEFORE the clip compare
      // (ulp-divergent interpolation), clipped values summed exactly
      oracle = """WITH cuts AS (SELECT c_nationkey,
             round(quantile_cont(c_acctbal, 0.05), 6) AS lo,
             round(quantile_cont(c_acctbal, 0.95), 6) AS hi
           FROM customer GROUP BY 1)
         SELECT c.c_nationkey, count(*) AS n,
           max(lo) AS p_lo, max(hi) AS p_hi,
           cast(sum(cast(round(least(greatest(c_acctbal, lo), hi), 6)
             AS decimal(18,6))) AS double) / cast(count(*) AS double)
             AS winsorized_mean
         FROM customer c JOIN cuts ON c.c_nationkey = cuts.c_nationkey
         GROUP BY 1"""),

    // ---- A: Kaplan-Meier survival (signup -> first purchase) ----
    Gate("q202_kaplan_meier", (s, dir) => {
      val ev = Tables.events(s, dir)
      val t0 = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0"),
          min(when(col("event_type") === "purchase", to_date(col("ts"))))
            .as("dp"),
          max(to_date(col("ts"))).as("dl"))
      val subj = t0.select((col("user_id") % 3).as("seg"),
        when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
          .otherwise(datediff(col("dl"), col("d0"))).as("dur"),
        when(col("dp").isNotNull, 1).otherwise(0).as("ev"))
      graft.operators.Analyses.kaplanMeier(subj, "seg", "dur", "ev")
    },
      // Kaplan-Meier: 6dp-rounded ln factors summed exactly; d = r final
      // point bypasses ln(0)
      oracle = """WITH t0 AS (SELECT user_id,
             min(cast(date_trunc('day', ts) AS date)) AS d0,
             min(CASE WHEN event_type = 'purchase'
               THEN cast(date_trunc('day', ts) AS date) END) AS dp,
             max(cast(date_trunc('day', ts) AS date)) AS dl
           FROM events GROUP BY 1),
         subj AS (SELECT user_id % 3 AS seg,
             CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE dl - d0 END AS dur,
             CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS ev FROM t0),
         grid AS (SELECT seg, cast(dur AS bigint) AS t,
             cast(sum(ev) AS bigint) AS d, count(*) AS al
           FROM subj GROUP BY 1, 2),
         wr AS (SELECT seg, t, d, cast(sum(al) OVER (PARTITION BY seg
             ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS bigint) AS r
           FROM grid),
         tm AS (SELECT seg, t, d, r,
             CASE WHEN d < r THEN cast(round(ln(1.0 -
                 cast(d AS double) / cast(r AS double)), 6) AS decimal(18,6))
               ELSE cast(0 AS decimal(18,6)) END AS term FROM wr),
         cm AS (SELECT seg, t, d, r, sum(term) OVER (PARTITION BY seg
             ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum FROM tm)
         SELECT seg, t, d, r,
           CASE WHEN d = r THEN 0.0
                ELSE round(exp(cast(cum AS double)), 6) END AS survival
         FROM cm"""),

    // ---- A: two-feature OLS per group (normal equations, exact moments) ----
    Gate("q205_ols2", (s, dir) => {
      // every raw moment is an EXACT integer/decimal sum; the closed-form
      // solve is ONE mirrored double tree on bit-identical inputs
      val e = Tables.events(s, dir).select(col("event_type"),
        hour(col("ts")).cast("long").as("x1"),
        dayofweek(col("ts")).cast("long").as("x2"),
        col("value").cast(D).as("y"))
      val m = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("y")).as("sy"),
        sum(col("y") * col("x1")).as("s1y"),
        sum(col("y") * col("x2")).as("s2y"))
      val nD = col("n").cast("double")
      val (s1D, s2D) = (col("s1").cast("double"), col("s2").cast("double"))
      val (s11D, s22D, s12D) = (col("s11").cast("double"),
        col("s22").cast("double"), col("s12").cast("double"))
      val (syD, s1yD, s2yD) = (col("sy").cast("double"),
        col("s1y").cast("double"), col("s2y").cast("double"))
      val S11 = s11D - s1D * s1D / nD
      val S22 = s22D - s2D * s2D / nD
      val S12 = s12D - s1D * s2D / nD
      val S1y = s1yD - s1D * syD / nD
      val S2y = s2yD - s2D * syD / nD
      val det = S11 * S22 - S12 * S12
      val b1 = (S22 * S1y - S12 * S2y) / det
      val b2 = (S11 * S2y - S12 * S1y) / det
      val b0 = syD / nD - b1 * (s1D / nD) - b2 * (s2D / nD)
      m.select(col("event_type"), col("n"),
        round(b0, 6).as("b0"), round(b1, 6).as("b1"), round(b2, 6).as("b2"))
    },
      // OLS-2: raw moments exact, one mirrored closed-form solve
      oracle = """WITH e AS (SELECT event_type,
             cast(hour(ts) AS bigint) AS x1,
             cast(dayofweek(ts) + 1 AS bigint) AS x2,
             cast(value AS decimal(18,2)) AS y
           FROM events),
         m AS (SELECT event_type, count(*) AS n,
             sum(x1) AS s1, sum(x2) AS s2,
             sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
             sum(x1 * x2) AS s12,
             sum(y) AS sy, sum(y * x1) AS s1y, sum(y * x2) AS s2y
           FROM e GROUP BY 1),
         d AS (SELECT event_type, n,
             cast(n AS double) AS nD,
             cast(s1 AS double) AS s1D, cast(s2 AS double) AS s2D,
             cast(s11 AS double) AS s11D, cast(s22 AS double) AS s22D,
             cast(s12 AS double) AS s12D,
             cast(sy AS double) AS syD, cast(s1y AS double) AS s1yD,
             cast(s2y AS double) AS s2yD
           FROM m),
         k AS (SELECT event_type, n, nD, s1D, s2D, syD,
             s11D - s1D * s1D / nD AS S11,
             s22D - s2D * s2D / nD AS S22,
             s12D - s1D * s2D / nD AS S12,
             s1yD - s1D * syD / nD AS S1y,
             s2yD - s2D * syD / nD AS S2y
           FROM d),
         b AS (SELECT event_type, n, nD, s1D, s2D, syD,
             (S22 * S1y - S12 * S2y) / (S11 * S22 - S12 * S12) AS b1,
             (S11 * S2y - S12 * S1y) / (S11 * S22 - S12 * S12) AS b2
           FROM k)
         SELECT event_type, n,
           round(syD / nD - b1 * (s1D / nD) - b2 * (s2D / nD), 6) AS b0,
           round(b1, 6) AS b1, round(b2, 6) AS b2
         FROM b"""),

    // ---- A: Benford first-digit conformance per group ----
    Gate("q218_benford", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_totalprice") >= 1)
        .select(col("o_orderpriority"),
          substring(floor(col("o_totalprice")).cast("long").cast("string"),
            1, 1).cast("int").as("digit"))
      val cnt = o.groupBy(col("o_orderpriority"), col("digit"))
        .agg(count(lit(1)).as("observed"))
      val tot = cnt.groupBy(col("o_orderpriority"))
        .agg(sum(col("observed")).as("__n"))
      cnt.join(tot, Seq("o_orderpriority"))
        .withColumn("__e", col("__n").cast("double") *
          log(10.0, lit(1.0d) + lit(1.0d) / col("digit").cast("double")))
        .select(col("o_orderpriority"), col("digit"), col("observed"),
          round(col("__e"), 6).as("expected"),
          round((col("observed").cast("double") - col("__e")) *
            (col("observed").cast("double") - col("__e")) / col("__e"), 6)
            .as("chi2_contrib"))
    },
      // Benford: Spark's log(10, y) = ln(y)/ln(10) — mirror that exact tree
      oracle = """WITH o AS (SELECT o_orderpriority,
             cast(substr(cast(cast(floor(o_totalprice) AS bigint) AS varchar),
               1, 1) AS int) AS digit
           FROM orders WHERE o_totalprice >= 1),
         cnt AS (SELECT o_orderpriority, digit, count(*) AS observed
           FROM o GROUP BY 1, 2),
         tot AS (SELECT o_orderpriority, sum(observed) AS n
           FROM cnt GROUP BY 1),
         x AS (SELECT cnt.o_orderpriority, digit, observed,
             cast(n AS double) * (ln(cast(1 AS double) +
               cast(1 AS double) / cast(digit AS double)) /
               ln(cast(10 AS double))) AS e
           FROM cnt JOIN tot ON cnt.o_orderpriority = tot.o_orderpriority)
         SELECT o_orderpriority, digit, observed, round(e, 6) AS expected,
           round((cast(observed AS double) - e) *
             (cast(observed AS double) - e) / e, 6) AS chi2_contrib
         FROM x"""),

    // ---- A: PSI distribution-drift report (population stability index) ----
    Gate("q229_psi_drift", (s, dir) => {
      // per-source drift of the n_chars distribution between the even-id
      // (reference) and odd-id (current) halves: 10 equi-width bins over the
      // GLOBAL min/max (one 1-row broadcast), add-1 smoothing over the full
      // bin grid (empty bins included via the 10-row literal bin table),
      // contributions 6dp-rounded then summed exactly in decimal. The
      // monitoring op a production corpus pipeline runs on every refresh.
      val d = Tables.documents(s, dir).select(col("source"),
        (col("doc_id") % 2).cast("int").as("half"), col("n_chars"))
      val mm = d.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      val binned = d.crossJoin(broadcast(mm))
        .withColumn("bin", least(floor(
          (col("n_chars") - col("lo")).cast("double") /
            ((col("hi") - col("lo")).cast("double") / lit(10.0d)))
          .cast("int"), lit(9)))
      val cnt = binned.groupBy(col("source"), col("half"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val tot = d.groupBy(col("source"))
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_cur"))
      val bins = s.range(10).select(col("id").cast("int").as("bin"))
      val grid = d.select(col("source")).distinct()
        .crossJoin(broadcast(bins))
      val g = grid
        .join(cnt.filter(col("half") === 0).select(col("source"), col("bin"),
          col("c").as("c_ref")), Seq("source", "bin"), "left")
        .join(cnt.filter(col("half") === 1).select(col("source"), col("bin"),
          col("c").as("c_cur")), Seq("source", "bin"), "left")
        .na.fill(0L, Seq("c_ref", "c_cur"))
        .join(tot, Seq("source"))
      val p = (col("c_ref") + lit(1.0d)) / (col("n_ref") + lit(10.0d))
      val q = (col("c_cur") + lit(1.0d)) / (col("n_cur") + lit(10.0d))
      g.withColumn("__t",
          round((p - q) * log(p / q), 6).cast("decimal(18,6)"))
        .groupBy(col("source"))
        .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
          sum(col("__t")).cast("double").as("psi"))
    },
      // PSI: same bin rule, add-1 smoothing over the FULL 10-bin grid,
      // mirrored (p-q)*ln(p/q) tree, 6dp terms, exact decimal sum
      oracle = """WITH d AS (SELECT source, cast(doc_id % 2 AS int) AS half, n_chars
           FROM documents),
         mm AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM d),
         binned AS (SELECT source, half,
             least(cast(floor(cast(n_chars - lo AS double) /
               (cast(hi - lo AS double) / 10.0)) AS int), 9) AS bin
           FROM d, mm),
         cnt AS (SELECT source, half, bin, count(*) AS c
           FROM binned GROUP BY 1, 2, 3),
         tot AS (SELECT source,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_cur
           FROM d GROUP BY 1),
         grid AS (SELECT DISTINCT source, bin
           FROM d, (SELECT unnest(generate_series(0, 9)) AS bin)),
         g AS (SELECT grid.source, grid.bin,
             coalesce(r.c, 0) AS c_ref, coalesce(cu.c, 0) AS c_cur
           FROM grid
           LEFT JOIN cnt r ON r.source = grid.source AND r.bin = grid.bin
             AND r.half = 0
           LEFT JOIN cnt cu ON cu.source = grid.source AND cu.bin = grid.bin
             AND cu.half = 1),
         term AS (SELECT g.source, tot.n_ref, tot.n_cur,
             cast(round(
               ((c_ref + 1.0) / (n_ref + 10.0) - (c_cur + 1.0) / (n_cur + 10.0)) *
               ln(((c_ref + 1.0) / (n_ref + 10.0)) /
                  ((c_cur + 1.0) / (n_cur + 10.0))), 6)
               AS decimal(18,6)) AS t
           FROM g JOIN tot ON g.source = tot.source)
         SELECT source, cast(max(n_ref) AS bigint) AS n_ref,
           cast(max(n_cur) AS bigint) AS n_cur,
           cast(sum(t) AS double) AS psi
         FROM term GROUP BY source"""),

    // ---- EXT: exact ROC-AUC via the rank-sum identity ----
    Gate("q234_auc", (s, dir) => {
      // classifier-evaluation staple: AUC of a score column against a binary
      // label, computed as P(score_pos > score_neg) + ½P(tie) from the
      // VALUE-DISTRIBUTION table (distinct n_chars — bounded by the length
      // domain, never corpus-sized; the q130 bounded-domain discipline), not
      // a corpus-sized rank window. Every term is an integer count, so the
      // whole computation is exact until the single final division.
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val dist = d.groupBy(col("n_chars"))
        .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
      // one ordered prefix over the bounded distinct-value table (the only
      // single-partition step; its row count is the value domain, not N)
      val w = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = dist.withColumn("cum_nn_below",
        coalesce(sum(col("nn")).over(w), lit(0L)))
      cum.agg(sum(col("np")).as("__p"), sum(col("nn")).as("__n"),
          sum(col("np") * col("cum_nn_below")).as("__gt"),
          sum(col("np") * col("nn")).as("__tie"))
        .select(col("__p").as("n_pos"), col("__n").as("n_neg"),
          round((col("__gt").cast("double") +
              lit(0.5d) * col("__tie").cast("double")) /
            (col("__p") * col("__n")).cast("double"), 6).as("auc"))
    },
      // AUC: mirrored rank-sum identity over the distinct-value distribution
      // table — integer counts throughout, one final double division
      oracle = """WITH d AS (SELECT n_chars,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
         dist AS (SELECT n_chars, sum(pos) AS np, sum(1 - pos) AS nn
           FROM d GROUP BY 1),
         cum AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_nn_below
           FROM dist)
         SELECT cast(sum(np) AS bigint) AS n_pos,
           cast(sum(nn) AS bigint) AS n_neg,
           round((cast(sum(np * cum_nn_below) AS double) +
               0.5 * cast(sum(np * nn) AS double)) /
             cast(sum(np) * sum(nn) AS double), 6) AS auc
         FROM cum"""),

    // ---- EXT: calibration reliability bins (ECE inputs) ----
    Gate("q236_calibration_bins", (s, dir) => {
      // calibration audit of a deterministic confidence score (clamped
      // length squash predicting lang='en'): 10 equi-width confidence bins,
      // per-bin accuracy vs mean confidence — the reliability-diagram table
      // ECE is read from. Confidences 6dp-rounded then summed exactly in
      // decimal so partial-agg order can't shift the mean.
      val d = Tables.documents(s, dir).select(
        (least(col("n_chars"), lit(2000)).cast("double") / lit(2000.0d))
          .as("conf"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      d.withColumn("bin",
          least(floor(col("conf") * 10).cast("long"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_b"), sum(col("y")).as("n_pos"),
          sum(round(col("conf"), 6).cast("decimal(18,6)")).as("__sc"))
        .select(col("bin"), col("n_b"),
          round(col("n_pos").cast("double") / col("n_b"), 6).as("acc"),
          round(col("__sc").cast("double") / col("n_b"), 6).as("avg_conf"))
    },
      // calibration bins: same bin rule, 6dp terms, exact decimal conf sum
      oracle = """WITH d AS (SELECT
           cast(least(n_chars, 2000) AS double) / 2000.0 AS conf,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         b AS (SELECT least(cast(floor(conf * 10) AS bigint), 9) AS bin,
             conf, y FROM d)
         SELECT bin, cast(count(*) AS bigint) AS n_b,
           round(cast(sum(y) AS double) / count(*), 6) AS acc,
           round(cast(sum(cast(round(conf, 6) AS decimal(18,6))) AS double)
             / count(*), 6) AS avg_conf
         FROM b GROUP BY bin"""),

    // ---- EXT: Theil–Sen robust trend (median of pairwise slopes) ----
    Gate("q253_theil_sen", (s, dir) => {
      // the outlier-proof alternative to OLS (q141): per type, the median
      // of all pairwise day-slopes of the daily series. Pairs live on the
      // bounded DAY GRID (calendar², never event count²); slopes 6dp-
      // rounded BEFORE the median so interpolation runs on identical
      // doubles in both engines.
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val a = daily.toDF("event_type", "a_day", "a_x")
      val b = daily.toDF("event_type", "b_day", "b_x")
      a.join(b, Seq("event_type")).filter(col("a_day") < col("b_day"))
        .withColumn("slope", round(
          (col("b_x") - col("a_x")).cast("double") /
            datediff(col("b_day"), col("a_day")).cast("double"), 6))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 6).as("median_slope"))
    },
      // Theil–Sen: mirrored day-grid pairs, 6dp slopes, interpolated median
      // over identical doubles
      oracle = """WITH daily AS (SELECT event_type, cast(ts AS date) AS day,
           count(*) AS x FROM events GROUP BY 1, 2),
         p AS (SELECT a.event_type,
             round(cast(b.x - a.x AS double) /
               cast(date_diff('day', a.day, b.day) AS double), 6) AS slope
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.day < b.day)
         SELECT event_type, cast(count(*) AS bigint) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS median_slope
         FROM p GROUP BY 1"""),

    // ---- EXT: decile lift / cumulative-gains table ----
    Gate("q280_decile_lift", (s, dir) => {
      // the ranking-evaluation closer (with q234 AUC and q236 calibration):
      // rank by score desc, cut into deciles, report per-decile positive
      // rate and cumulative capture. Deciles are assigned at the DISTINCT-
      // SCORE level via the bounded distribution table (integer cum-count
      // division — ties never straddle engines), not a corpus-sized ntile.
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val dist = d.groupBy(col("n_chars"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
      val w = Window.orderBy(col("n_chars").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val tot = dist.agg(sum(col("n")).as("__N"), sum(col("np")).as("__P"))
      val cum = dist
        .withColumn("__cb", coalesce(sum(col("n")).over(w), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("decile",
          least(expr("(__cb * 10) div __N"), lit(9L)))
      cum.groupBy(col("decile"))
        .agg(sum(col("n")).as("n"), sum(col("np")).as("n_pos"),
          max(col("__P")).as("__p"))
        .withColumn("__cp", sum(col("n_pos")).over(
          Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("decile"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 6)
            .as("pos_rate"),
          round(col("__cp").cast("double") / col("__p").cast("double"), 6)
            .as("cum_capture"))
    },
      // decile lift: mirrored distribution-table deciles + cumulative capture
      oracle = """WITH d AS (SELECT n_chars,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
         dist AS (SELECT n_chars, count(*) AS n, sum(pos) AS np
           FROM d GROUP BY 1),
         tot AS (SELECT sum(n) AS tn, sum(np) AS tp FROM dist),
         cum AS (SELECT n_chars, n, np,
             coalesce(sum(n) OVER (ORDER BY n_chars DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM dist),
         dec AS (SELECT least((cb * 10) // (SELECT tn FROM tot), 9)
             AS decile, n, np FROM cum),
         g AS (SELECT decile, sum(n) AS n, sum(np) AS n_pos
           FROM dec GROUP BY 1),
         f AS (SELECT *, sum(n_pos) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
           FROM g)
         SELECT cast(decile AS bigint) AS decile, cast(n AS bigint) AS n,
           cast(n_pos AS bigint) AS n_pos,
           round(cast(n_pos AS double) / cast(n AS double), 6)
             AS pos_rate,
           round(cast(cp AS double) /
             cast((SELECT tp FROM tot) AS double), 6) AS cum_capture
         FROM f"""),

    // ---- EXT: exact trimmed mean (robust location, drop-10% ends) ----
    Gate("q284_trimmed_mean", (s, dir) => {
      // the robust sibling of q201's winsorized mean: DROP the lowest and
      // highest k = n div 10 observations instead of clamping them.
      // Computed over the value-DISTRIBUTION table with integer rank
      // algebra — each distinct value contributes its clamped overlap with
      // the kept rank interval (k, n−k], so boundary values partially
      // include EXACTLY; decimal value × integer count sums, one final
      // division.
      import org.apache.spark.sql.expressions.Window
      val d = Tables.events(s, dir)
        .select(col("event_type"), col("value").cast(D).as("v"))
      val dist = d.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = d.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val cum = dist
        .withColumn("__cum", sum(col("c")).over(w))
        .join(tot, Seq("event_type"))
        .withColumn("__k", expr("n div 10"))
        .withColumn("__keep",
          greatest(least(col("__cum"), col("n") - col("__k")) -
            greatest(col("__cum") - col("c"), col("__k")), lit(0L)))
      cum.groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("__k")).as("n_trimmed_each"),
          (sum(col("v") * col("__keep")).cast("double") /
            sum(col("__keep")).cast("double")).as("__m"))
        .select(col("event_type"), col("n"), col("n_trimmed_each"),
          round(col("__m"), 6).as("trimmed_mean"))
    },
      // trimmed mean: mirrored rank-overlap algebra on the distribution table
      oracle = """WITH d AS (SELECT event_type, cast(value AS decimal(18,2)) AS v
           FROM events),
         dist AS (SELECT event_type, v, count(*) AS c FROM d GROUP BY 1, 2),
         tot AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
         cum AS (SELECT dist.event_type, v, c, n,
             sum(c) OVER (PARTITION BY dist.event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             n // 10 AS k
           FROM dist JOIN tot USING (event_type)),
         kp AS (SELECT event_type, v, n, k,
             greatest(least(cm, n - k) - greatest(cm - c, k), 0) AS keep
           FROM cum)
         SELECT event_type, cast(max(n) AS bigint) AS n,
           cast(max(k) AS bigint) AS n_trimmed_each,
           round(cast(sum(v * keep) AS double) /
             cast(sum(keep) AS double), 6) AS trimmed_mean
         FROM kp GROUP BY event_type"""),

    // ---- EXT: direct standardization (mix-adjusted mean) ----
    Gate("q285_mix_adjusted_mean", (s, dir) => {
      // "did the metric move, or did the mix?": per-source mean value
      // reweighted to a FIXED reference mix (the all-up source shares) —
      // comparing raw vs adjusted separates composition effects from
      // true per-segment movement. Exact decimal segment sums; the
      // reference shares come from one dimension-sized aggregate.
      val d = Tables.events(s, dir)
        .select(col("event_type"),
          (col("user_id") % 2 === 0).cast("int").as("grp"),
          col("value").cast(D).as("v"))
      val seg = d.groupBy(col("grp"), col("event_type"))
        .agg(count(lit(1)).as("ns"), sum(col("v")).as("sv"))
      val ref = d.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nr"))
      val tot = d.agg(count(lit(1)).as("nt"))
      seg.join(ref, Seq("event_type")).crossJoin(broadcast(tot))
        .withColumn("__term", round(
          (col("nr").cast("double") / col("nt").cast("double")) *
            (col("sv").cast("double") / col("ns").cast("double")), 9)
          .cast("decimal(28,9)"))
        .groupBy(col("grp"))
        .agg(sum(col("ns")).as("n"),
          round(sum(col("sv")).cast("double") /
            sum(col("ns")).cast("double"), 6).as("raw_mean"),
          round(sum(col("__term")).cast("double"), 6).as("adjusted_mean"))
    },
      // mix adjustment: mirrored reference shares × segment means, 9dp
      // terms → exact decimal sum
      oracle = """WITH d AS (SELECT event_type,
           cast(user_id % 2 = 0 AS int) AS grp,
           cast(value AS decimal(18,2)) AS v FROM events),
         seg AS (SELECT grp, event_type, count(*) AS ns, sum(v) AS sv
           FROM d GROUP BY 1, 2),
         ref AS (SELECT event_type, count(*) AS nr FROM d GROUP BY 1),
         tot AS (SELECT count(*) AS nt FROM d),
         t AS (SELECT grp, ns, sv,
             cast(round((cast(nr AS double) /
               cast((SELECT nt FROM tot) AS double)) *
               (cast(sv AS double) / cast(ns AS double)), 9)
               AS decimal(28,9)) AS term
           FROM seg JOIN ref USING (event_type))
         SELECT grp, cast(sum(ns) AS bigint) AS n,
           round(cast(sum(sv) AS double) / cast(sum(ns) AS double), 6)
             AS raw_mean,
           round(cast(sum(term) AS double), 6) AS adjusted_mean
         FROM t GROUP BY grp"""),

    // ---- EXT: per-key rate anomaly + score normalization ----
    Gate("q129_rate_anomalies", (s, dir) =>
      graft.operators.Analyses.rateAnomalies(
        Tables.events(s, dir), "user_id", "ts", zThresh = 2.0),
      // z-scores from exact integer moments (never stddev_samp — accumulation
      // order is engine-specific); observed-day baseline, nd >= 2, var > 0
      oracle = """WITH daily AS (SELECT user_id, cast(date_trunc('day', ts) AS date) AS day,
           count(*) AS n_events FROM events GROUP BY 1, 2),
         stats AS (SELECT user_id, count(*) AS nd,
           cast(sum(n_events) AS bigint) AS s,
           cast(sum(n_events * n_events) AS bigint) AS ss
           FROM daily GROUP BY 1 HAVING count(*) >= 2),
         j AS (SELECT d.user_id, d.day, d.n_events,
           cast(s AS double) / cast(nd AS double) AS mean,
           (cast(ss AS double) - cast(s AS double) * cast(s AS double) /
             cast(nd AS double)) / (cast(nd AS double) - 1) AS var
           FROM daily d JOIN stats USING (user_id))
         SELECT user_id, day, n_events,
           round((cast(n_events AS double) - mean) / sqrt(var), 6) AS z
         FROM j WHERE var > 0
           AND abs((cast(n_events AS double) - mean) / sqrt(var)) >= 2"""),
    Gate("q141_trend_slope", (s, dir) =>
      graft.operators.Analyses.trendSlope(
        Tables.events(s, dir), "user_id", "ts", "value"),
      // OLS trend from exact moments: x = whole seconds since the key's first
      // event (div — exact), Σx² via decimal-widened squares, one final
      // closed-form double evaluation; det-0 (co-timestamped) keys excluded
      oracle = """WITH t0 AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
         xy AS (SELECT e.user_id,
             (epoch_us(e.ts) - epoch_us(t0)) // 1000000 AS x,
             cast(e.value AS decimal(18,2)) AS y
           FROM events e JOIN t0 USING (user_id)),
         m AS (SELECT user_id, count(*) AS n,
             cast(sum(x) AS bigint) AS sx,
             sum(cast(x AS decimal(20,0)) * x) AS sxx,
             sum(y) AS sy,
             sum(y * x) AS sxy
           FROM xy GROUP BY 1),
         d AS (SELECT user_id, n,
             cast(n AS double) * cast(sxx AS double) -
               cast(sx AS double) * cast(sx AS double) AS det,
             cast(n AS double) * cast(sxy AS double) -
               cast(sx AS double) * cast(sy AS double) AS num,
             cast(sx AS double) AS sxd, cast(sy AS double) AS syd
           FROM m)
         SELECT user_id, n, round(num / det, 6) + 0.0 AS slope,
           round((syd - (num / det) * sxd) / cast(n AS double), 6) + 0.0
             AS intercept
         FROM d WHERE det > 0"""),
    Gate("q139_mad_outliers", (s, dir) =>
      graft.operators.Analyses.madOutliers(
        Tables.events(s, dir), "user_id", "ts", thresh = 3.5),
      // MAD: integer daily counts make the interpolated median/MAD exact in
      // both engines; threshold on the unrounded modified z, output rounded
      oracle = """WITH daily AS (SELECT user_id, cast(date_trunc('day', ts) AS date) AS day,
           count(*) AS n_events FROM events GROUP BY 1, 2),
         med AS (SELECT user_id, quantile_cont(n_events, 0.5) AS med
           FROM daily GROUP BY 1),
         dev AS (SELECT d.user_id, day, n_events, med,
           abs(cast(n_events AS double) - med) AS adev
           FROM daily d JOIN med USING (user_id)),
         mad AS (SELECT user_id, quantile_cont(adev, 0.5) AS mad
           FROM dev GROUP BY 1)
         SELECT v.user_id, v.day, v.n_events,
           round((cast(0.6745 AS double) * (cast(n_events AS double) - med)) / mad,
             6) AS rz
         FROM dev v JOIN mad USING (user_id)
         WHERE mad > 0
           AND abs((cast(0.6745 AS double) * (cast(n_events AS double) - med)) / mad)
             > cast(3.5 AS double)"""),

    // ---- EXT: autocorrelation of the daily revenue series (lags 1..7) ----
    Gate("q286_acf_daily", (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast(D)).as("rev"))
      graft.operators.Analyses.acfByLag(daily, "day", "rev", maxLag = 7)
    },
      // ACF from exact-decimal cross moments; calendar-date lag alignment
      oracle = """WITH s AS (SELECT cast(o_orderdate AS date) AS d,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS v
           FROM orders GROUP BY 1),
         base AS (SELECT cast(count(*) AS bigint) AS n, sum(v) AS sv,
             sum(cast(v AS decimal(28,2)) * v) AS svv FROM s),
         lags AS (SELECT l.lag, cast(count(*) AS bigint) AS n_pairs,
             sum(a.v) AS spa, sum(b.v) AS spb,
             sum(cast(a.v AS decimal(28,2)) * b.v) AS spab
           FROM (SELECT unnest(range(1, 8)) AS lag) l
           JOIN s a ON true
           JOIN s b ON b.d = a.d + cast(l.lag AS int)
           GROUP BY 1),
         mb AS (SELECT n, svv, cast(sv AS double) / cast(n AS double) AS m
           FROM base)
         SELECT cast(l.lag AS int) AS lag, l.n_pairs,
           round((cast(spab AS double) - m * cast(spa AS double)
               - m * cast(spb AS double)
               + cast(l.n_pairs AS double) * m * m)
             / (cast(svv AS double) - cast(n AS double) * m * m), 6) + 0.0
             AS acf
         FROM lags l CROSS JOIN mb
         WHERE cast(svv AS double) - cast(n AS double) * m * m > 0"""),

    // ---- EXT: Spearman rank correlation (value vs time, per type) ----
    Gate("q289_spearman_rho", (s, dir) =>
      graft.operators.Analyses.spearmanRho(
        Tables.events(s, dir).select(col("event_type"), col("value"),
          unix_micros(col("ts")).as("t_us")),
        "event_type", col("value"), col("t_us")),
      // Spearman: midranks off the distribution table, exact hugeint moments
      oracle = """WITH t AS (SELECT event_type AS g, value AS x, epoch_us(ts) AS y
           FROM events),
         dx AS (SELECT g, x, count(*) AS c FROM t GROUP BY 1, 2),
         rx AS (SELECT g, x,
             2 * (sum(c) OVER (PARTITION BY g ORDER BY x) - c) + c + 1 AS r2
           FROM dx),
         dy AS (SELECT g, y, count(*) AS c FROM t GROUP BY 1, 2),
         ry AS (SELECT g, y,
             2 * (sum(c) OVER (PARTITION BY g ORDER BY y) - c) + c + 1 AS r2
           FROM dy),
         j AS (SELECT t.g, rx.r2 AS ra, ry.r2 AS rb FROM t
           JOIN rx ON t.g = rx.g AND t.x = rx.x
           JOIN ry ON t.g = ry.g AND t.y = ry.y),
         m AS (SELECT g, cast(count(*) AS bigint) AS n,
             sum(cast(ra AS hugeint)) AS sx, sum(cast(rb AS hugeint)) AS sy,
             sum(cast(ra AS hugeint) * rb) AS sxy,
             sum(cast(ra AS hugeint) * ra) AS sxx,
             sum(cast(rb AS hugeint) * rb) AS syy
           FROM j GROUP BY 1),
         v AS (SELECT g, n,
             cast(n AS double) * cast(sxx AS double)
               - cast(sx AS double) * cast(sx AS double) AS vx,
             cast(n AS double) * cast(syy AS double)
               - cast(sy AS double) * cast(sy AS double) AS vy,
             cast(n AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double) AS cxy
           FROM m)
         SELECT g AS event_type, n, round(cxy / sqrt(vx * vy), 6) + 0.0 AS rho
         FROM v WHERE vx > 0 AND vy > 0"""),

    // ---- EXT: geometric + harmonic means per type ----
    Gate("q292_log_means", (s, dir) =>
      graft.operators.Analyses.logMeans(
        Tables.events(s, dir), "event_type", col("value")),
      // geometric/harmonic means: rounded per-term transforms, decimal sums
      oracle = """WITH t AS (SELECT event_type, value AS v FROM events WHERE value > 0)
         SELECT event_type, cast(count(*) AS bigint) AS n,
           round(exp(cast(sum(cast(round(ln(v), 6) AS decimal(18,6)))
             AS double) / cast(count(*) AS double)), 6) + 0.0 AS geo_mean,
           round(cast(count(*) AS double)
             / cast(sum(cast(round(1.0 / v, 9) AS decimal(18,9))) AS double),
             6) + 0.0 AS harmonic_mean
         FROM t GROUP BY 1
         HAVING sum(cast(round(1.0 / v, 9) AS decimal(18,9))) > 0"""),

    // ---- EXT: Gumbel fit of monthly maxima of daily revenue ----
    Gate("q301_gumbel_fit", (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast(D)).as("rev"))
      graft.operators.Analyses.gumbelBlockMaxima(daily, "day", "rev")
    },
      // Gumbel MoM fit: exact block-max moments, hardcoded gamma literal
      oracle = """WITH daily AS (SELECT cast(o_orderdate AS date) AS d,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS v
           FROM orders GROUP BY 1),
         blocks AS (SELECT date_trunc('month', d) AS blk, max(v) AS mx
           FROM daily GROUP BY 1),
         m AS (SELECT cast(count(*) AS bigint) AS n_blocks, sum(mx) AS sv,
             sum(cast(mx AS decimal(28,2)) * mx) AS svv FROM blocks),
         s AS (SELECT n_blocks,
             cast(sv AS double) / cast(n_blocks AS double) AS mean,
             sqrt((cast(n_blocks AS double) * cast(svv AS double)
               - cast(sv AS double) * cast(sv AS double))
               / (cast(n_blocks AS double)
                 * (cast(n_blocks AS double) - 1.0))) AS sd
           FROM m WHERE n_blocks > 1),
         b AS (SELECT n_blocks, mean, sd, sd * sqrt(6.0) / pi() AS beta
           FROM s)
         SELECT n_blocks, round(mean, 6) + 0.0 AS block_max_mean,
           round(sd, 6) + 0.0 AS block_max_sd,
           round(beta, 6) + 0.0 AS gumbel_beta,
           round(mean - 0.5772156649015329 * beta, 6) + 0.0 AS gumbel_mu
         FROM b"""),

    // ---- EXT: decision-stump split search (histogram greedy) ----
    Gate("q304_decision_stump", (s, dir) =>
      // "which feature and cut best separates purchases": candidate grids
      // are the whole-unit-rounded value and the event hour — bounded by
      // construction, the XGBoost histogram discipline
      graft.operators.Analyses.giniStump(
        Tables.events(s, dir),
        features = Seq(
          "value_unit" -> round(col("value"), 0),
          "hour" -> hour(col("ts")).cast("double")),
        label = (col("event_type") === "purchase").cast("int")),
      // stump: cumulative class counts over the candidate grid; rank on
      // rounded Gini with the threshold as tie-break
      oracle = """WITH tagged AS (
           SELECT 'value_unit' AS feature, round(value, 0) AS v,
               cast(event_type = 'purchase' AS int) AS y FROM events
           UNION ALL
           SELECT 'hour', cast(hour(ts) AS double),
               cast(event_type = 'purchase' AS int) FROM events),
         dist AS (SELECT feature, v, cast(count(*) AS bigint) AS c,
             cast(sum(y) AS bigint) AS a
           FROM tagged GROUP BY 1, 2),
         tot AS (SELECT feature, cast(sum(c) AS bigint) AS n,
             cast(sum(a) AS bigint) AS at FROM dist GROUP BY 1),
         cum AS (SELECT feature, v,
             sum(c) OVER (PARTITION BY feature ORDER BY v) AS nl,
             sum(a) OVER (PARTITION BY feature ORDER BY v) AS al
           FROM dist),
         cand AS (SELECT cum.feature, v, nl, al, n - nl AS nr, at - al AS ar,
             nl - al AS bl, (n - nl) - (at - al) AS br, n
           FROM cum JOIN tot ON cum.feature = tot.feature
           WHERE nl < n),
         g AS (SELECT feature, v, nl, nr, al, ar,
             round((cast(nl AS double)
               - (cast(al AS double) * al + cast(bl AS double) * bl)
                 / cast(nl AS double)
               + cast(nr AS double)
               - (cast(ar AS double) * ar + cast(br AS double) * br)
                 / cast(nr AS double)) / cast(n AS double), 6) AS gini
           FROM cand),
         best AS (SELECT *, row_number() OVER (PARTITION BY feature
             ORDER BY gini ASC, v ASC) AS rn FROM g)
         SELECT feature, v AS threshold, gini + 0.0 AS gini,
           cast(nl AS bigint) AS n_left, cast(nr AS bigint) AS n_right,
           round(cast(al AS double) / cast(nl AS double), 6) + 0.0
             AS pos_rate_left,
           round(cast(ar AS double) / cast(nr AS double), 6) + 0.0
             AS pos_rate_right
         FROM best WHERE rn = 1"""),

    // ---- EXT: logistic regression via IRLS (Newton), 3 iterations ----
    Gate("q307_logistic_irls", (s, dir) =>
      graft.operators.Analyses.logisticIrls(
        Tables.events(s, dir),
        x1 = col("value") / 100, x2 = hour(col("ts")) / 24.0d,
        label = col("event_type") === "purchase", iters = 3),
      oracle = LogisticOracleSql),

    // ---- EXT: quantile-gap drift between two slices ----
    Gate("q320_qq_drift", (s, dir) => {
      // decile-grid QQ comparison of the value distribution between the
      // even- and odd-user populations — the quantile-space drift read
      // that PSI (q229, bin-mass space) and KS (q283, max-CDF-gap) don't
      // give: WHERE in the distribution the two slices diverge. Exact
      // percentiles on both slices, rounded before the gap (cross-engine
      // ulp contract); thresholds are two 1-row percentile aggregates.
      val e = Tables.events(s, dir)
        .select((col("user_id") % 2 === 0).as("__even"), col("value"))
      val cuts = (1 to 9).map(_ / 10.0).mkString(", ")
      val qa = e.filter(col("__even"))
        .agg(transform(expr(s"percentile(value, array($cuts))"),
          t => round(t, 6)).as("__qa"))
      val qb = e.filter(!col("__even"))
        .agg(transform(expr(s"percentile(value, array($cuts))"),
          t => round(t, 6)).as("__qb"))
      qa.crossJoin(broadcast(qb))
        .select(posexplode(arrays_zip(col("__qa"), col("__qb"))))
        .select(((col("pos") + 1).cast("int") * 10).as("pct"),
          col("col.__qa").as("q_even"), col("col.__qb").as("q_odd"))
        .withColumn("gap",
          round(abs(col("q_even") - col("q_odd")), 6) + lit(0.0d))
    },
      // QQ drift: rounded exact deciles per slice, absolute gaps
      oracle = """WITH qa AS (SELECT list_transform(
             quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
             t -> round(t, 6)) AS l
           FROM events WHERE user_id % 2 = 0),
         qb AS (SELECT list_transform(
             quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
             t -> round(t, 6)) AS l
           FROM events WHERE user_id % 2 <> 0),
         g AS (SELECT unnest(generate_series(1, 9)) AS i)
         SELECT cast(i * 10 AS int) AS pct,
           qa.l[i] AS q_even, qb.l[i] AS q_odd,
           round(abs(qa.l[i] - qb.l[i]), 6) + 0.0 AS gap
         FROM g CROSS JOIN qa CROSS JOIN qb"""),

    // ---- EXT: log-log price elasticity per product type ----
    Gate("q322_price_elasticity", (s, dir) => {
      // elasticity = d ln(qty) / d ln(unit price), the OLS slope in log
      // space per product type — the q288 Zipf discipline (rounded-ln
      // decimal moments, closed-form slope) applied to the pricing read.
      val d = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
        .select(col("p_type"),
          round(log(col("l_quantity")), 6).cast("decimal(18,6)").as("__y"),
          round(log(col("l_extendedprice") / col("l_quantity")), 6)
            .cast("decimal(18,6)").as("__x"))
      val m = d.groupBy(col("p_type")).agg(
        count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      m.withColumn("__det",
          col("n").cast("double") * col("__sxx").cast("double") -
            col("__sx").cast("double") * col("__sx").cast("double"))
        .filter(col("__det") > 0)
        .select(col("p_type"), col("n"),
          (round((col("n").cast("double") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy").cast("double")) /
            col("__det"), 6) + lit(0.0d)).as("elasticity"))
    },
      // elasticity: rounded-ln decimal moments, closed-form OLS slope
      oracle = """WITH d AS (SELECT p_type,
             cast(round(ln(l_quantity), 6) AS decimal(18,6)) AS y,
             cast(round(ln(l_extendedprice / l_quantity), 6)
               AS decimal(18,6)) AS x
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_quantity > 0 AND l_extendedprice > 0),
         m AS (SELECT p_type, cast(count(*) AS bigint) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx
           FROM d GROUP BY 1),
         s AS (SELECT p_type, n,
             cast(n AS double) * cast(sxx AS double)
               - cast(sx AS double) * cast(sx AS double) AS det,
             cast(n AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double) AS num
           FROM m)
         SELECT p_type, n, round(num / det, 6) + 0.0 AS elasticity
         FROM s WHERE det > 0"""),

    // ---- EXT: partial correlation (confounder-adjusted association) ----
    Gate("q323_partial_corr", (s, dir) => {
      // r_xy·z = (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²)): does value
      // correlate with hour AFTER controlling for weekday — the
      // first-order causal hygiene step q152's raw correlation skips.
      // All three pairwise r's come from ONE exact-decimal moment
      // aggregate; the adjustment is a single mirrored double expression.
      val t = Tables.events(s, dir).select(col("event_type"),
        col("value").cast(D).as("__x"),
        hour(col("ts")).cast("decimal(18,2)").as("__y"),
        weekday(col("ts")).cast("decimal(18,2)").as("__z"))
      val m = t.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__z")).as("__sz"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__z")).as("__sxz"),
        sum(col("__y") * col("__z")).as("__syz"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__z") * col("__z")).as("__szz"))
      def nd(c: String) = col(c).cast("double")
      def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
        (nd("n") * nd(sab) - nd(sa) * nd(sb)) /
          sqrt((nd("n") * nd(saa) - nd(sa) * nd(sa)) *
            (nd("n") * nd(sbb) - nd(sb) * nd(sb)))
      m.withColumn("__rxy", r("__sxy", "__sx", "__sy", "__sxx", "__syy"))
        .withColumn("__rxz", r("__sxz", "__sx", "__sz", "__sxx", "__szz"))
        .withColumn("__rzy", r("__syz", "__sz", "__sy", "__szz", "__syy"))
        .filter(abs(col("__rxz")) < 1 && abs(col("__rzy")) < 1)
        .select(col("event_type"), col("n"),
          (round(col("__rxy"), 6) + lit(0.0d)).as("r_xy"),
          (round((col("__rxy") - col("__rxz") * col("__rzy")) /
            sqrt((lit(1.0d) - col("__rxz") * col("__rxz")) *
              (lit(1.0d) - col("__rzy") * col("__rzy"))), 6) + lit(0.0d))
            .as("r_xy_given_z"))
    },
      // partial correlation: three pairwise r's from one moment aggregate
      oracle = """WITH t AS (SELECT event_type,
             cast(value AS decimal(18,2)) AS x,
             cast(hour(ts) AS decimal(18,2)) AS y,
             cast(isodow(ts) - 1 AS decimal(18,2)) AS z
           FROM events),
         m AS (SELECT event_type, cast(count(*) AS bigint) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
             sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz
           FROM t GROUP BY 1),
         r AS (SELECT event_type, n,
             (cast(n AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double))
               / sqrt((cast(n AS double) * cast(sxx AS double)
                   - cast(sx AS double) * cast(sx AS double))
                 * (cast(n AS double) * cast(syy AS double)
                   - cast(sy AS double) * cast(sy AS double))) AS rxy,
             (cast(n AS double) * cast(sxz AS double)
               - cast(sx AS double) * cast(sz AS double))
               / sqrt((cast(n AS double) * cast(sxx AS double)
                   - cast(sx AS double) * cast(sx AS double))
                 * (cast(n AS double) * cast(szz AS double)
                   - cast(sz AS double) * cast(sz AS double))) AS rxz,
             (cast(n AS double) * cast(syz AS double)
               - cast(sz AS double) * cast(sy AS double))
               / sqrt((cast(n AS double) * cast(szz AS double)
                   - cast(sz AS double) * cast(sz AS double))
                 * (cast(n AS double) * cast(syy AS double)
                   - cast(sy AS double) * cast(sy AS double))) AS rzy
           FROM m)
         SELECT event_type, n, round(rxy, 6) + 0.0 AS r_xy,
           round((rxy - rxz * rzy)
             / sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy)), 6) + 0.0
             AS r_xy_given_z
         FROM r WHERE abs(rxz) < 1 AND abs(rzy) < 1"""),

    // ---- EXT: absorbing-chain conversion probability ----
    Gate("q332_absorption", (s, dir) => {
      // q142's transition matrix turned into the product question it
      // exists for: from each transient state, the probability of
      // reaching 'purchase' before 'error' — x = Qx + b solved by 20
      // lockstep value-iteration rounds over the 5-state chain (the
      // corpus pass is the transition aggregate; the 25-entry chain is a
      // bounded model fit, the kmeans/PQ collect precedent). Terms are
      // rounded to 12 dp then exactly summed each round; transition
      // probabilities carry q142's 6-dp contract.
      import org.apache.spark.sql.expressions.Window
      val wl = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .withColumn("__next", lead(col("event_type"), 1).over(wl))
        .filter(col("__next").isNotNull)
        .groupBy(col("event_type").as("__from"), col("__next").as("__to"))
        .agg(count(lit(1)).as("__n"))
      val withP = trans
        .withColumn("__tot", sum(col("__n")).over(
          Window.partitionBy(col("__from"))))
        .withColumn("__p",
          round(col("__n").cast("double") / col("__tot").cast("double"), 6))
        .select(col("__from"), col("__to"), col("__p"))
      val chain = withP.collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
      val absorbing = Map("purchase" -> 1.0, "error" -> 0.0)
      val states = chain.keys.map(_._1).toSeq.distinct.sorted
      val transient = states.filterNot(absorbing.contains)
      def r12(x: Double): Double =
        BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      var x: Map[String, Double] =
        (transient.map(_ -> 0.0) ++ absorbing.toSeq).toMap
      (1 to 20).foreach { _ =>
        val next = transient.map { st =>
          val terms = states.flatMap(t => chain.get((st, t))
            .map(p => BigDecimal(r12(p * x(t)))))
          st -> (if (terms.isEmpty) 0.0 else terms.sum.toDouble)
        }.toMap
        x = next ++ absorbing
      }
      val rows = transient.map(st => (st, r12(x(st))))
      val spark = s
      import spark.implicits._
      rows.toDF("event_type", "__x")
        .select(col("event_type"),
          (round(col("__x"), 6) + lit(0.0d)).as("p_convert_before_error"))
    },
      oracle = AbsorptionOracleSql),

    // ---- EXT: Kendall tau-b rank correlation (bounded series) ----
    Gate("q343_kendall_tau", (s, dir) => {
      // Kendall tau-b between monthly revenue and monthly order count —
      // the rank-robust complement to q141's OLS slope and the Spearman
      // gate: concordance counted by EXACT decimal/integer sign
      // comparisons over the bounded-series broadcast self-join (80²
      // pairs); the only float op is the final tie-corrected
      // normalization (IEEE sqrt is correctly rounded — deterministic).
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("__m"))
        .agg(sum(col("o_totalprice").cast(D)).as("__rev"),
          count(lit(1)).as("__cnt"))
        .withColumn("__i", row_number().over(Window.orderBy(col("__m"))))
      val a = monthly.select(col("__i").as("ia"), col("__rev").as("xa"),
        col("__cnt").as("ya"))
      val b = monthly.select(col("__i").as("ib"), col("__rev").as("xb"),
        col("__cnt").as("yb"))
      val pairs = a.join(broadcast(b), col("ia") < col("ib"))
      val agg = pairs.agg(
        count(lit(1)).as("__n0"),
        sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
          (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
          (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tied_x"),
        sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("tied_y"))
      val nm = monthly.agg(count(lit(1)).as("n_months"))
      agg.crossJoin(broadcast(nm))
        .select(col("n_months"), col("concordant"), col("discordant"),
          col("tied_x"), col("tied_y"),
          (round((col("concordant") - col("discordant")).cast("double") /
            sqrt((col("__n0") - col("tied_x")).cast("double") *
              (col("__n0") - col("tied_y")).cast("double")), 6)
            + lit(0.0d)).as("tau_b"))
    },
      // Kendall tau-b: exact sign comparisons over the bounded-series
      // self-join; IEEE sqrt only in the final normalization
      oracle = """WITH monthly AS (
           SELECT date_trunc('month', o_orderdate) AS m,
             sum(cast(o_totalprice AS decimal(18,2))) AS rev,
             cast(count(*) AS bigint) AS cnt
           FROM orders GROUP BY 1),
         seq AS (SELECT m, rev, cnt, row_number() OVER (ORDER BY m) AS i
           FROM monthly),
         pairs AS (
           SELECT a.rev AS xa, a.cnt AS ya, b.rev AS xb, b.cnt AS yb
           FROM seq a JOIN seq b ON a.i < b.i),
         agg AS (
           SELECT
             cast(count(*) AS bigint) AS n0,
             cast(sum(CASE WHEN (xa < xb AND ya < yb)
               OR (xa > xb AND ya > yb) THEN 1 ELSE 0 END) AS bigint) AS c,
             cast(sum(CASE WHEN (xa < xb AND ya > yb)
               OR (xa > xb AND ya < yb) THEN 1 ELSE 0 END) AS bigint) AS d,
             cast(sum(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS bigint)
               AS tx,
             cast(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS bigint)
               AS ty
           FROM pairs),
         nm AS (SELECT cast(count(*) AS bigint) AS n_months FROM monthly)
         SELECT n_months, c AS concordant, d AS discordant,
           tx AS tied_x, ty AS tied_y,
           round(cast(c - d AS double)
             / sqrt(cast(n0 - tx AS double) * cast(n0 - ty AS double)), 6)
             + 0.0 AS tau_b
         FROM agg CROSS JOIN nm"""),

    // ---- EXT: Hill tail-index estimator ----
    Gate("q348_hill_tail", (s, dir) => {
      // how heavy is the order-value tail? the Hill estimator over the
      // top k=500 order statistics: α̂ = k / Σ ln(x_i/x_min). The top-501
      // selection is a TakeOrderedAndProject (deterministic price-desc,
      // orderkey tiebreak — never a global sort); ln terms are rounded
      // to 9 dp then EXACTLY summed (the q322/q331 libm-boundary
      // discipline).
      import org.apache.spark.sql.expressions.Window
      val top = Tables.orders(s, dir)
        .select(col("o_totalprice").cast(D).as("__v"), col("o_orderkey"))
        .orderBy(col("__v").desc, col("o_orderkey"))
        .limit(501)
      // the 501-row post-limit set is design-bounded: a global window
      // over it is a single-partition window over 501 rows by construction
      val ranked = top.withColumn("__rk", row_number().over(
        Window.orderBy(col("__v").desc, col("o_orderkey"))))
      val thr = ranked.filter(col("__rk") === 501)
        .select(col("__v").cast("double").as("__xmin"))
      ranked.filter(col("__rk") <= 500)
        .crossJoin(broadcast(thr))
        .select(col("__xmin"),
          round(log(col("__v").cast("double") / col("__xmin")), 9)
            .cast("decimal(18,9)").as("__t"))
        .groupBy(col("__xmin"))
        .agg(sum(col("__t")).as("__st"))
        .select(lit(500L).as("k"),
          (round(col("__xmin"), 2) + lit(0.0d)).as("x_min"),
          (round(lit(500.0d) / col("__st").cast("double"), 6) + lit(0.0d))
            .as("hill_alpha"))
    },
      // Hill: deterministic top-501 order statistics, 9-dp rounded ln
      // terms exactly summed (q322/q331 libm-boundary discipline)
      oracle = """WITH top AS (
           SELECT cast(o_totalprice AS decimal(18,2)) AS v,
             row_number() OVER (ORDER BY
               cast(o_totalprice AS decimal(18,2)) DESC, o_orderkey)
               AS rk
           FROM orders
           ORDER BY cast(o_totalprice AS decimal(18,2)) DESC, o_orderkey
           LIMIT 501),
         thr AS (SELECT cast(v AS double) AS xmin FROM top WHERE rk = 501),
         terms AS (
           SELECT cast(round(ln(cast(v AS double) / xmin), 9)
             AS decimal(18,9)) AS term
           FROM top CROSS JOIN thr WHERE rk <= 500)
         SELECT cast(500 AS bigint) AS k,
           round(xmin, 2) + 0.0 AS x_min,
           round(500.0 / cast(sum(term) AS double), 6) + 0.0 AS hill_alpha
         FROM terms CROSS JOIN thr
         GROUP BY xmin"""),

    // ---- EXT: Fano factor — burstiness of per-user daily activity ----
    Gate("q355_fano_burstiness", (s, dir) =>
      // index of dispersion Var/Mean over (user, day) event counts per
      // stream: 1 = Poisson, > 1 = bursty, < 1 = regular — the traffic-
      // shape scalar behind q300's interarrival profile. Exact integer
      // moments, one double division each.
      Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"),
          col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cells"), sum(col("__c")).as("__s"),
          sum(col("__c") * col("__c")).as("__q"))
        .select(col("event_type"), col("n_cells"),
          (round(col("__s").cast("double") / col("n_cells").cast("double"),
            6) + lit(0.0d)).as("mean_count"),
          (round((col("__q").cast("double") -
            col("__s").cast("double") * col("__s").cast("double") /
              col("n_cells").cast("double")) /
            col("n_cells").cast("double"), 6) + lit(0.0d)).as("var_count"),
          (round((col("n_cells").cast("double") *
            col("__q").cast("double") -
            col("__s").cast("double") * col("__s").cast("double")) /
            (col("n_cells").cast("double") * col("__s").cast("double")),
            6) + lit(0.0d)).as("fano_factor")),
      // Fano: exact integer moments of (user, day) counts per stream
      oracle = """WITH c AS (
           SELECT event_type, user_id, cast(ts AS date) AS d,
             cast(count(*) AS bigint) AS c
           FROM events GROUP BY 1, 2, 3),
         m AS (
           SELECT event_type, cast(count(*) AS bigint) AS n,
             cast(sum(c) AS bigint) AS s,
             cast(sum(c * c) AS bigint) AS q
           FROM c GROUP BY 1)
         SELECT event_type, n AS n_cells,
           round(cast(s AS double) / cast(n AS double), 6) + 0.0
             AS mean_count,
           round((cast(q AS double) - cast(s AS double) * cast(s AS double)
               / cast(n AS double)) / cast(n AS double), 6) + 0.0
             AS var_count,
           round((cast(n AS double) * cast(q AS double)
               - cast(s AS double) * cast(s AS double))
             / (cast(n AS double) * cast(s AS double)), 6) + 0.0
             AS fano_factor
         FROM m"""),

    // ---- EXT: lognormal method-of-moments fit ----
    Gate("q356_lognormal_fit", (s, dir) =>
      // the distributional model behind q301's Gumbel fit, for the body
      // instead of the tail: μ̂, σ̂ of ln(order value) per priority from
      // 9-dp rounded-ln decimal moments (q322's libm discipline), median
      // estimate exp(μ̂) from the 6-dp rounded mean so both engines
      // exponentiate the identical double.
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          round(log(col("o_totalprice").cast(D).cast("double")), 9)
            .cast("decimal(18,9)").as("__lv"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("__lv")).as("__sl"),
          sum(col("__lv").cast("decimal(19,9)") * col("__lv")).as("__ql"))
        .select(col("o_orderpriority"), col("n"),
          (round(col("__sl").cast("double") / col("n").cast("double"), 6)
            + lit(0.0d)).as("mu_hat"),
          (round(sqrt((col("__ql").cast("double") -
            col("__sl").cast("double") * col("__sl").cast("double") /
              col("n").cast("double")) / col("n").cast("double")), 6)
            + lit(0.0d)).as("sigma_hat"),
          (round(exp(round(col("__sl").cast("double") /
            col("n").cast("double"), 6)), 2) + lit(0.0d))
            .as("median_hat")),
      // lognormal MoM: 9-dp rounded-ln decimal moments; exp of the 6-dp
      // rounded mean so both engines exponentiate the identical double
      oracle = """WITH l AS (
           SELECT o_orderpriority,
             cast(round(ln(cast(cast(o_totalprice AS decimal(18,2))
               AS double)), 9) AS decimal(18,9)) AS lv
           FROM orders),
         m AS (
           SELECT o_orderpriority, cast(count(*) AS bigint) AS n,
             sum(lv) AS sl,
             sum(cast(lv AS decimal(19,9)) * lv) AS ql
           FROM l GROUP BY 1)
         SELECT o_orderpriority, n,
           round(cast(sl AS double) / cast(n AS double), 6) + 0.0
             AS mu_hat,
           round(sqrt((cast(ql AS double) - cast(sl AS double)
               * cast(sl AS double) / cast(n AS double))
             / cast(n AS double)), 6) + 0.0 AS sigma_hat,
           round(exp(round(cast(sl AS double) / cast(n AS double), 6)), 2)
             + 0.0 AS median_hat
         FROM m"""),

    // ---- EXT: Hurst exponent via rescaled-range analysis ----
    Gate("q359_hurst_rs", (s, dir) => {
      // long-range dependence of the monthly revenue series: R/S per
      // block at window sizes {10, 20, 40}, Hurst = log-log slope.
      // Everything runs on the bounded monthly series (q336 discipline);
      // block means are 6-dp pinned, running deviations are sequential-
      // frame window sums (deterministic order), block stds come from
      // exact integer-cents moments, and the 3-point slope fit uses
      // exact decimal products so no double summation-order freedom.
      import org.apache.spark.sql.expressions.Window
      val spark = s
      import spark.implicits._
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("__m"))
        .agg(sum(col("o_totalprice").cast(D)).as("__rev"))
      val seq0 = monthly
        .withColumn("__i", row_number().over(Window.orderBy(col("__m"))))
        .withColumn("__cents", (col("__rev") * lit(100)).cast("bigint"))
        .select("__i", "__cents")
      val nRow = seq0.agg(count(lit(1)).as("__nm"))
      val ws = Seq(10, 20, 40).toDF("window_size")
      val blocks = seq0.crossJoin(broadcast(ws))
        .crossJoin(broadcast(nRow))
        .filter(col("__i") <=
          expr("(__nm div window_size) * window_size"))
        .withColumn("__blk", expr("(__i - 1) div window_size"))
      val bm = blocks.groupBy(col("window_size"), col("__blk"))
        .agg(count(lit(1)).as("__n"), sum(col("__cents")).as("__s"),
          sum(col("__cents").cast("decimal(18,0)") *
            col("__cents").cast("decimal(19,0)")).as("__q"))
        .withColumn("__mean6", round(col("__s").cast("double") /
          (col("__n").cast("double") * lit(100.0d)), 6))
      val wCum = Window.partitionBy(col("window_size"), col("__blk"))
        .orderBy(col("__i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dev = blocks
        .join(bm.select(col("window_size"), col("__blk"), col("__mean6")),
          Seq("window_size", "__blk"))
        .withColumn("__cum", sum(col("__cents").cast("double") /
          lit(100.0d) - col("__mean6")).over(wCum))
      val rpart = dev.groupBy(col("window_size"), col("__blk"))
        .agg((max(col("__cum")) - min(col("__cum"))).as("__r"))
      val rs = rpart.join(bm, Seq("window_size", "__blk"))
        .withColumn("__sd",
          sqrt((col("__q").cast("double") -
            col("__s").cast("double") * col("__s").cast("double") /
              col("__n").cast("double")) / col("__n").cast("double")) /
            lit(100.0d))
      val mrs = rs.groupBy(col("window_size"))
        .agg(count(lit(1)).as("n_blocks"),
          round(sum(round(col("__r") / col("__sd"), 6)
            .cast("decimal(18,6)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("__mrs"))
      val pts = mrs.select(
        round(log(col("window_size").cast("double")), 9)
          .cast("decimal(18,9)").as("__x"),
        round(log(col("__mrs")), 9).cast("decimal(18,9)").as("__y"))
      val fit = pts.agg(
        sum(col("__x").cast("decimal(19,9)") * col("__y")).as("__sxy"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x").cast("decimal(19,9)") * col("__x")).as("__sxx"))
        .select(((lit(3.0d) * col("__sxy").cast("double") -
          col("__sx").cast("double") * col("__sy").cast("double")) /
          (lit(3.0d) * col("__sxx").cast("double") -
            col("__sx").cast("double") * col("__sx").cast("double")))
          .as("__slope"))
      mrs.crossJoin(broadcast(fit))
        .select(col("window_size"), col("n_blocks"),
          (col("__mrs") + lit(0.0d)).as("mean_rs"),
          (round(col("__slope"), 6) + lit(0.0d)).as("hurst_exponent"))
    },
      // Hurst R/S: 6-dp pinned block means, sequential-frame running
      // deviations, exact-cents block stds, exact-decimal 3-point slope
      oracle = """WITH monthly AS (
           SELECT date_trunc('month', o_orderdate) AS m,
             sum(cast(o_totalprice AS decimal(18,2))) AS rev
           FROM orders GROUP BY 1),
         seq AS (SELECT rev, row_number() OVER (ORDER BY m) AS i
           FROM monthly),
         ws AS (SELECT unnest([10, 20, 40]) AS w),
         blocks AS (
           SELECT ws.w, (seq.i - 1) // ws.w AS blk, seq.i,
             cast(rev * 100 AS bigint) AS cents
           FROM seq CROSS JOIN ws
           WHERE seq.i <= ((SELECT count(*) FROM seq) // ws.w) * ws.w),
         bm AS (
           SELECT w, blk, cast(count(*) AS bigint) AS n,
             cast(sum(cents) AS bigint) AS s,
             sum(cast(cents AS hugeint) * cents) AS q,
             round(cast(sum(cents) AS double)
               / (cast(count(*) AS double) * 100.0), 6) AS mean6
           FROM blocks GROUP BY 1, 2),
         dev AS (
           SELECT b.w, b.blk, b.i,
             sum(cast(b.cents AS double) / 100.0 - bm.mean6)
               OVER (PARTITION BY b.w, b.blk ORDER BY b.i
                 ROWS UNBOUNDED PRECEDING) AS cum
           FROM blocks b JOIN bm ON b.w = bm.w AND b.blk = bm.blk),
         rpart AS (SELECT w, blk, max(cum) - min(cum) AS r FROM dev
           GROUP BY 1, 2),
         rs AS (
           SELECT rpart.w, rpart.blk, rpart.r,
             sqrt((cast(bm.q AS double) - cast(bm.s AS double)
                 * cast(bm.s AS double) / cast(bm.n AS double))
               / cast(bm.n AS double)) / 100.0 AS sd
           FROM rpart JOIN bm ON rpart.w = bm.w AND rpart.blk = bm.blk),
         mrs AS (
           SELECT w, cast(count(*) AS bigint) AS n_blocks,
             round(cast(sum(cast(round(r / sd, 6) AS decimal(18,6)))
                 AS double)
               / cast(count(*) AS double), 6) AS mean_rs
           FROM rs GROUP BY 1),
         pts AS (
           SELECT cast(round(ln(cast(w AS double)), 9) AS decimal(18,9))
               AS x,
             cast(round(ln(mean_rs), 9) AS decimal(18,9)) AS y
           FROM mrs),
         fit AS (
           SELECT (3.0 * cast(sum(cast(x AS decimal(19,9)) * y) AS double)
               - cast(sum(x) AS double) * cast(sum(y) AS double))
             / (3.0 * cast(sum(cast(x AS decimal(19,9)) * x) AS double)
               - cast(sum(x) AS double) * cast(sum(x) AS double))
               AS slope
           FROM pts)
         SELECT mrs.w AS window_size, mrs.n_blocks,
           mrs.mean_rs + 0.0 AS mean_rs,
           round(fit.slope, 6) + 0.0 AS hurst_exponent
         FROM mrs CROSS JOIN fit"""),

    // ---- EXT: negative-binomial method-of-moments fit ----
    Gate("q360_negbin_fit", (s, dir) =>
      // overdispersion model of per-customer order counts (q132's
      // custdist domain): r̂ = m²/(v−m), p̂ = m/v — defined only when the
      // data is actually overdispersed (v > m), NULL otherwise, matching
      // NB's domain. Exact integer moments, mirrored double algebra.
      Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("__c"))
        .agg(count(lit(1)).as("n_customers"), sum(col("__c")).as("__s"),
          sum(col("__c") * col("__c")).as("__q"))
        .withColumn("__m",
          col("__s").cast("double") / col("n_customers").cast("double"))
        .withColumn("__v",
          (col("__q").cast("double") -
            col("__s").cast("double") * col("__s").cast("double") /
              col("n_customers").cast("double")) /
            col("n_customers").cast("double"))
        .select(col("n_customers"),
          (round(col("__m"), 6) + lit(0.0d)).as("mean_orders"),
          (round(col("__v"), 6) + lit(0.0d)).as("var_orders"),
          when(col("__v") > col("__m"),
            round(col("__m") * col("__m") / (col("__v") - col("__m")), 6)
              + lit(0.0d)).as("r_hat"),
          when(col("__v") > col("__m"),
            round(col("__m") / col("__v"), 6) + lit(0.0d)).as("p_hat")),
      // negative binomial MoM over per-customer order counts; r/p defined
      // only when genuinely overdispersed (v > m)
      oracle = """WITH c AS (SELECT o_custkey, cast(count(*) AS bigint) AS c
           FROM orders GROUP BY 1),
         m AS (SELECT cast(count(*) AS bigint) AS n,
             cast(sum(c) AS bigint) AS s,
             cast(sum(c * c) AS bigint) AS q FROM c),
         mv AS (SELECT n,
             cast(s AS double) / cast(n AS double) AS mean,
             (cast(q AS double) - cast(s AS double) * cast(s AS double)
               / cast(n AS double)) / cast(n AS double) AS var
           FROM m)
         SELECT n AS n_customers,
           round(mean, 6) + 0.0 AS mean_orders,
           round(var, 6) + 0.0 AS var_orders,
           CASE WHEN var > mean
             THEN round(mean * mean / (var - mean), 6) + 0.0 END AS r_hat,
           CASE WHEN var > mean
             THEN round(mean / var, 6) + 0.0 END AS p_hat
         FROM mv"""),

    // ---- EXT: Durbin–Watson residual autocorrelation ----
    Gate("q363_durbin_watson", (s, dir) => {
      // is q141's OLS trend leaving autocorrelated residuals? DW =
      // Σ(e_t − e_{t−1})²/Σe_t² on the monthly-revenue trend fit —
      // residuals rounded to 6 dp, squared terms rounded to 4 dp then
      // EXACTLY decimal-summed (the k-cell reduction discipline), all on
      // the bounded monthly series.
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("__m"))
        .agg(sum(col("o_totalprice").cast(D)).cast("double").as("__y"))
      val seq0 = monthly.withColumn("__t",
        row_number().over(Window.orderBy(col("__m"))).cast("long"))
      val fit = seq0.agg(count(lit(1)).as("__n"),
        sum(col("__t")).as("__st"),
        sum(col("__t") * col("__t")).as("__stt"),
        sum(col("__y").cast("decimal(28,6)")).as("__syd"),
        sum(round(col("__t").cast("double") * col("__y"), 4)
          .cast("decimal(38,4)")).as("__styd"))
        .select(col("__n"), col("__st"), col("__stt"),
          col("__syd").cast("double").as("__sy"),
          col("__styd").cast("double").as("__sty"))
        .withColumn("__b",
          (col("__n").cast("double") * col("__sty") -
            col("__st").cast("double") * col("__sy")) /
            (col("__n").cast("double") * col("__stt").cast("double") -
              col("__st").cast("double") * col("__st").cast("double")))
        .withColumn("__a",
          (col("__sy") - col("__b") * col("__st").cast("double")) /
            col("__n").cast("double"))
      val res = seq0.crossJoin(broadcast(fit.select("__a", "__b")))
        .select(col("__t"),
          round(col("__y") - (col("__a") + col("__b") *
            col("__t").cast("double")), 6).as("__e"))
      val lagd = res.withColumn("__ep",
        lag(col("__e"), 1).over(Window.orderBy(col("__t"))))
      lagd.agg(
          sum(round((col("__e") - col("__ep")) * (col("__e") - col("__ep")),
            4).cast("decimal(38,4)")).as("__sdd"),
          sum(round(col("__e") * col("__e"), 4).cast("decimal(38,4)"))
            .as("__see"),
          count(lit(1)).as("n_months"))
        .select(col("n_months"),
          (round(col("__sdd").cast("double") / col("__see").cast("double"),
            6) + lit(0.0d)).as("durbin_watson"))
    },
      // Durbin-Watson: 6-dp residuals, 4-dp rounded squared terms exactly
      // summed; the trend fit's y-moments are exact decimal sums
      oracle = """WITH monthly AS (
           SELECT date_trunc('month', o_orderdate) AS m,
             cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS y
           FROM orders GROUP BY 1),
         seq AS (SELECT y, cast(row_number() OVER (ORDER BY m) AS bigint)
             AS t
           FROM monthly),
         fit AS (
           SELECT cast(count(*) AS bigint) AS n,
             cast(sum(t) AS bigint) AS st,
             cast(sum(t * t) AS bigint) AS stt,
             cast(sum(cast(y AS decimal(28,6))) AS double) AS sy,
             cast(sum(cast(round(cast(t AS double) * y, 4)
               AS decimal(38,4))) AS double) AS sty
           FROM seq),
         ab AS (
           SELECT n,
             (cast(n AS double) * sty - cast(st AS double) * sy)
               / (cast(n AS double) * cast(stt AS double)
                 - cast(st AS double) * cast(st AS double)) AS b,
             (sy - (cast(n AS double) * sty - cast(st AS double) * sy)
               / (cast(n AS double) * cast(stt AS double)
                 - cast(st AS double) * cast(st AS double))
               * cast(st AS double)) / cast(n AS double) AS a
           FROM fit),
         res AS (
           SELECT seq.t,
             round(seq.y - (ab.a + ab.b * cast(seq.t AS double)), 6) AS e
           FROM seq CROSS JOIN ab),
         lagd AS (
           SELECT t, e, lag(e) OVER (ORDER BY t) AS ep FROM res),
         agg AS (
           SELECT
             sum(cast(round((e - ep) * (e - ep), 4) AS decimal(38,4)))
               AS sdd,
             sum(cast(round(e * e, 4) AS decimal(38,4))) AS see,
             cast(count(*) AS bigint) AS n
           FROM lagd)
         SELECT n AS n_months,
           round(cast(sdd AS double) / cast(see AS double), 6) + 0.0
             AS durbin_watson
         FROM agg"""),

    // ---- EXT: Goodman–Kruskal gamma (ordinal association) ----
    Gate("q364_gk_gamma", (s, dir) => {
      // ordinal association between priority class and order-status
      // stage on the BOUNDED 15-cell contingency table: concordant/
      // discordant weighted by exact cell-count products — the ordinal
      // cousin of the Cramér's V gate, never a row-pair join.
      val cell = Tables.orders(s, dir)
        .groupBy(substring(col("o_orderpriority"), 1, 1).cast("int")
          .as("px"),
          when(col("o_orderstatus") === "F", 1)
            .when(col("o_orderstatus") === "P", 2).otherwise(3).as("sy"))
        .agg(count(lit(1)).as("c"))
      val a = cell.select(col("px").as("pxa"), col("sy").as("sya"),
        col("c").as("ca"))
      val b = cell.select(col("px").as("pxb"), col("sy").as("syb"),
        col("c").as("cb"))
      a.join(broadcast(b), col("pxa") < col("pxb") ||
          (col("pxa") === col("pxb") && col("sya") < col("syb")))
        .agg(
          sum(when((col("pxa") < col("pxb") && col("sya") < col("syb")) ||
            (col("pxa") > col("pxb") && col("sya") > col("syb")),
            col("ca") * col("cb")).otherwise(0L)).as("concordant"),
          sum(when((col("pxa") < col("pxb") && col("sya") > col("syb")) ||
            (col("pxa") > col("pxb") && col("sya") < col("syb")),
            col("ca") * col("cb")).otherwise(0L)).as("discordant"))
        .select(col("concordant"), col("discordant"),
          (round((col("concordant") - col("discordant")).cast("double") /
            (col("concordant") + col("discordant")).cast("double"), 6)
            + lit(0.0d)).as("gk_gamma"))
    },
      // GK gamma: bounded 15-cell contingency table, exact count products
      oracle = """WITH cell AS (
           SELECT cast(substr(o_orderpriority, 1, 1) AS int) AS px,
             CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'P' THEN 2
               ELSE 3 END AS sy,
             cast(count(*) AS bigint) AS c
           FROM orders GROUP BY 1, 2),
         pairs AS (
           SELECT a.px AS pxa, a.sy AS sya, b.px AS pxb, b.sy AS syb,
             a.c AS ca, b.c AS cb
           FROM cell a JOIN cell b
             ON a.px < b.px OR (a.px = b.px AND a.sy < b.sy)),
         agg AS (
           SELECT
             cast(sum(CASE WHEN (pxa < pxb AND sya < syb)
               OR (pxa > pxb AND sya > syb) THEN ca * cb ELSE 0 END)
               AS bigint) AS conc,
             cast(sum(CASE WHEN (pxa < pxb AND sya > syb)
               OR (pxa > pxb AND sya < syb) THEN ca * cb ELSE 0 END)
               AS bigint) AS disc
           FROM pairs)
         SELECT conc AS concordant, disc AS discordant,
           round(cast(conc - disc AS double)
             / cast(conc + disc AS double), 6) + 0.0 AS gk_gamma
         FROM agg"""),

    // ---- EXT: categorical mutual information ----
    Gate("q365_mutual_info", (s, dir) => {
      // I(event_type; day-of-week) in nats — the dependence scalar
      // behind q128's χ² screen: 9-dp rounded p·ln terms over the
      // BOUNDED 35-cell table, exactly decimal-summed.
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          dayofweek(col("ts")).as("__dw"))
        // isodow mirror: Spark dayofweek is 1=Sunday; shift to ISO
        .withColumn("dow",
          when(col("__dw") === 1, 7).otherwise(col("__dw") - 1))
      val cell = e.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("c"))
      val mx = cell.groupBy(col("event_type")).agg(sum(col("c")).as("cx"))
      val my = cell.groupBy(col("dow")).agg(sum(col("c")).as("cy"))
      val tot = cell.agg(sum(col("c")).as("n"))
      cell.join(mx, Seq("event_type")).join(my, Seq("dow"))
        .crossJoin(broadcast(tot))
        .select(round(col("c").cast("double") / col("n").cast("double") *
          log(col("c").cast("double") * col("n").cast("double") /
            (col("cx").cast("double") * col("cy").cast("double"))), 9)
          .cast("decimal(18,9)").as("__term"))
        .agg(count(lit(1)).as("n_cells"),
          (round(sum(col("__term")).cast("double"), 6) + lit(0.0d))
            .as("mutual_info_nats"))
    },
      // mutual information: 9-dp rounded p*ln terms over the bounded
      // 35-cell table, exactly decimal-summed
      oracle = """WITH e AS (SELECT event_type, cast(isodow(ts) AS int) AS dow
           FROM events),
         cell AS (SELECT event_type, dow, cast(count(*) AS bigint) AS c
           FROM e GROUP BY 1, 2),
         mx AS (SELECT event_type, cast(sum(c) AS bigint) AS cx FROM cell
           GROUP BY 1),
         my AS (SELECT dow, cast(sum(c) AS bigint) AS cy FROM cell
           GROUP BY 1),
         tot AS (SELECT cast(sum(c) AS bigint) AS n FROM cell),
         terms AS (
           SELECT cast(round(cast(cell.c AS double) / cast(tot.n AS double)
               * ln(cast(cell.c AS double) * cast(tot.n AS double)
                 / (cast(mx.cx AS double) * cast(my.cy AS double))), 9)
               AS decimal(18,9)) AS term
           FROM cell JOIN mx USING (event_type) JOIN my USING (dow)
             CROSS JOIN tot)
         SELECT cast(count(*) AS bigint) AS n_cells,
           round(cast(sum(term) AS double), 6) + 0.0 AS mutual_info_nats
         FROM terms"""),

    // ---- EXT: empirical-Bayes beta-binomial shrinkage ----
    Gate("q367_eb_shrinkage", (s, dir) => {
      // per-user click-rate smoothing: a beta prior fit by method of
      // moments on the 6-dp rounded rate distribution (exact decimal
      // moments), then every user's rate shrunk toward the global mean
      // by their own evidence — the small-sample CTR estimator. The
      // prior is a 1-row broadcast; the corpus streams once.
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("n_clicks"))
        .withColumn("__ph",
          round(col("n_clicks").cast("double") /
            col("n_events").cast("double"), 6).cast("decimal(18,6)"))
      val prior = u.agg(count(lit(1)).as("__nu"), sum(col("__ph")).as("__sp"),
          sum(col("__ph").cast("decimal(19,6)") * col("__ph")).as("__qp"))
        .select(
          round(col("__sp").cast("double") / col("__nu").cast("double"), 6)
            .as("__mm"),
          round((col("__qp").cast("double") -
            col("__sp").cast("double") * col("__sp").cast("double") /
              col("__nu").cast("double")) / col("__nu").cast("double"), 9)
            .as("__vv"))
        .withColumn("__s0",
          round(col("__mm") * (lit(1.0d) - col("__mm")) / col("__vv") -
            lit(1.0d), 6))
      u.crossJoin(broadcast(prior))
        .select(col("user_id"), col("n_events"), col("n_clicks"),
          (col("__ph").cast("double") + lit(0.0d)).as("raw_rate"),
          (round((round(col("__mm") * col("__s0"), 6) +
            col("n_clicks").cast("double")) /
            (col("__s0") + col("n_events").cast("double")), 6)
            + lit(0.0d)).as("shrunk_rate"))
    },
      // EB shrinkage: beta prior by MoM on the 6-dp rounded rate
      // distribution; 1-row broadcast prior, corpus streams once
      oracle = """WITH u AS (
           SELECT user_id, cast(count(*) AS bigint) AS n,
             cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS bigint) AS k
           FROM events GROUP BY 1),
         p AS (
           SELECT user_id, n, k,
             cast(round(cast(k AS double) / cast(n AS double), 6)
               AS decimal(18,6)) AS ph
           FROM u),
         m AS (
           SELECT cast(count(*) AS bigint) AS nu, sum(ph) AS sp,
             sum(cast(ph AS decimal(19,6)) * ph) AS qp
           FROM p),
         ab AS (
           SELECT
             round(cast(sp AS double) / cast(nu AS double), 6) AS mm,
             round((cast(qp AS double) - cast(sp AS double)
               * cast(sp AS double) / cast(nu AS double))
               / cast(nu AS double), 9) AS vv
           FROM m),
         ab2 AS (
           SELECT mm, vv, round(mm * (1.0 - mm) / vv - 1.0, 6) AS s0
           FROM ab)
         SELECT p.user_id, p.n AS n_events, p.k AS n_clicks,
           cast(p.ph AS double) + 0.0 AS raw_rate,
           round((round(ab2.mm * ab2.s0, 6) + cast(p.k AS double))
             / (ab2.s0 + cast(p.n AS double)), 6) + 0.0 AS shrunk_rate
         FROM p CROSS JOIN ab2"""),

    // ---- EXT: iterative proportional fitting (raking) ----
    Gate("q375_ipf_raking", (s, dir) => {
      // the survey-weighting workhorse: rake the pre-1996 (priority ×
      // status) cell matrix to the post-1996 row/column margins — five
      // lockstep IPF rounds on the BOUNDED 15-cell table (the q332
      // bounded-model-fit collect), each half-step rounded to 9 dp so
      // the Scala fold and the generated unrolled oracle agree exactly.
      val o = Tables.orders(s, dir)
      val cells = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      val post = o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      val rm = post.groupBy(col("o_orderpriority")).agg(count(lit(1)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val cm = post.groupBy(col("o_orderstatus")).agg(count(lit(1)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def r9(x: Double): BigDecimal =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      var state: Map[(String, String), BigDecimal] =
        cells.map { case (k, n) => k -> BigDecimal(n) }.toMap
      (1 to 5).foreach { _ =>
        val rowSum = state.groupBy(_._1._1).view
          .mapValues(_.values.sum).toMap
        state = state.map { case ((p, st), v) =>
          ((p, st), r9(v.toDouble *
            (rm(p).toDouble / rowSum(p).toDouble)))
        }
        val colSum = state.groupBy(_._1._2).view
          .mapValues(_.values.sum).toMap
        state = state.map { case ((p, st), v) =>
          ((p, st), r9(v.toDouble *
            (cm(st).toDouble / colSum(st).toDouble)))
        }
      }
      val spark = s
      import spark.implicits._
      cells.toSeq.map { case ((p, st), n) =>
        (p, st, n, state((p, st)).toDouble)
      }.toDF("o_orderpriority", "o_orderstatus", "n_base", "__v")
        .select(col("o_orderpriority"), col("o_orderstatus"), col("n_base"),
          (round(col("__v"), 6) + lit(0.0d)).as("fitted"))
    },
      oracle = IpfOracleSql),

    // ---- EXT: one-pass Pearson correlation matrix ----
    Gate("q387_corr_matrix", (s, dir) => {
      // the numeric-profile matrix over lineitem's four measures: all
      // 15 moments (4 sums, 10 products, count) in ONE hash aggregate —
      // exact integer-cents / decimal(38,0) — then six mirrored Pearson
      // divisions. One corpus pass for the full matrix, never a pass
      // per pair.
      def c2(n: String) =
        (col(n).cast(D) * lit(100)).cast("bigint")
      val x = Tables.lineitem(s, dir).select(
        c2("l_quantity").as("q"), c2("l_extendedprice").as("e"),
        c2("l_discount").as("d"), c2("l_tax").as("t"))
      def p(a: String, b: String) =
        sum(col(a).cast("decimal(38,0)") * col(b))
      val m = x.agg(count(lit(1)).as("n"),
        sum(col("q")).as("sq"), sum(col("e")).as("se"),
        sum(col("d")).as("sd"), sum(col("t")).as("st"),
        p("q", "q").as("qq"), p("e", "e").as("ee"),
        p("d", "d").as("dd"), p("t", "t").as("tt"),
        p("q", "e").as("qe"), p("q", "d").as("qd"),
        p("q", "t").as("qt2"), p("e", "d").as("ed"),
        p("e", "t").as("et"), p("d", "t").as("dt"))
      def pair(an: String, bn: String, sa: String, sb: String,
               saa: String, sbb: String, sab: String) =
        m.select(lit(an).as("col_a"), lit(bn).as("col_b"),
          (round((col("n").cast("double") * col(sab).cast("double") -
            col(sa).cast("double") * col(sb).cast("double")) /
            sqrt((col("n").cast("double") * col(saa).cast("double") -
              col(sa).cast("double") * col(sa).cast("double")) *
              (col("n").cast("double") * col(sbb).cast("double") -
                col(sb).cast("double") * col(sb).cast("double"))), 6)
            + lit(0.0d)).as("pearson_r"))
      pair("quantity", "extendedprice", "sq", "se", "qq", "ee", "qe")
        .unionByName(pair("quantity", "discount", "sq", "sd", "qq", "dd",
          "qd"))
        .unionByName(pair("quantity", "tax", "sq", "st", "qq", "tt",
          "qt2"))
        .unionByName(pair("extendedprice", "discount", "se", "sd", "ee",
          "dd", "ed"))
        .unionByName(pair("extendedprice", "tax", "se", "st", "ee", "tt",
          "et"))
        .unionByName(pair("discount", "tax", "sd", "st", "dd", "tt",
          "dt"))
    },
      // corr matrix: 15 exact moments in one aggregate, six mirrored
      // Pearson divisions
      oracle = """WITH x AS (
           SELECT cast(cast(l_quantity AS decimal(18,2)) * 100 AS bigint)
               AS q,
             cast(cast(l_extendedprice AS decimal(18,2)) * 100 AS bigint)
               AS e,
             cast(cast(l_discount AS decimal(18,2)) * 100 AS bigint)
               AS d,
             cast(cast(l_tax AS decimal(18,2)) * 100 AS bigint) AS t
           FROM lineitem),
         m AS (
           SELECT cast(count(*) AS bigint) AS n,
             cast(sum(q) AS bigint) AS sq, cast(sum(e) AS bigint) AS se,
             cast(sum(d) AS bigint) AS sd, cast(sum(t) AS bigint) AS st,
             sum(cast(q AS hugeint) * q) AS qq,
             sum(cast(e AS hugeint) * e) AS ee,
             sum(cast(d AS hugeint) * d) AS dd,
             sum(cast(t AS hugeint) * t) AS tt,
             sum(cast(q AS hugeint) * e) AS qe,
             sum(cast(q AS hugeint) * d) AS qd,
             sum(cast(q AS hugeint) * t) AS qt2,
             sum(cast(e AS hugeint) * d) AS ed,
             sum(cast(e AS hugeint) * t) AS et,
             sum(cast(d AS hugeint) * t) AS dt
           FROM x)
         SELECT p.col_a, p.col_b,
           round((cast(p.n AS double) * cast(p.sab AS double)
               - cast(p.sa AS double) * cast(p.sb AS double))
             / sqrt((cast(p.n AS double) * cast(p.saa AS double)
                 - cast(p.sa AS double) * cast(p.sa AS double))
               * (cast(p.n AS double) * cast(p.sbb AS double)
                 - cast(p.sb AS double) * cast(p.sb AS double))), 6)
             + 0.0 AS pearson_r
         FROM (
           SELECT 'quantity' AS col_a, 'extendedprice' AS col_b, n,
             sq AS sa, se AS sb, qq AS saa, ee AS sbb, qe AS sab FROM m
           UNION ALL SELECT 'quantity', 'discount', n, sq, sd, qq, dd, qd
           FROM m
           UNION ALL SELECT 'quantity', 'tax', n, sq, st, qq, tt, qt2
           FROM m
           UNION ALL SELECT 'extendedprice', 'discount', n, se, sd, ee,
             dd, ed FROM m
           UNION ALL SELECT 'extendedprice', 'tax', n, se, st, ee, tt, et
           FROM m
           UNION ALL SELECT 'discount', 'tax', n, sd, st, dd, tt, dt
           FROM m) p"""),

    // ---- EXT: quantile normalization map between sources ----
    Gate("q388_quantile_norm", (s, dir) => {
      // the batch-effect correction table: src0's decile grid mapped
      // onto src1's — integer rank lookups on each source's length
      // DISTRIBUTION table (q316's compressed-window trick); the shift
      // column IS the correction.
      import org.apache.spark.sql.expressions.Window
      val spark = s
      import spark.implicits._
      val l = Tables.documents(s, dir)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), length(col("text")).cast("long").as("len"))
      val dist = l.groupBy(col("source"), col("len"))
        .agg(count(lit(1)).as("__c"))
      val wOrd = Window.partitionBy(col("source")).orderBy(col("len"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("source"))
      val cum = dist
        .withColumn("__cc", sum(col("__c")).over(wOrd))
        .withColumn("__n", sum(col("__c")).over(wAll))
      val q = (1 to 9).toDF("decile")
      val v = cum.crossJoin(broadcast(q))
        .groupBy(col("decile"), col("source"))
        .agg(min(when(col("__cc") >=
          expr("(decile * __n + 9) div 10"), col("len"))).as("__val"))
      val a = v.filter(col("source") === "src0")
        .select(col("decile"), col("__val").as("len_src0"))
      val b = v.filter(col("source") === "src1")
        .select(col("decile"), col("__val").as("len_src1"))
      a.join(b, Seq("decile"))
        .select(col("decile"), col("len_src0"), col("len_src1"),
          (col("len_src1") - col("len_src0")).as("shift"))
    },
      // quantile normalization: per-source distribution-table rank lookups
      oracle = """WITH l AS (SELECT source, cast(length(text) AS bigint) AS len
           FROM documents WHERE source IN ('src0', 'src1')),
         dist AS (SELECT source, len, cast(count(*) AS bigint) AS c
           FROM l GROUP BY 1, 2),
         cum AS (
           SELECT source, len, c,
             cast(sum(c) OVER (PARTITION BY source ORDER BY len
               ROWS UNBOUNDED PRECEDING) AS bigint) AS cc,
             cast(sum(c) OVER (PARTITION BY source) AS bigint) AS n
           FROM dist),
         q AS (SELECT cast(unnest(generate_series(1, 9)) AS int)
           AS decile),
         v AS (
           SELECT q.decile, cum.source,
             min(CASE WHEN cum.cc >= (q.decile * cum.n + 9) // 10
               THEN cum.len END) AS val
           FROM q CROSS JOIN cum GROUP BY 1, 2)
         SELECT a.decile,
           cast(a.val AS bigint) AS len_src0,
           cast(b.val AS bigint) AS len_src1,
           cast(b.val - a.val AS bigint) AS shift
         FROM v a JOIN v b ON a.decile = b.decile
         WHERE a.source = 'src0' AND b.source = 'src1'"""),

    // ---- EXT: Bradley-Terry pairwise-strength model ----
    Gate("q485_bradley_terry", (s, dir) => {
      // latent strengths from pairwise duels: segments "play" inside
      // each nation (higher 6dp mean balance wins, ties undecided), and
      // 20 lockstep MM rounds (Hunter 2004) solve the 5-player model —
      // the corpus pass is one cell aggregate, the solve a bounded
      // 5-entry fit (q332/q478 precedent). Denominator terms are
      // 12-dp-rounded exact-decimal sums; the vector renormalizes each
      // round.
      val cellm = Tables.customer(s, dir)
        .groupBy(col("c_nationkey").as("nk"),
          col("c_mktsegment").as("seg"))
        .agg(floor(sum((col("c_acctbal").cast(D) * 100).cast("long"))
          .cast("double") / count(lit(1)) / 100.0 * 1000000 + 0.5)
          .cast("long").as("m6"))
      val cells = cellm.collect()
        .map(r => (r.getAs[Number]("nk").longValue(), r.getString(1),
          r.getLong(2)))
      val segs = cells.map(_._2).distinct.sorted
      val byNk = cells.groupBy(_._1)
      val wij = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      val nij = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      byNk.values.foreach { cs =>
        for (a <- cs; b <- cs if a._2 != b._2) {
          if (a._3 != b._3) {
            nij((a._2, b._2)) += 1
            if (a._3 > b._3) wij((a._2, b._2)) += 1
          }
        }
      }
      val wins = segs.map(i =>
        i -> segs.filter(_ != i).map(j => wij((i, j))).sum).toMap
      def r12(x: Double): Double =
        BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      var p: Map[String, Double] = segs.map(_ -> 0.2).toMap
      (1 to 20).foreach { _ =>
        val v = segs.map { i =>
          val den = segs.filter(j => j != i && nij((i, j)) > 0)
            .map(j => BigDecimal(r12(nij((i, j)).toDouble
              / (p(i) + p(j))))).sum.toDouble
          i -> r12(wins(i).toDouble / den)
        }.toMap
        val tot = segs.map(i => BigDecimal(v(i))).sum.toDouble
        p = segs.map(i => i -> r12(v(i) / tot)).toMap
      }
      val spark = s
      import spark.implicits._
      segs.map(i => (i, wins(i), p(i))).toSeq
        .toDF("segment", "n_wins", "strength0")
        .select(col("segment"), col("n_wins"),
          (round(col("strength0"), 6) + lit(0.0d)).as("strength"))
    },
      // generated 20-round MM iteration on the 5-segment duel matrix
      oracle = BradleyTerryOracleSql),

    // ---- EXT: isotonic regression (exact minimax closed form) ----
    Gate("q486_isotonic_fit", (s, dir) => {
      // monotone calibration WITHOUT iteration: on the 10-bin design
      // table, the PAVA solution has the closed form
      // fit(k) = max_{i≤k} min_{j≥i} avg(y over bins i..j) — 55 interval
      // averages (6dp-floored integers), then integer min/max algebra.
      // The corpus pass is one hash aggregate to the bins; everything
      // after is design-bounded joins.
      val bins = Tables.lineitem(s, dir)
        .select(expr("(cast(l_quantity AS int) - 1) div 5").cast("int")
          .as("b"),
          (col("l_returnflag") === "R").cast("long").as("r"))
        .groupBy("b")
        .agg(count(lit(1)).as("n"), sum("r").as("x"))
      val binsB = broadcast(bins)
      val ij = binsB.select(col("b").as("i"))
        .crossJoin(binsB.select(col("b").as("j")))
        .filter(col("j") >= col("i"))
      val avg6 = ij.join(binsB,
          col("b") >= col("i") && col("b") <= col("j"))
        .groupBy("i", "j")
        .agg(floor(sum("x").cast("double") / sum("n")
          * 1000000 + 0.5).cast("long").as("a6"))
      val innerMin = avg6.groupBy("i")
        .agg(min("a6").as("min_i")) // min over j >= i of avg(i..j)
      val fit = binsB.select(col("b").as("k"))
        .join(broadcast(innerMin), col("i") <= col("k"))
        .groupBy("k")
        .agg(max("min_i").as("fit6"))
      bins.join(broadcast(fit), col("b") === col("k"))
        .select(col("b"), col("n"), col("x"),
          (floor(col("x").cast("double") / col("n") * 1000000 + 0.5)
            / 1000000.0).as("raw_rate"),
          (col("fit6").cast("double") / 1000000.0).as("iso_rate"))
    },
      // minimax closed form on the 10-bin table
      oracle = """WITH bins AS (SELECT
             cast((cast(l_quantity AS int) - 1) // 5 AS int) AS b,
             cast(count(*) AS bigint) AS n,
             cast(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS bigint) AS x
           FROM lineitem GROUP BY 1),
         ij AS (SELECT a.b AS i, c.b AS j FROM bins a
           CROSS JOIN bins c WHERE c.b >= a.b),
         avg6 AS (SELECT ij.i, ij.j,
             cast(floor(cast(sum(bn.x) AS double) / sum(bn.n)
               * 1000000 + 0.5) AS bigint) AS a6
           FROM ij JOIN bins bn ON bn.b >= ij.i AND bn.b <= ij.j
           GROUP BY 1, 2),
         im AS (SELECT i, min(a6) AS min_i FROM avg6 GROUP BY 1),
         fit AS (SELECT k.b AS k, cast(max(im.min_i) AS bigint) AS fit6
           FROM bins k JOIN im ON im.i <= k.b GROUP BY 1)
         SELECT bins.b AS b, n, x,
           floor(cast(x AS double) / n * 1000000 + 0.5)
             / 1000000.0 AS raw_rate,
           cast(fit6 AS double) / 1000000.0 AS iso_rate
         FROM bins JOIN fit ON fit.k = bins.b"""),

    // ---- EXT: RANSAC robust line fit (deterministic trials) ----
    Gate("q487_ransac_line", (s, dir) => {
      // robust regression by consensus: 32 deterministic trials (the
      // trial's two anchor points are md5-argmins — a testable skeleton
      // for the RNG), each scoring inliers with a CROSS-MULTIPLIED
      // integer residual test (|y·dx − y1·dx − dy·(x−x1)| ≤ t·|dx| — no
      // division, no float). One explode×32 pass builds anchors, one
      // scores; best trial by (inliers desc, trial asc).
      // spread before the explode×16 + hash-pack partial aggregate: the
      // one-file lineitem scan would run that whole 9.6M-row stage in ONE
      // task at bench scale (the q509 one-file-scan lesson; sf1's 16-file
      // layout measured FASTER than sf0.1 for this gate before this fix —
      // 3.1 → 1.2 s). Projected to the 3 needed columns BEFORE the
      // spread so the exchange carries 24 bytes/row, not the full row.
      val pts = Tables.spread(s, Tables.lineitem(s, dir)
        .select((col("l_orderkey").cast("long") * 8
            + col("l_linenumber").cast("long")).as("nk"),
          col("l_quantity").cast("long").as("x"),
          (col("l_extendedprice").cast(D) * 100).cast("long").as("y")))
      val trials = pts.select(col("nk"), col("x"), col("y"),
        explode(sequence(lit(1), lit(16))).as("b"))
      // anchor pick = argmin of a Knuth-multiplier integer hash over
      // (row, x, y, trial) — the hash mixes x and y because the
      // synthetic lineitem carries duplicate (orderkey, linenumber)
      // pairs at larger SFs, and a row-key-only hash would tie (which
      // independent argmin calls break inconsistently across engines).
      // hash + coordinates PACK into one 61-bit long (h·2^30 | x·2^24 |
      // y), so the pick is a primitive min(long) inside whole-stage
      // HashAggregate — a struct- or string-valued min falls to the
      // SortAggregate path and cost 5x the whole bench at sf0.1.
      def packed(salt: Long) = (((col("nk") * 2654435761L
        + col("y") * 97L + col("x") * 31L + col("b") * salt)
        % 2147483647L) * 64L + col("x")) * 16777216L + col("y")
      val anchors = trials.groupBy("b")
        .agg(min(packed(40503L)).as("p1"),
          min(packed(1299721L)).as("p2"))
        .select(col("b"),
          (col("p1") % 16777216L).as("y1"),
          expr("(p1 div 16777216) % 64").as("x1"),
          (col("p2") % 16777216L).as("y2"),
          expr("(p2 div 16777216) % 64").as("x2"))
        .filter(col("x1") =!= col("x2"))
      val t = lit(500000L) // $5000 in cents, scaled by |dx| below
      val scored = pts.crossJoin(broadcast(anchors))
        .withColumn("dx", col("x2") - col("x1"))
        .withColumn("dy", col("y2") - col("y1"))
        .withColumn("inlier",
          (abs((col("y") - col("y1")) * col("dx")
            - col("dy") * (col("x") - col("x1")))
            <= t * abs(col("dx"))).cast("long"))
        .groupBy("b", "x1", "y1", "x2", "y2")
        .agg(sum("inlier").as("n_inliers"), count(lit(1)).as("n"))
      scored.orderBy(col("n_inliers").desc, col("b").asc).limit(1)
        .select(col("b").as("best_trial"), col("n_inliers"), col("n"),
          col("x1"), col("y1"), col("x2"), col("y2"),
          (floor((col("y2") - col("y1")).cast("double")
            / (col("x2") - col("x1"))
            * 1000000 + 0.5) / 1000000.0).as("slope_cents"))
    },
      // deterministic md5-argmin anchors; integer residual test
      oracle = """WITH pts AS (SELECT cast(l_orderkey AS bigint) * 8
             + cast(l_linenumber AS bigint) AS nk,
             cast(l_quantity AS bigint) AS x,
             cast(cast(l_extendedprice AS decimal(18,2)) * 100
               AS bigint) AS y
           FROM lineitem),
         tr AS (SELECT nk, x, y,
             unnest(generate_series(1, 16)) AS b FROM pts),
         a AS (SELECT b,
             min((((nk * 2654435761 + y * 97 + x * 31 + b * 40503)
               % 2147483647) * 64 + x) * 16777216 + y) AS p1,
             min((((nk * 2654435761 + y * 97 + x * 31 + b * 1299721)
               % 2147483647) * 64 + x) * 16777216 + y) AS p2
           FROM tr GROUP BY 1),
         af AS (SELECT b,
             (p1 // 16777216) % 64 AS x1, p1 % 16777216 AS y1,
             (p2 // 16777216) % 64 AS x2, p2 % 16777216 AS y2
           FROM a
           WHERE (p1 // 16777216) % 64 <> (p2 // 16777216) % 64),
         sc AS (SELECT af.b, x1, y1, x2, y2,
             cast(sum(CASE WHEN abs((p.y - y1) * (x2 - x1)
                 - (y2 - y1) * (p.x - x1)) <= 500000 * abs(x2 - x1)
               THEN 1 ELSE 0 END) AS bigint) AS n_inliers,
             cast(count(*) AS bigint) AS n
           FROM pts p CROSS JOIN af GROUP BY 1, 2, 3, 4, 5)
         SELECT cast(b AS int) AS best_trial, n_inliers, n,
           x1, y1, x2, y2,
           floor(cast(y2 - y1 AS double) / (x2 - x1)
             * 1000000 + 0.5) / 1000000.0 AS slope_cents
         FROM sc ORDER BY n_inliers DESC, b LIMIT 1"""),

    // ---- EXT: weight-of-evidence / information-value binning ----
    Gate("q479_woe_iv", (s, dir) => {
      // the credit-scoring screen: quantity decile buckets vs the
      // return outcome, WoE_b = ln(bad-share/good-share) and its IV
      // contribution per bucket — ONE conditional aggregate, bucket
      // table bounded by the binning design. Log runs on exact integer
      // cross-products (bad_b·Good vs good_b·Bad); WoE is 6dp-floored
      // FIRST so each IV term is a mirrored single-rounding product.
      val b = Tables.lineitem(s, dir)
        .select(expr("(cast(l_quantity AS int) - 1) div 10").cast("int")
          .as("bucket"),
          (col("l_returnflag") === "R").cast("int").as("r"))
        .groupBy("bucket")
        .agg(count(when(col("r") === 0, lit(1))).as("n_good"),
          count(when(col("r") === 1, lit(1))).as("n_bad"))
      val tot = b.agg(sum("n_good").as("tg"), sum("n_bad").as("tb"))
      b.crossJoin(broadcast(tot))
        .withColumn("woe6", floor(
          log(col("n_bad").cast("double") * col("tg")
            / (col("n_good").cast("double") * col("tb")))
          * 1000000 + 0.5).cast("long"))
        .select(col("bucket"), col("n_good"), col("n_bad"),
          (col("woe6").cast("double") / 1000000.0).as("woe"),
          (floor((col("n_bad").cast("double") / col("tb")
              - col("n_good").cast("double") / col("tg"))
            * (col("woe6").cast("double") / 1000000.0)
            * 1000000 + 0.5) / 1000000.0).as("iv_term"))
    },
      // integer cross-product logs; WoE floored before the IV product
      oracle = """WITH b AS (SELECT (cast(l_quantity AS int) - 1) // 10 AS bucket,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
           FROM lineitem),
         g AS (SELECT cast(bucket AS int) AS bucket,
             cast(count(CASE WHEN r = 0 THEN 1 END) AS bigint) AS n_good,
             cast(count(CASE WHEN r = 1 THEN 1 END) AS bigint) AS n_bad
           FROM b GROUP BY 1),
         tot AS (SELECT cast(sum(n_good) AS bigint) AS tg,
             cast(sum(n_bad) AS bigint) AS tb FROM g),
         w AS (SELECT g.*, tg, tb,
             cast(floor(ln(cast(n_bad AS double) * tg
               / (cast(n_good AS double) * tb))
               * 1000000 + 0.5) AS bigint) AS woe6
           FROM g CROSS JOIN tot)
         SELECT bucket, n_good, n_bad,
           cast(woe6 AS double) / 1000000.0 AS woe,
           floor((cast(n_bad AS double) / tb
               - cast(n_good AS double) / tg)
             * (cast(woe6 AS double) / 1000000.0)
             * 1000000 + 0.5) / 1000000.0 AS iv_term
         FROM w"""),

    // ---- EXT: Shewhart x-bar / R control chart ----
    Gate("q474_xbar_r_chart", (s, dir) => {
      // SPC over the order stream: fixed n=5 subgroups (first five
      // orders per day by orderkey — deterministic), x-bar and R charts
      // with the classical A2/D4 constants. EVERY control decision is
      // stated in cross-multiplied integer algebra (200·|sum_d·D − Σsum|
      // > 577·ΣR etc.), so no double threshold can flip a boundary day
      // between engines. The day table is bounded by the calendar.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("d").orderBy("o_orderkey")
      val sub = Tables.orders(s, dir)
        .select(col("o_orderdate").as("d"), col("o_orderkey"),
          (col("o_totalprice").cast(D) * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
      val days = sub.groupBy("d")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum5"),
          (max("cents") - min("cents")).as("r"))
        .filter(col("n") === 5)
      val tot = days.agg(count(lit(1)).as("nd"), sum("sum5").as("tsum"),
        sum("r").as("tr"))
      days.crossJoin(broadcast(tot))
        .select(
          (abs(col("sum5") * col("nd") - col("tsum")) * 200
            > col("tr") * 577).cast("int").as("xbar_out"),
          (col("r") * col("nd") * 1000 > col("tr") * 2114).cast("int")
            .as("r_out"),
          col("nd"), col("tsum"), col("tr"))
        .groupBy("nd", "tsum", "tr")
        .agg(sum("xbar_out").as("n_xbar_out"), sum("r_out").as("n_r_out"))
        .select(col("nd").as("n_days"),
          (floor(col("tsum").cast("double") / (col("nd") * 5) / 100.0
            * 1000000 + 0.5) / 1000000.0).as("grand_mean"),
          (floor(col("tr").cast("double") / col("nd") / 100.0
            * 1000000 + 0.5) / 1000000.0).as("mean_range"),
          col("n_xbar_out"), col("n_r_out"))
    },
      // cross-multiplied integer control decisions; A2=0.577, D4=2.114
      oracle = """WITH sub AS (SELECT o_orderdate AS d, o_orderkey,
             cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
               AS cents,
             row_number() OVER (PARTITION BY o_orderdate
               ORDER BY o_orderkey) AS rn
           FROM orders),
         days AS (SELECT d, cast(count(*) AS bigint) AS n,
             cast(sum(cents) AS bigint) AS sum5,
             cast(max(cents) - min(cents) AS bigint) AS r
           FROM sub WHERE rn <= 5 GROUP BY 1 HAVING count(*) = 5),
         tot AS (SELECT cast(count(*) AS bigint) AS nd,
             cast(sum(sum5) AS bigint) AS tsum,
             cast(sum(r) AS bigint) AS tr FROM days)
         SELECT nd AS n_days,
           floor(cast(tsum AS double) / (nd * 5) / 100.0
             * 1000000 + 0.5) / 1000000.0 AS grand_mean,
           floor(cast(tr AS double) / nd / 100.0
             * 1000000 + 0.5) / 1000000.0 AS mean_range,
           cast(sum(CASE WHEN abs(sum5 * nd - tsum) * 200 > tr * 577
             THEN 1 ELSE 0 END) AS bigint) AS n_xbar_out,
           cast(sum(CASE WHEN r * nd * 1000 > tr * 2114
             THEN 1 ELSE 0 END) AS bigint) AS n_r_out
         FROM days CROSS JOIN tot
         GROUP BY nd, tsum, tr"""),

    // ---- EXT: Tukey IQR fences (boxplot outlier screen) ----
    Gate("q475_tukey_fences", (s, dir) => {
      // per-segment account-balance outliers by the 1.5·IQR rule.
      // Quartiles are nearest-rank values (ceil(n/4), ceil(3n/4)) on the
      // key-partitioned rank — order statistics, not interpolation — and
      // the fences double through the ×2 integer scale (2x < 2·Q1−3·IQR)
      // so 1.5 never exists as a float.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("seg").orderBy("cents", "c_custkey")
      val c = Tables.customer(s, dir)
        .select(col("c_mktsegment").as("seg"), col("c_custkey"),
          (col("c_acctbal").cast(D) * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
      val n = c.groupBy("seg").agg(count(lit(1)).as("n"))
      val q = c.join(broadcast(n), "seg")
        .filter(col("rn") === ceil(col("n") / 4) ||
          col("rn") === ceil(col("n") * 3 / lit(4.0)))
        .groupBy("seg")
        .agg(min(when(col("rn") === ceil(col("n") / 4), col("cents")))
          .as("q1"),
          max(when(col("rn") === ceil(col("n") * 3 / lit(4.0)),
            col("cents"))).as("q3"))
      c.join(broadcast(q), "seg")
        .select(col("seg"), col("q1"), col("q3"),
          (col("cents") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3)
            .cast("int").as("lo"),
          (col("cents") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3)
            .cast("int").as("hi"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          first(floor(col("q1").cast("double")) / 100.0).as("q1_dollars"),
          first(floor(col("q3").cast("double")) / 100.0).as("q3_dollars"),
          sum("lo").as("n_low_outliers"),
          sum("hi").as("n_high_outliers"))
    },
      // nearest-rank quartiles; fences in x2 integer scale
      oracle = """WITH c AS (SELECT c_mktsegment AS seg, c_custkey,
             cast(cast(c_acctbal AS decimal(18,2)) * 100 AS bigint)
               AS cents,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY cast(cast(c_acctbal AS decimal(18,2)) * 100
                 AS bigint), c_custkey) AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
           FROM customer),
         q AS (SELECT seg,
             min(CASE WHEN rn = ceil(n / 4.0) THEN cents END) AS q1,
             max(CASE WHEN rn = ceil(n * 3 / 4.0) THEN cents END) AS q3
           FROM c WHERE rn = ceil(n / 4.0) OR rn = ceil(n * 3 / 4.0)
           GROUP BY 1)
         SELECT c.seg, cast(count(*) AS bigint) AS n,
           floor(cast(min(q1) AS double)) / 100.0 AS q1_dollars,
           floor(cast(min(q3) AS double)) / 100.0 AS q3_dollars,
           cast(sum(CASE WHEN cents * 2 < q1 * 2 - (q3 - q1) * 3
             THEN 1 ELSE 0 END) AS bigint) AS n_low_outliers,
           cast(sum(CASE WHEN cents * 2 > q3 * 2 + (q3 - q1) * 3
             THEN 1 ELSE 0 END) AS bigint) AS n_high_outliers
         FROM c JOIN q ON c.seg = q.seg
         GROUP BY 1"""),

    // ---- EXT: Grubbs extreme-outlier statistic ----
    Gate("q476_grubbs", (s, dir) => {
      // per-nation Grubbs G = max|x − mean| / s from ONE exact-moment
      // aggregate (n, Σ, Σx² in decimal(38,0) cents — int64 squares
      // would overflow at large SF) plus the argmax deviant. The only
      // doubles are the final mirrored G computation.
      val c = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"),
          (col("c_acctbal").cast(D) * 100).cast("decimal(38,0)")
            .as("cents"))
      val m = c.groupBy("c_nationkey").agg(count(lit(1)).as("n"),
        sum("cents").as("s1"), sum(col("cents") * col("cents")).as("s2"))
      c.join(broadcast(m), "c_nationkey")
        .select(col("c_nationkey"), col("n"), col("s1"), col("s2"),
          abs(col("cents") * col("n") - col("s1")).as("devn"),
          col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(first(col("n")).as("n"), first(col("s1")).as("s1"),
          first(col("s2")).as("s2"),
          max(struct(col("devn"), col("c_custkey"))).as("mx"))
        .select(col("c_nationkey"), col("n"),
          col("mx.c_custkey").as("worst_custkey"),
          (floor(
            (col("mx.devn").cast("double") / col("n").cast("double")
              / 100.0)
            / sqrt((col("n").cast("double")
                * col("s2").cast("double")
              - col("s1").cast("double") * col("s1").cast("double"))
              / (col("n").cast("double")
                * (col("n") - 1).cast("double")) / 10000.0)
            * 1000000 + 0.5) / 1000000.0).as("g_stat"))
    },
      // exact decimal moments; the argmax deviant via a window
      oracle = """WITH c AS (SELECT c_nationkey, c_custkey,
             cast(cast(c_acctbal AS decimal(18,2)) * 100 AS hugeint)
               AS cents
           FROM customer),
         m AS (SELECT c_nationkey, cast(count(*) AS bigint) AS n,
             sum(cents) AS s1, sum(cents * cents) AS s2
           FROM c GROUP BY 1),
         d AS (SELECT c.c_nationkey, m.n, m.s1, m.s2, c.c_custkey,
             abs(c.cents * m.n - m.s1) AS devn,
             row_number() OVER (PARTITION BY c.c_nationkey
               ORDER BY abs(c.cents * m.n - m.s1) DESC,
                 c.c_custkey DESC) AS rk
           FROM c JOIN m ON c.c_nationkey = m.c_nationkey)
         SELECT c_nationkey, n, c_custkey AS worst_custkey,
           floor(
             (cast(devn AS double) / cast(n AS double) / 100.0)
             / sqrt((cast(n AS double) * cast(s2 AS double)
               - cast(s1 AS double) * cast(s1 AS double))
               / (cast(n AS double) * cast(n - 1 AS double)) / 10000.0)
             * 1000000 + 0.5) / 1000000.0 AS g_stat
         FROM d WHERE rk = 1"""),

    // ---- EXT: empirical-Bayes rate shrinkage ----
    Gate("q477_eb_shrinkage", (s, dir) => {
      // per-supplier return rates shrunk toward the pooled prior with a
      // method-of-moments strength K = m(1−m)/varB − 1: small suppliers
      // pull hard to the prior, large ones keep their data. Raw rates
      // are 6dp-floored INTEGERS, so the between-supplier variance that
      // feeds K is exact integer algebra; only the final shrink is a
      // mirrored double.
      val per = Tables.lineitem(s, dir).groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          count(when(col("l_returnflag") === "R", lit(1))).as("x"))
        .withColumn("r6", floor(col("x").cast("double") / col("n")
          * 1000000 + 0.5).cast("long"))
      val g = per.agg(count(lit(1)).as("ns"), sum("x").as("tx"),
          sum("n").as("tn"))
        .withColumn("m6", floor(col("tx").cast("double") / col("tn")
          * 1000000 + 0.5).cast("long"))
      val varB = per.crossJoin(broadcast(g))
        .agg(first(col("ns")).as("ns"), first(col("m6")).as("m6"),
          sum((col("r6") - col("m6")) * (col("r6") - col("m6")))
            .as("ssq"))
        .select(col("ns"), col("m6"),
          (col("ssq").cast("double") / (col("ns") - 1).cast("double")
            / 1.0e12).as("vb"))
        .select(col("ns"), col("m6"),
          when(col("vb") > 0,
            (col("m6").cast("double") / 1000000.0
              * (lit(1.0) - col("m6").cast("double") / 1000000.0))
              / col("vb") - 1.0)
            .otherwise(lit(0.0)).as("k"))
      per.crossJoin(broadcast(varB))
        .select(col("l_suppkey"), col("n"), col("x"),
          (col("r6").cast("double") / 1000000.0).as("raw_rate"),
          (floor((col("x").cast("double")
              + col("k") * (col("m6").cast("double") / 1000000.0))
            / (col("n").cast("double") + col("k"))
            * 1000000 + 0.5) / 1000000.0).as("shrunk_rate"))
    },
      // integer between-supplier variance feeds the MoM strength K
      oracle = """WITH per AS (SELECT l_suppkey, cast(count(*) AS bigint) AS n,
             cast(count(CASE WHEN l_returnflag = 'R' THEN 1 END)
               AS bigint) AS x
           FROM lineitem GROUP BY 1),
         pr AS (SELECT *, cast(floor(cast(x AS double) / n
             * 1000000 + 0.5) AS bigint) AS r6 FROM per),
         g AS (SELECT cast(count(*) AS bigint) AS ns,
             cast(sum(x) AS bigint) AS tx, cast(sum(n) AS bigint) AS tn
           FROM pr),
         g2 AS (SELECT ns, cast(floor(cast(tx AS double) / tn
             * 1000000 + 0.5) AS bigint) AS m6 FROM g),
         vb AS (SELECT g2.ns, g2.m6,
             cast(sum((r6 - m6) * (r6 - m6)) AS double)
               / cast(g2.ns - 1 AS double) / 1.0e12 AS vb
           FROM pr CROSS JOIN g2 GROUP BY 1, 2),
         k AS (SELECT ns, m6, CASE WHEN vb > 0 THEN
             (cast(m6 AS double) / 1000000.0
               * (1.0 - cast(m6 AS double) / 1000000.0)) / vb - 1.0
             ELSE 0.0 END AS k FROM vb)
         SELECT l_suppkey, n, x,
           cast(r6 AS double) / 1000000.0 AS raw_rate,
           floor((cast(x AS double)
               + k * (cast(m6 AS double) / 1000000.0))
             / (cast(n AS double) + k)
             * 1000000 + 0.5) / 1000000.0 AS shrunk_rate
         FROM pr CROSS JOIN k"""),
  )
}
