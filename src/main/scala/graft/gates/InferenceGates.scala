package graft
package gates

import org.apache.spark.sql.functions._
import graft.operators.{Relational => R}
import Gate.D

/** Hypothesis tests, A/B analysis, multiple-testing control and causal
  * estimators. */
object InferenceGates {
  val gates: Seq[Gate] = Seq(
    // ---- EXT: corpus-composition statistics ----
    Gate("q128_chi2_lang_source", (s, dir) =>
      graft.operators.Analyses.contingencyChi2(
        Tables.documents(s, dir), "lang", "source"),
      // chi2: expected r*c/n and (o-e)^2/e mirrored double trees; totals via
      // window sums over the bounded cell table
      oracle = """WITH cells AS (SELECT lang, source, count(*) AS observed
           FROM documents GROUP BY 1, 2),
         t AS (SELECT lang, source, observed,
           cast(sum(observed) OVER (PARTITION BY lang) AS double) *
           cast(sum(observed) OVER (PARTITION BY source) AS double) /
           cast(sum(observed) OVER () AS double) AS e
           FROM cells)
         SELECT lang, source, observed, round(e, 6) AS expected,
           round((cast(observed AS double) - e) * (cast(observed AS double) - e) / e,
             6) AS chi2_contrib
         FROM t"""),

    // ---- A: two-sample A/B z-test per metric (exact moments) ----
    Gate("q206_ab_test", (s, dir) => {
      // variant = user parity (deterministic assignment); per event_type:
      // diff of means over pooled standard error, all from exact sums in
      // ONE mirrored double tree
      val e = Tables.events(s, dir).select(col("event_type"),
        (col("user_id") % 2).as("__v"), col("value").cast(D).as("__y"))
      val m = e.groupBy(col("event_type")).agg(
        sum(when(col("__v") === 0, 1).otherwise(0)).cast("long").as("na"),
        sum(when(col("__v") === 1, 1).otherwise(0)).cast("long").as("nb"),
        sum(when(col("__v") === 0, col("__y"))
          .otherwise(lit(0).cast(D))).as("sa"),
        sum(when(col("__v") === 1, col("__y"))
          .otherwise(lit(0).cast(D))).as("sb"),
        sum(when(col("__v") === 0, col("__y") * col("__y"))
          .otherwise(lit(0).cast("decimal(38,4)"))).as("qa"),
        sum(when(col("__v") === 1, col("__y") * col("__y"))
          .otherwise(lit(0).cast("decimal(38,4)"))).as("qb"))
      val (naD, nbD) = (col("na").cast("double"), col("nb").cast("double"))
      val (saD, sbD) = (col("sa").cast("double"), col("sb").cast("double"))
      val (qaD, qbD) = (col("qa").cast("double"), col("qb").cast("double"))
      val va = (qaD - saD * saD / naD) / (naD - 1)
      val vb = (qbD - sbD * sbD / nbD) / (nbD - 1)
      val z = (sbD / nbD - saD / naD) / sqrt(va / naD + vb / nbD)
      m.select(col("event_type"), col("na"), col("nb"),
        round(saD / naD, 6).as("mean_a"), round(sbD / nbD, 6).as("mean_b"),
        round(z, 6).as("z_score"))
    },
      // A/B z-test: all moments exact, one mirrored double tree
      oracle = """WITH e AS (SELECT event_type, user_id % 2 AS v,
             cast(value AS decimal(18,2)) AS y FROM events),
         m AS (SELECT event_type,
             cast(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS bigint) AS na,
             cast(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS bigint) AS nb,
             sum(CASE WHEN v = 0 THEN y ELSE cast(0 AS decimal(18,2)) END) AS sa,
             sum(CASE WHEN v = 1 THEN y ELSE cast(0 AS decimal(18,2)) END) AS sb,
             sum(CASE WHEN v = 0 THEN y * y ELSE cast(0 AS decimal(38,4)) END) AS qa,
             sum(CASE WHEN v = 1 THEN y * y ELSE cast(0 AS decimal(38,4)) END) AS qb
           FROM e GROUP BY 1),
         d AS (SELECT event_type, na, nb,
             cast(na AS double) AS naD, cast(nb AS double) AS nbD,
             cast(sa AS double) AS saD, cast(sb AS double) AS sbD,
             cast(qa AS double) AS qaD, cast(qb AS double) AS qbD
           FROM m)
         SELECT event_type, na, nb,
           round(saD / naD, 6) AS mean_a, round(sbD / nbD, 6) AS mean_b,
           round((sbD / nbD - saD / naD) /
             sqrt(((qaD - saD * saD / naD) / (naD - 1)) / naD +
                  ((qbD - sbD * sbD / nbD) / (nbD - 1)) / nbD), 6) AS z_score
         FROM d"""),

    // ---- EXT: two-sample Kolmogorov–Smirnov statistic ----
    Gate("q283_ks_test", (s, dir) => {
      // distribution-shift test between two sources' length distributions:
      // D = max |CDF_a − CDF_b| over the POOLED distinct-value grid (the
      // q234 bounded-domain discipline — never a corpus sort). Counts stay
      // integer through the running sums; the two CDF divisions and their
      // gap are one mirrored expression, 9dp-rounded before the max.
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .filter(col("source").isin("web", "social"))
        .select(col("n_chars"),
          when(col("source") === "web", 1L).otherwise(0L).as("ia"))
      val dist = d.groupBy(col("n_chars"))
        .agg(sum(col("ia")).as("ca"), sum(lit(1L) - col("ia")).as("cb"))
      val w = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = dist.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      dist
        .withColumn("__cca", sum(col("ca")).over(w))
        .withColumn("__ccb", sum(col("cb")).over(w))
        .crossJoin(broadcast(tot))
        .withColumn("__gap", round(abs(
          col("__cca").cast("double") / col("na").cast("double") -
          col("__ccb").cast("double") / col("nb").cast("double")), 9))
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          round(max(col("__gap")), 6).as("ks_stat"))
    },
      // KS: mirrored pooled-grid running CDFs, 9dp gaps before the max
      oracle = """WITH d AS (SELECT n_chars,
           CASE WHEN source = 'web' THEN 1 ELSE 0 END AS ia
           FROM documents WHERE source IN ('web', 'social')),
         dist AS (SELECT n_chars, cast(sum(ia) AS bigint) AS ca,
             cast(sum(1 - ia) AS bigint) AS cb
           FROM d GROUP BY 1),
         tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM dist),
         c AS (SELECT n_chars,
             sum(ca) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cca,
             sum(cb) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS ccb
           FROM dist),
         g AS (SELECT round(abs(
             cast(cca AS double) / cast((SELECT na FROM tot) AS double) -
             cast(ccb AS double) / cast((SELECT nb FROM tot) AS double)),
             9) AS gap FROM c)
         SELECT cast((SELECT na FROM tot) AS bigint) AS na,
           cast((SELECT nb FROM tot) AS bigint) AS nb,
           round(max(gap), 6) AS ks_stat
         FROM g"""),

    // ---- EXT: Mann–Whitney U rank-sum A/B test per type ----
    Gate("q290_mann_whitney", (s, dir) =>
      graft.operators.Analyses.mannWhitneyU(
        Tables.events(s, dir), "event_type",
        armCol = col("user_id") % 2 === 1, valueCol = col("value")),
      // Mann–Whitney: pooled midranks, tie-corrected variance, exact algebra
      oracle = """WITH t AS (SELECT event_type AS g,
             cast(user_id % 2 = 1 AS int) AS arm, value AS v FROM events),
         d AS (SELECT g, v, count(*) AS c FROM t GROUP BY 1, 2),
         r AS (SELECT g, v,
             2 * (sum(c) OVER (PARTITION BY g ORDER BY v) - c) + c + 1 AS r2
           FROM d),
         ties AS (SELECT g, sum(cast(c AS hugeint) * c * c - c) AS tie3
           FROM d GROUP BY 1),
         m AS (SELECT t.g, cast(count(*) AS bigint) AS n,
             cast(sum(t.arm) AS bigint) AS n_b,
             sum(CASE WHEN t.arm = 1 THEN cast(r.r2 AS hugeint)
               ELSE 0 END) AS sr2b
           FROM t JOIN r ON t.g = r.g AND t.v = r.v GROUP BY 1),
         f AS (SELECT m.g, n, n_b, n - n_b AS n_a,
             cast(sr2b AS double) AS sr2bd, tie3
           FROM m JOIN ties ON m.g = ties.g),
         z AS (SELECT g, n, n_a, n_b,
             sr2bd - cast(n_b AS double) * (cast(n_b AS double) + 1.0) AS u2,
             cast(n_a AS double) * cast(n_b AS double) AS mu,
             cast(n_a AS double) * cast(n_b AS double) / 12.0
               * ((cast(n AS double) + 1.0) - cast(tie3 AS double)
                 / (cast(n AS double) * (cast(n AS double) - 1.0))) AS var
           FROM f WHERE n_a > 0 AND n_b > 0)
         SELECT g AS event_type, n_a, n_b,
           round(u2 / 2.0, 6) + 0.0 AS u_b,
           round((u2 / 2.0 - mu / 2.0) / sqrt(var), 6) + 0.0 AS z
         FROM z WHERE var > 0"""),

    // ---- EXT: Cramér's V effect size (event type × weekday) ----
    Gate("q291_cramers_v", (s, dir) =>
      graft.operators.Analyses.cramersV(
        Tables.events(s, dir).select(col("event_type"),
          weekday(col("ts")).cast("int").as("dow")),
        "event_type", "dow"),
      // Cramér's V over the COMPLETE rows×cols grid (empty cells still
      // contribute e to the χ² total — the q128 observed-cell view would
      // understate the statistic)
      oracle = """WITH t AS (SELECT event_type AS r, cast(isodow(ts) - 1 AS int) AS c
           FROM events),
         obs AS (SELECT r, c, cast(count(*) AS bigint) AS o FROM t GROUP BY 1, 2),
         rt AS (SELECT r, cast(sum(o) AS bigint) AS rr FROM obs GROUP BY 1),
         ct AS (SELECT c, cast(sum(o) AS bigint) AS cc FROM obs GROUP BY 1),
         nn AS (SELECT cast(sum(o) AS bigint) AS n FROM obs),
         grid AS (SELECT rt.r, ct.c, rr, cc, n,
             coalesce(o, 0) AS o,
             cast(rr AS double) * cast(cc AS double) / cast(n AS double) AS e
           FROM rt CROSS JOIN ct CROSS JOIN nn
           LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c),
         contrib AS (SELECT r, c, n,
             round((cast(o AS double) - e) * (cast(o AS double) - e) / e, 6)
               AS chi2c
           FROM grid),
         agg AS (SELECT max(n) AS n,
             cast(count(DISTINCT r) AS bigint) AS n_rows,
             cast(count(DISTINCT c) AS bigint) AS n_cols,
             sum(cast(chi2c AS decimal(18,6))) AS chi2d
           FROM contrib)
         SELECT n, n_rows, n_cols, cast(chi2d AS double) AS chi2,
           round(sqrt(cast(chi2d AS double) / (cast(n AS double)
             * (cast(least(n_rows, n_cols) AS double) - 1.0))), 6) + 0.0
             AS cramers_v
         FROM agg WHERE least(n_rows, n_cols) > 1"""),

    // ---- EXT: distribution-free median confidence interval ----
    Gate("q316_median_ci", (s, dir) => {
      // order-statistic CI: P(X_(l) ≤ median ≤ X_(u)) ≈ 95% with
      // l = floor((n − 1.96√n)/2), u = ceil(1 + (n + 1.96√n)/2) — no
      // normality assumption, pure rank lookups. All three ranks resolve
      // against the (type, value) DISTRIBUTION table (bounded window, the
      // q130 trick), never a corpus sort; the rank formulas are mirrored
      // double→floor/ceil expressions.
      import org.apache.spark.sql.expressions.Window
      val d = Tables.events(s, dir)
        .select(col("event_type"), col("value").as("__v"))
      val dist = d.groupBy(col("event_type"), col("__v"))
        .agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = dist.withColumn("__cum", sum(col("__c")).over(w))
      val n = d.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val ranks = n
        .withColumn("__rmed", expr("(n + 1) div 2"))
        .withColumn("__rlo", greatest(lit(1L),
          floor((col("n").cast("double") -
            lit(1.96d) * sqrt(col("n").cast("double"))) / 2.0d).cast("long")))
        .withColumn("__rhi", least(col("n"),
          ceil(lit(1.0d) + (col("n").cast("double") +
            lit(1.96d) * sqrt(col("n").cast("double"))) / 2.0d).cast("long")))
      // ONE pass over the cumulative distribution resolves all three
      // ranks (conditional mins against the broadcast 1-row-per-type
      // rank table) — the previous three-join form recomputed the
      // distribution window per rank
      cum.join(broadcast(ranks), Seq("event_type"))
        .groupBy(col("event_type"), col("n"))
        .agg(
          min(when(col("__cum") >= col("__rlo"), col("__v"))).as("ci_lo"),
          min(when(col("__cum") >= col("__rmed"), col("__v"))).as("median"),
          min(when(col("__cum") >= col("__rhi"), col("__v"))).as("ci_hi"))
        .select(col("event_type"), col("n"), col("ci_lo"), col("median"),
          col("ci_hi"))
    },
      // order-statistic median CI: mirrored rank formulas, distribution-
      // table value lookups
      oracle = """WITH d AS (SELECT event_type, value AS v FROM events),
         dist AS (SELECT event_type, v, count(*) AS c FROM d GROUP BY 1, 2),
         cum AS (SELECT event_type, v,
             sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cm
           FROM dist),
         n AS (SELECT event_type, cast(count(*) AS bigint) AS n
           FROM d GROUP BY 1),
         ranks AS (SELECT event_type, n,
             (n + 1) // 2 AS rmed,
             greatest(1, cast(floor((cast(n AS double)
               - 1.96 * sqrt(cast(n AS double))) / 2.0) AS bigint)) AS rlo,
             least(n, cast(ceil(1.0 + (cast(n AS double)
               + 1.96 * sqrt(cast(n AS double))) / 2.0) AS bigint)) AS rhi
           FROM n),
         lo AS (SELECT r.event_type, r.n, min(v) AS ci_lo FROM ranks r
           JOIN cum ON cum.event_type = r.event_type AND cm >= rlo
           GROUP BY 1, 2),
         med AS (SELECT r.event_type, r.n, min(v) AS median FROM ranks r
           JOIN cum ON cum.event_type = r.event_type AND cm >= rmed
           GROUP BY 1, 2),
         hi AS (SELECT r.event_type, r.n, min(v) AS ci_hi FROM ranks r
           JOIN cum ON cum.event_type = r.event_type AND cm >= rhi
           GROUP BY 1, 2)
         SELECT lo.event_type, lo.n, ci_lo, median, ci_hi
         FROM lo JOIN med ON lo.event_type = med.event_type
         JOIN hi ON lo.event_type = hi.event_type"""),

    // ---- EXT: Qini uplift curve by score decile ----
    Gate("q329_qini_uplift", (s, dir) => {
      // causal ranking evaluation: does targeting high-value events move
      // the PURCHASE rate differently in treatment (odd users) vs control
      // — the uplift sibling of q280's lift table and q234's AUC. Deciles
      // assign at the DISTINCT-score grain (q280's integer algebra, ties
      // can't straddle engines); Qini(k) = convT − convC·NT/NC cumulative,
      // exact integers until the final doubles.
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("value").as("__s"),
        (col("user_id") % 2 === 1).cast("int").as("__t"),
        (col("event_type") === "purchase").cast("long").as("__y"))
      val dist = e.groupBy(col("__s")).agg(count(lit(1)).as("__c"))
      val tot = dist.agg(sum(col("__c")).as("__n"))
      val wd = Window.orderBy(col("__s").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val dec = dist.withColumn("__cum", sum(col("__c")).over(wd))
        .crossJoin(broadcast(tot))
        .withColumn("decile",
          expr("cast((__cum - __c) * 10 div __n as int) + 1"))
        .select(col("__s"), col("decile"))
      val cell = e.join(dec, Seq("__s"))
        .groupBy(col("decile")).agg(
          sum(col("__t")).as("__nt"),
          sum(lit(1) - col("__t")).as("__nc"),
          sum(col("__y") * col("__t")).as("__ct"),
          sum(col("__y") * (lit(1) - col("__t"))).as("__cc"))
      val wc = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      cell
        .withColumn("__cnt", sum(col("__nt")).over(wc))
        .withColumn("__cnc", sum(col("__nc")).over(wc))
        .withColumn("__cct", sum(col("__ct")).over(wc))
        .withColumn("__ccc", sum(col("__cc")).over(wc))
        .select(col("decile"),
          col("__nt").as("n_treat"), col("__nc").as("n_control"),
          (round(col("__ct").cast("double") / col("__nt").cast("double") -
            col("__cc").cast("double") / col("__nc").cast("double"), 6)
            + lit(0.0d)).as("uplift"),
          (round(col("__cct").cast("double") -
            col("__ccc").cast("double") * col("__cnt").cast("double") /
              col("__cnc").cast("double"), 6) + lit(0.0d)).as("qini"))
    },
      // Qini: distribution-grain deciles (integer algebra), cumulative
      // treatment/control conversion counts
      oracle = """WITH e AS (SELECT value AS s,
             cast(user_id % 2 = 1 AS int) AS t,
             cast(event_type = 'purchase' AS bigint) AS y FROM events),
         dist AS (SELECT s, count(*) AS c FROM e GROUP BY 1),
         tot AS (SELECT cast(sum(c) AS bigint) AS n FROM dist),
         dec AS (SELECT s,
             cast((sum(c) OVER (ORDER BY s DESC) - c) * 10 // n AS int) + 1
               AS decile
           FROM dist CROSS JOIN tot),
         cell AS (SELECT decile,
             cast(sum(t) AS bigint) AS nt,
             cast(sum(1 - t) AS bigint) AS nc,
             cast(sum(y * t) AS bigint) AS ct,
             cast(sum(y * (1 - t)) AS bigint) AS cc
           FROM e JOIN dec USING (s) GROUP BY 1),
         c AS (SELECT decile, nt, nc, ct, cc,
             sum(nt) OVER (ORDER BY decile) AS cnt,
             sum(nc) OVER (ORDER BY decile) AS cnc,
             sum(ct) OVER (ORDER BY decile) AS cct,
             sum(cc) OVER (ORDER BY decile) AS ccc
           FROM cell)
         SELECT decile, nt AS n_treat, nc AS n_control,
           round(cast(ct AS double) / cast(nt AS double)
             - cast(cc AS double) / cast(nc AS double), 6) + 0.0 AS uplift,
           round(cast(cct AS double) - cast(ccc AS double)
             * cast(cnt AS double) / cast(cnc AS double), 6) + 0.0 AS qini
         FROM c"""),

    // ---- EXT: mass significance testing with BH-FDR control ----
    Gate("q331_bh_fdr", (s, dir) => {
      // 35 simultaneous two-sample z-tests (each (type, weekday) cell's
      // mean value vs the rest) with Benjamini–Hochberg step-up control —
      // the multiple-comparisons hygiene every metrics platform needs
      // before flagging "significant" cells. Moments are exact decimals
      // (q152); the normal tail probability is the Abramowitz–Stegun
      // 26.2.17 polynomial written EXPLICITLY (identical expression both
      // engines — no libm erf); BH compares the 9-dp-rounded p to rank/m·α
      // in integer-scaled algebra.
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("event_type"),
        weekday(col("ts")).cast("int").as("dow"),
        col("value").cast(D).as("__v"))
      val cell = e.groupBy(col("event_type"), col("dow")).agg(
        count(lit(1)).as("__nc"), sum(col("__v")).as("__sc"),
        sum(col("__v") * col("__v")).as("__qc"))
      val tot = e.agg(count(lit(1)).as("__nt"), sum(col("__v")).as("__st"),
        sum(col("__v") * col("__v")).as("__qt"))
      val z = cell.crossJoin(broadcast(tot))
        .withColumn("__nr", col("__nt") - col("__nc"))
        .withColumn("__sr", col("__st") - col("__sc"))
        .withColumn("__qr", col("__qt") - col("__qc"))
        .filter(col("__nc") > 1 && col("__nr") > 1)
        .withColumn("__mc", col("__sc").cast("double") / col("__nc").cast("double"))
        .withColumn("__mr", col("__sr").cast("double") / col("__nr").cast("double"))
        .withColumn("__vc",
          (col("__qc").cast("double") - col("__nc").cast("double") *
            col("__mc") * col("__mc")) / (col("__nc").cast("double") - 1.0d))
        .withColumn("__vr",
          (col("__qr").cast("double") - col("__nr").cast("double") *
            col("__mr") * col("__mr")) / (col("__nr").cast("double") - 1.0d))
        .withColumn("__z", (col("__mc") - col("__mr")) /
          sqrt(col("__vc") / col("__nc").cast("double") +
            col("__vr") / col("__nr").cast("double")))
      // two-sided p from |z| via Abramowitz–Stegun 26.2.17
      val az = abs(col("__z"))
      val t = lit(1.0d) / (lit(1.0d) + lit(0.2316419d) * az)
      val poly = t * (lit(0.319381530d) + t * (lit(-0.356563782d) +
        t * (lit(1.781477937d) + t * (lit(-1.821255978d) +
          t * lit(1.330274429d)))))
      val phi = exp(-az * az / 2.0d) / lit(2.5066282746310002d)
      val p2 = round(lit(2.0d) * phi * poly, 9)
      val withP = z.withColumn("p", p2 + lit(0.0d))
      val wr = Window.orderBy(col("p").asc, col("event_type").asc,
        col("dow").asc)
      val wAllRows = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      withP.withColumn("__rank", row_number().over(wr))
        .withColumn("__m", count(lit(1)).over(wAllRows))
        // BH step-up at α = 0.05 in integer-scaled algebra
        // (p·m·100 ≤ rank·5), then the closure: everything at or below
        // the LARGEST passing rank is significant
        .withColumn("__pass",
          when(col("p") * col("__m").cast("double") * 100.0d <=
            col("__rank").cast("double") * 5.0d, col("__rank")))
        .withColumn("__kmax", max(col("__pass")).over(wAllRows))
        .select(col("event_type"), col("dow"),
          (round(col("__z"), 6) + lit(0.0d)).as("z"), col("p"),
          col("__rank").as("p_rank"),
          (col("__rank") <= coalesce(col("__kmax"), lit(0))).cast("int")
            .as("significant"))
    },
      // BH-FDR: exact-moment Welch z, Abramowitz–Stegun tail polynomial
      // (explicit, no libm erf), integer-scaled step-up at alpha = 0.05
      oracle = """WITH e AS (SELECT event_type, cast(isodow(ts) - 1 AS int) AS dow,
             cast(value AS decimal(18,2)) AS v FROM events),
         cell AS (SELECT event_type, dow, cast(count(*) AS bigint) AS nc,
             sum(v) AS sc, sum(v * v) AS qc
           FROM e GROUP BY 1, 2),
         tot AS (SELECT cast(count(*) AS bigint) AS nt, sum(v) AS st,
             sum(v * v) AS qt FROM e),
         z AS (SELECT event_type, dow,
             cast(sc AS double) / cast(nc AS double) AS mc,
             cast(st - sc AS double) / cast(nt - nc AS double) AS mr,
             (cast(qc AS double) - cast(nc AS double)
               * (cast(sc AS double) / cast(nc AS double))
               * (cast(sc AS double) / cast(nc AS double)))
               / (cast(nc AS double) - 1.0) AS vc,
             (cast(qt - qc AS double) - cast(nt - nc AS double)
               * (cast(st - sc AS double) / cast(nt - nc AS double))
               * (cast(st - sc AS double) / cast(nt - nc AS double)))
               / (cast(nt - nc AS double) - 1.0) AS vr,
             nc, nt - nc AS nr
           FROM cell CROSS JOIN tot
           WHERE nc > 1 AND nt - nc > 1),
         zz AS (SELECT event_type, dow,
             (mc - mr) / sqrt(vc / cast(nc AS double)
               + vr / cast(nr AS double)) AS zv
           FROM z),
         pp AS (SELECT event_type, dow, zv,
             round(2.0 * (exp(-abs(zv) * abs(zv) / 2.0)
                 / 2.5066282746310002)
               * ((1.0 / (1.0 + 0.2316419 * abs(zv)))
                 * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(zv)))
                   * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(zv)))
                     * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(zv)))
                       * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(zv)))
                         * 1.330274429))))), 9) + 0.0 AS p
           FROM zz),
         rk AS (SELECT event_type, dow, zv, p,
             row_number() OVER (ORDER BY p ASC, event_type ASC, dow ASC)
               AS p_rank,
             cast(count(*) OVER () AS bigint) AS m
           FROM pp),
         pass AS (SELECT *, CASE WHEN p * cast(m AS double) * 100.0
               <= cast(p_rank AS double) * 5.0 THEN p_rank END AS pr
           FROM rk),
         km AS (SELECT *, max(pr) OVER () AS kmax FROM pass)
         SELECT event_type, dow, round(zv, 6) + 0.0 AS z, p,
           cast(p_rank AS int) AS p_rank,
           cast(p_rank <= coalesce(kmax, 0) AS int) AS significant
         FROM km"""),

    // ---- EXT: SPRT always-valid sequential test per user ----
    Gate("q335_sprt", (s, dir) => {
      // Wald's sequential probability ratio test replayed over each
      // user's event stream: is the user's error rate 0.2 (H0) or 0.4
      // (H1)? Each event adds a CONSTANT log-likelihood term (error:
      // ln(0.4/0.2), other: ln(0.6/0.8), both 6-dp literals), so the
      // cumulative LLR is an exact decimal prefix sum; the decision fires
      // at the FIRST crossing of ±ln(19) (α = β = 0.05) — the always-
      // valid monitoring shape that fixed-horizon tests (q206) can't
      // give. One key-partitioned window + one hash aggregate.
      import org.apache.spark.sql.expressions.Window
      val up = 2.944439d // round(ln(19), 6)
      val aTerm = 0.693147d // round(ln(0.4/0.2), 6)
      val bTerm = -0.287682d // round(ln(0.6/0.8), 6)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val llr = Tables.events(s, dir)
        .withColumn("__t",
          when(col("event_type") === "error", lit(aTerm)).otherwise(lit(bTerm))
            .cast("decimal(18,6)"))
        .withColumn("__cum", sum(col("__t")).over(w))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      llr.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (round(sum(col("__t")).cast("double"), 6) + lit(0.0d))
            .as("llr_final"),
          min(when(col("__cum").cast("double") >= up, col("__rn")))
            .as("__hit1"),
          min(when(col("__cum").cast("double") <= -up, col("__rn")))
            .as("__hit0"))
        .withColumn("decision",
          when(col("__hit1").isNotNull &&
            (col("__hit0").isNull || col("__hit1") < col("__hit0")),
            "accept_h1")
            .when(col("__hit0").isNotNull, "accept_h0")
            .otherwise("continue"))
        .withColumn("decided_at_event",
          coalesce(least(col("__hit1"), col("__hit0")),
            col("__hit1"), col("__hit0"), lit(0)).cast("long"))
        .select(col("user_id"), col("n_events"), col("llr_final"),
          col("decision"), col("decided_at_event"))
    },
      // SPRT: constant 6-dp per-event terms, exact decimal prefix sums,
      // first ±ln(19) crossing decides
      oracle = """WITH t AS (SELECT user_id, ts, event_id,
             cast(CASE WHEN event_type = 'error' THEN 0.693147
               ELSE -0.287682 END AS decimal(18,6)) AS term
           FROM events),
         c AS (SELECT user_id, term,
             sum(term) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS cum,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM t),
         g AS (SELECT user_id, cast(count(*) AS bigint) AS n_events,
             round(cast(sum(term) AS double), 6) + 0.0 AS llr_final,
             min(CASE WHEN cast(cum AS double) >= 2.944439 THEN rn END)
               AS hit1,
             min(CASE WHEN cast(cum AS double) <= -2.944439 THEN rn END)
               AS hit0
           FROM c GROUP BY 1)
         SELECT user_id, n_events, llr_final,
           CASE WHEN hit1 IS NOT NULL AND (hit0 IS NULL OR hit1 < hit0)
               THEN 'accept_h1'
             WHEN hit0 IS NOT NULL THEN 'accept_h0'
             ELSE 'continue' END AS decision,
           cast(coalesce(least(hit1, hit0), hit1, hit0, 0) AS bigint)
             AS decided_at_event
         FROM g"""),

    // ---- EXT: one-way ANOVA F across priority classes ----
    Gate("q342_anova_f", (s, dir) => {
      // does order value differ across the five priority classes? per
      // status: SSB/SSW from EXACT integer-cents moments (n, S, Q — the
      // Q sum in decimal(38,0), q315's precedent); the per-cell S²/n
      // terms are rounded to 4 dp then EXACTLY summed so the k=5
      // reduction has no float summation-order freedom.
      val cents = (col("o_totalprice").cast(D) * lit(100)).cast("bigint")
      val cell = Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          cents.as("__c"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("__n"), sum(col("__c")).as("__s"),
          sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__q"))
      val terms = cell.withColumn("__a",
        round(col("__s").cast("double") * col("__s").cast("double") /
          col("__n").cast("double"), 4).cast("decimal(38,4)"))
      val st = terms.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("k_groups"), sum(col("__n")).as("n"),
          sum(col("__s").cast("decimal(38,0)")).as("__st"),
          sum(col("__q")).as("__qt"),
          sum(col("__a")).as("__at"))
      st.select(col("o_orderstatus"), col("k_groups"), col("n"),
        (round((col("__at").cast("double") -
          col("__st").cast("double") * col("__st").cast("double") /
            col("n").cast("double")) / lit(10000.0d), 2) + lit(0.0d))
          .as("ss_between"),
        (round((col("__qt").cast("double") - col("__at").cast("double")) /
          lit(10000.0d), 2) + lit(0.0d)).as("ss_within"),
        (round(((col("__at").cast("double") -
          col("__st").cast("double") * col("__st").cast("double") /
            col("n").cast("double")) /
          (col("k_groups") - lit(1)).cast("double")) /
          ((col("__qt").cast("double") - col("__at").cast("double")) /
            (col("n") - col("k_groups")).cast("double")), 6) + lit(0.0d))
          .as("f_stat"))
    },
      // ANOVA F: exact integer-cents moments, 4-dp rounded S²/n terms
      // exactly summed (no float summation-order freedom at k=5)
      oracle = """WITH cell AS (
           SELECT o_orderstatus, o_orderpriority,
             cast(count(*) AS bigint) AS n,
             cast(sum(cast(cast(o_totalprice AS decimal(18,2)) * 100
               AS bigint)) AS bigint) AS s,
             sum(cast(cast(cast(o_totalprice AS decimal(18,2)) * 100
               AS bigint) AS hugeint)
               * cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint))
               AS q
           FROM orders GROUP BY 1, 2),
         terms AS (
           SELECT o_orderstatus, n, s, q,
             cast(round(cast(s AS double) * cast(s AS double)
               / cast(n AS double), 4) AS decimal(38,4)) AS a_term
           FROM cell),
         st AS (
           SELECT o_orderstatus,
             cast(count(*) AS bigint) AS k_groups,
             cast(sum(n) AS bigint) AS n,
             cast(sum(s) AS hugeint) AS s_tot,
             sum(cast(q AS hugeint)) AS q_tot,
             sum(a_term) AS a
           FROM terms GROUP BY 1)
         SELECT o_orderstatus, k_groups, n,
           round((cast(a AS double) - cast(s_tot AS double)
               * cast(s_tot AS double) / cast(n AS double)) / 10000.0, 2)
             + 0.0 AS ss_between,
           round((cast(q_tot AS double) - cast(a AS double)) / 10000.0, 2)
             + 0.0 AS ss_within,
           round(((cast(a AS double) - cast(s_tot AS double)
               * cast(s_tot AS double) / cast(n AS double))
               / cast(k_groups - 1 AS double))
             / ((cast(q_tot AS double) - cast(a AS double))
               / cast(n - k_groups AS double)), 6) + 0.0 AS f_stat
         FROM st"""),

    // ---- EXT: Levene variance-homogeneity test ----
    Gate("q344_levene", (s, dir) => {
      // the ANOVA precondition q342 assumes, tested: Levene's W across
      // priority classes per status. Stage 1 pins 6-dp group means (a
      // broadcast dimension), the per-row |x − mean| terms are rounded
      // to 6 dp and summed EXACTLY in decimal, and the k=5 reduction
      // reuses q342's rounded-term discipline — no float summation-order
      // freedom anywhere.
      val x = Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice").cast(D).cast("double").as("__v"))
      val gm = x.groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(round(sum(col("__v").cast(D)).cast("double") /
          count(lit(1)).cast("double"), 6).as("__mg"))
      val z = x.join(broadcast(gm), Seq("o_orderstatus", "o_orderpriority"))
        .withColumn("__z",
          round(abs(col("__v") - col("__mg")), 6).cast("decimal(18,6)"))
      val cell = z.groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("__n"), sum(col("__z")).as("__sz"),
          sum(col("__z").cast("decimal(19,6)") * col("__z")).as("__qz"))
      val terms = cell.withColumn("__a",
        round(col("__sz").cast("double") * col("__sz").cast("double") /
          col("__n").cast("double"), 6).cast("decimal(38,6)"))
      val st = terms.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("k_groups"), sum(col("__n")).as("n"),
          sum(col("__sz")).cast("double").as("__szt"),
          sum(col("__qz")).cast("double").as("__qzt"),
          sum(col("__a")).cast("double").as("__at"))
      st.select(col("o_orderstatus"), col("k_groups"), col("n"),
        (round(((col("__at") - col("__szt") * col("__szt") /
          col("n").cast("double")) /
          (col("k_groups") - lit(1)).cast("double")) /
          ((col("__qzt") - col("__at")) /
            (col("n") - col("k_groups")).cast("double")), 6) + lit(0.0d))
          .as("w_stat"))
    },
      // Levene: 6-dp pinned group means, 6-dp rounded |x−mean| terms
      // exactly decimal-summed, q342's rounded-term reduction
      oracle = """WITH x AS (
           SELECT o_orderstatus, o_orderpriority,
             cast(cast(o_totalprice AS decimal(18,2)) AS double) AS v
           FROM orders),
         gm AS (
           SELECT o_orderstatus, o_orderpriority,
             round(cast(sum(cast(v AS decimal(18,2))) AS double)
               / cast(count(*) AS double), 6) AS mg
           FROM x GROUP BY 1, 2),
         z AS (
           SELECT x.o_orderstatus, x.o_orderpriority,
             cast(round(abs(x.v - gm.mg), 6) AS decimal(18,6)) AS z
           FROM x JOIN gm USING (o_orderstatus, o_orderpriority)),
         cell AS (
           SELECT o_orderstatus, o_orderpriority,
             cast(count(*) AS bigint) AS n,
             sum(z) AS sz,
             sum(cast(z AS decimal(19,6)) * z) AS qz
           FROM z GROUP BY 1, 2),
         terms AS (
           SELECT o_orderstatus, n, sz, qz,
             cast(round(cast(sz AS double) * cast(sz AS double)
               / cast(n AS double), 6) AS decimal(38,6)) AS a_term
           FROM cell),
         st AS (
           SELECT o_orderstatus,
             cast(count(*) AS bigint) AS k_groups,
             cast(sum(n) AS bigint) AS n,
             cast(sum(sz) AS double) AS sz_tot,
             cast(sum(qz) AS double) AS qz_tot,
             cast(sum(a_term) AS double) AS a
           FROM terms GROUP BY 1)
         SELECT o_orderstatus, k_groups, n,
           round(((a - sz_tot * sz_tot / cast(n AS double))
               / cast(k_groups - 1 AS double))
             / ((qz_tot - a) / cast(n - k_groups AS double)), 6) + 0.0
             AS w_stat
         FROM st"""),

    // ---- EXT: McNemar paired day-over-day activity test ----
    Gate("q349_mcnemar", (s, dir) => {
      // is (user, day) activity symmetric day-over-day? the paired-
      // proportions test on consecutive-day activity: b = active then
      // gone, c = gone then active, χ² = (b−c)²/(b+c). Counts come from
      // EXACT anti/semi self-joins on the distinct activity table — no
      // user×day grid is ever materialized, so the formulation is linear
      // in the activity table at any scale.
      val a = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
          col("ts").cast("date").as("d")).distinct()
      val bounds = Tables.events(s, dir)
        .agg(min(col("ts").cast("date")).as("__d0"),
          max(col("ts").cast("date")).as("__d1"))
      val y = a.select(col("event_type").as("__et"),
        col("user_id").as("__u"), col("d").as("__dn"))
      val b = a.crossJoin(broadcast(bounds))
        .filter(col("d") < col("__d1"))
        .join(y, col("__et") === col("event_type") &&
          col("__u") === col("user_id") &&
          col("__dn") === date_add(col("d"), 1), "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("active_then_gone"))
      val c = a.crossJoin(broadcast(bounds))
        .filter(col("d") > col("__d0"))
        .join(y, col("__et") === col("event_type") &&
          col("__u") === col("user_id") &&
          col("__dn") === date_sub(col("d"), 1), "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("gone_then_active"))
      val both = a
        .join(y, col("__et") === col("event_type") &&
          col("__u") === col("user_id") &&
          col("__dn") === date_add(col("d"), 1), "left_semi")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_both"))
      b.join(c, Seq("event_type")).join(both, Seq("event_type"))
        .select(col("event_type"), col("active_then_gone"),
          col("gone_then_active"), col("n_both"),
          (round(((col("active_then_gone") - col("gone_then_active")) *
            (col("active_then_gone") - col("gone_then_active")))
            .cast("double") /
            (col("active_then_gone") + col("gone_then_active"))
              .cast("double"), 6) + lit(0.0d)).as("chi2_mcnemar"))
    },
      // McNemar: exact anti/semi self-joins on the distinct activity table
      // — no user×day grid at any scale
      oracle = """WITH a AS (
           SELECT DISTINCT event_type, user_id, cast(ts AS date) AS d
           FROM events),
         bounds AS (
           SELECT min(cast(ts AS date)) AS d0, max(cast(ts AS date)) AS d1
           FROM events),
         b_cnt AS (
           SELECT x.event_type, cast(count(*) AS bigint) AS b
           FROM a x CROSS JOIN bounds
           WHERE x.d < d1 AND NOT EXISTS (
             SELECT 1 FROM a y WHERE y.event_type = x.event_type
               AND y.user_id = x.user_id AND y.d = x.d + to_days(1))
           GROUP BY 1),
         c_cnt AS (
           SELECT x.event_type, cast(count(*) AS bigint) AS c
           FROM a x CROSS JOIN bounds
           WHERE x.d > d0 AND NOT EXISTS (
             SELECT 1 FROM a y WHERE y.event_type = x.event_type
               AND y.user_id = x.user_id AND y.d = x.d - to_days(1))
           GROUP BY 1),
         both_cnt AS (
           SELECT x.event_type, cast(count(*) AS bigint) AS n_both
           FROM a x JOIN a y ON y.event_type = x.event_type
             AND y.user_id = x.user_id AND y.d = x.d + to_days(1)
           GROUP BY 1)
         SELECT event_type, b AS active_then_gone, c AS gone_then_active,
           n_both,
           round(cast((b - c) * (b - c) AS double) / cast(b + c AS double),
             6) + 0.0 AS chi2_mcnemar
         FROM b_cnt JOIN c_cnt USING (event_type)
           JOIN both_cnt USING (event_type)"""),

    // ---- EXT: Cochran's Q over weekly purchase activity ----
    Gate("q357_cochran_q", (s, dir) => {
      // did purchase propensity stay flat across the four weeks? the
      // k-treatment generalization of q349's McNemar on the binary
      // user×week activity matrix: Q = (k−1)(k·ΣG² − T²)/(k·T − ΣL²) —
      // every moment an exact integer, one double division at the end.
      val d0 = Tables.events(s, dir)
        .agg(min(col("ts").cast("date")).as("__d0"))
      val marks = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .crossJoin(broadcast(d0))
        .withColumn("__wk",
          expr("datediff(cast(ts as date), __d0) div 7"))
        .filter(col("__wk") <= 3)
        .select(col("user_id"), col("__wk")).distinct()
      val lrow = marks.groupBy(col("user_id")).agg(count(lit(1)).as("__l"))
      val rowStats = lrow.agg(count(lit(1)).as("n_users"),
        sum(col("__l")).as("__t"),
        sum(col("__l") * col("__l")).as("__sl2"))
      val colStats = marks.groupBy(col("__wk"))
        .agg(count(lit(1)).as("__g"))
        .agg(sum(col("__g") * col("__g")).as("__sg2"))
      rowStats.crossJoin(broadcast(colStats))
        .select(lit(4).as("k_periods"), col("n_users"),
          col("__t").as("total_marks"), col("__sl2").as("sum_l_sq"),
          col("__sg2").as("sum_g_sq"),
          (round((lit(3L) * (lit(4L) * col("__sg2") -
            col("__t") * col("__t"))).cast("double") /
            (lit(4L) * col("__t") - col("__sl2")).cast("double"), 6)
            + lit(0.0d)).as("cochran_q"))
    },
      // Cochran's Q: exact integer user×week activity moments
      oracle = """WITH d0 AS (SELECT min(cast(ts AS date)) AS d0 FROM events),
         marks AS (
           SELECT DISTINCT user_id,
             date_diff('day', d0, cast(ts AS date)) // 7 AS wk
           FROM events CROSS JOIN d0
           WHERE event_type = 'purchase'
             AND date_diff('day', d0, cast(ts AS date)) // 7 <= 3),
         lrow AS (SELECT user_id, cast(count(*) AS bigint) AS l
           FROM marks GROUP BY 1),
         gcol AS (SELECT wk, cast(count(*) AS bigint) AS g FROM marks
           GROUP BY 1),
         m AS (
           SELECT (SELECT cast(count(*) AS bigint) FROM lrow) AS n_users,
             (SELECT cast(sum(l) AS bigint) FROM lrow) AS t,
             (SELECT cast(sum(l * l) AS bigint) FROM lrow) AS sl2,
             (SELECT cast(sum(g * g) AS bigint) FROM gcol) AS sg2)
         SELECT cast(4 AS int) AS k_periods, n_users, t AS total_marks,
           sl2 AS sum_l_sq, sg2 AS sum_g_sq,
           round(cast(3 * (4 * sg2 - t * t) AS double)
             / cast(4 * t - sl2 AS double), 6) + 0.0 AS cochran_q
         FROM m"""),

    // ---- EXT: stratified IPW average treatment effect ----
    Gate("q366_ipw_ate", (s, dir) => {
      // the causal-inference workhorse: effect of urgent priority on
      // order value, inverse-propensity-weighted within (status, year)
      // strata. Propensities are exact rationals (n_t/n per stratum), so
      // each stratum term is exact-integer algebra rounded to 4 dp and
      // EXACTLY summed; degenerate strata (no treated or no control) are
      // excluded on both sides, and the naive unadjusted diff ships for
      // contrast.
      val o = Tables.orders(s, dir).select(
        col("o_orderstatus").as("st"),
        year(col("o_orderdate")).cast("int").as("yr"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("tr"),
        (col("o_totalprice").cast(D) * lit(100)).cast("bigint").as("yc"))
      val strata = o.groupBy(col("st"), col("yr"))
        .agg(count(lit(1)).as("n"), sum(col("tr")).as("nt"),
          sum(when(col("tr") === 1, col("yc")).otherwise(0L)).as("yt"),
          sum(when(col("tr") === 0, col("yc")).otherwise(0L)).as("yc0"))
        .filter(col("nt") > 0 && col("nt") < col("n"))
        .withColumn("__term",
          round((col("yt").cast("double") * col("n").cast("double") /
            col("nt").cast("double") -
            col("yc0").cast("double") * col("n").cast("double") /
              (col("n") - col("nt")).cast("double")) / lit(100.0d), 4)
            .cast("decimal(38,4)"))
      val tot = strata.agg(sum(col("n")).as("n_orders"),
        count(lit(1)).as("n_strata"), sum(col("nt")).as("n_treat"),
        sum(col("__term")).as("__ts"))
      val naive = o.agg(
        ((sum(when(col("tr") === 1, col("yc")).otherwise(0L))
          .cast("double") / sum(col("tr")).cast("double") -
          sum(when(col("tr") === 0, col("yc")).otherwise(0L))
            .cast("double") / sum(lit(1L) - col("tr")).cast("double")) /
          lit(100.0d)).as("__nd"))
      tot.crossJoin(broadcast(naive))
        .select(col("n_orders"), col("n_treat"), col("n_strata"),
          (round(col("__nd"), 2) + lit(0.0d)).as("naive_diff"),
          (round(col("__ts").cast("double") /
            col("n_orders").cast("double"), 2) + lit(0.0d)).as("ipw_ate"))
    },
      // IPW ATE: exact rational propensities per stratum, 4-dp rounded
      // stratum terms exactly summed; degenerate strata excluded both sides
      oracle = """WITH o AS (
           SELECT o_orderstatus AS st, cast(year(o_orderdate) AS int)
               AS yr,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS tr,
             cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
               AS yc
           FROM orders),
         s AS (
           SELECT st, yr, cast(count(*) AS bigint) AS n,
             cast(sum(tr) AS bigint) AS nt,
             cast(sum(CASE WHEN tr = 1 THEN yc ELSE 0 END) AS bigint)
               AS yt,
             cast(sum(CASE WHEN tr = 0 THEN yc ELSE 0 END) AS bigint)
               AS yc0
           FROM o GROUP BY 1, 2),
         terms AS (
           SELECT n, nt,
             cast(round((cast(yt AS double) * cast(n AS double)
                 / cast(nt AS double)
               - cast(yc0 AS double) * cast(n AS double)
                 / cast(n - nt AS double)) / 100.0, 4) AS decimal(38,4))
               AS term
           FROM s WHERE nt > 0 AND nt < n),
         tot AS (
           SELECT cast(sum(n) AS bigint) AS bign,
             cast(count(*) AS bigint) AS n_strata,
             cast(sum(nt) AS bigint) AS n_treat,
             sum(term) AS tsum
           FROM terms),
         naive AS (
           SELECT
             (cast(sum(CASE WHEN tr = 1 THEN yc ELSE 0 END) AS double)
               / cast(sum(tr) AS double)
              - cast(sum(CASE WHEN tr = 0 THEN yc ELSE 0 END) AS double)
               / cast(sum(1 - tr) AS double)) / 100.0 AS nd
           FROM o)
         SELECT bign AS n_orders, n_treat, n_strata,
           round(nd, 2) + 0.0 AS naive_diff,
           round(cast(tsum AS double) / cast(bign AS double), 2) + 0.0
             AS ipw_ate
         FROM tot CROSS JOIN naive"""),

    // ---- EXT: difference-in-differences estimate ----
    Gate("q376_diff_in_diff", (s, dir) => {
      // the pre/post × treated/control causal contrast completing the
      // q366/q329 family: heavy pre-period buyers (≥7 purchases) vs the
      // rest, click-value outcome; four exact-cents cell means and one
      // mirrored double contrast.
      val ev = Tables.events(s, dir)
      val b = ev.agg(min(col("ts").cast("date")).as("__d0"))
      val treat = ev.crossJoin(broadcast(b))
        .filter(col("event_type") === "purchase" &&
          col("ts").cast("date") < date_add(col("__d0"), 15))
        .groupBy(col("user_id")).agg(count(lit(1)).as("__np"))
        .filter(col("__np") >= 7).select(col("user_id"))
      val x = ev.crossJoin(broadcast(b))
        .filter(col("event_type") === "click")
        .join(treat.withColumn("__t", lit(1)), Seq("user_id"), "left_outer")
        .select(coalesce(col("__t"), lit(0)).as("tr"),
          when(col("ts").cast("date") < date_add(col("__d0"), 15), 0)
            .otherwise(1).as("post"),
          (col("value").cast(D) * lit(100)).cast("bigint").as("__yc"))
      val cells = x.groupBy(col("tr"), col("post"))
        .agg(count(lit(1)).as("__n"), sum(col("__yc")).as("__s"))
      def cellMean(t: Int, p: Int) = max(when(col("tr") === t &&
        col("post") === p, col("__s").cast("double") /
        col("__n").cast("double") / lit(100.0d)))
      cells.agg(cellMean(1, 0).as("__tp"), cellMean(1, 1).as("__tq"),
          cellMean(0, 0).as("__cp"), cellMean(0, 1).as("__cq"),
          sum(col("__n")).as("n_obs"))
        .select(col("n_obs"),
          (round(col("__tp"), 6) + lit(0.0d)).as("treat_pre"),
          (round(col("__tq"), 6) + lit(0.0d)).as("treat_post"),
          (round(col("__cp"), 6) + lit(0.0d)).as("ctrl_pre"),
          (round(col("__cq"), 6) + lit(0.0d)).as("ctrl_post"),
          (round((col("__tq") - col("__tp")) - (col("__cq") - col("__cp")),
            6) + lit(0.0d)).as("did_estimate"))
    },
      // DiD: four exact-cents cell means, one mirrored contrast
      oracle = """WITH b AS (SELECT min(cast(ts AS date)) AS d0 FROM events),
         pre AS (
           SELECT user_id, cast(count(*) AS bigint) AS np
           FROM events CROSS JOIN b
           WHERE event_type = 'purchase'
             AND cast(ts AS date) < d0 + to_days(15)
           GROUP BY 1),
         treat AS (SELECT user_id FROM pre WHERE np >= 7),
         x AS (
           SELECT CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END AS tr,
             CASE WHEN cast(e.ts AS date) < b.d0 + to_days(15) THEN 0
               ELSE 1 END AS post,
             cast(cast(e.value AS decimal(18,2)) * 100 AS bigint) AS yc
           FROM events e CROSS JOIN b
             LEFT JOIN treat t ON e.user_id = t.user_id
           WHERE e.event_type = 'click'),
         cells AS (
           SELECT tr, post, cast(count(*) AS bigint) AS n,
             cast(sum(yc) AS bigint) AS s
           FROM x GROUP BY 1, 2),
         m AS (
           SELECT
             max(CASE WHEN tr=1 AND post=0 THEN cast(s AS double)
               / cast(n AS double) / 100.0 END) AS t_pre,
             max(CASE WHEN tr=1 AND post=1 THEN cast(s AS double)
               / cast(n AS double) / 100.0 END) AS t_post,
             max(CASE WHEN tr=0 AND post=0 THEN cast(s AS double)
               / cast(n AS double) / 100.0 END) AS c_pre,
             max(CASE WHEN tr=0 AND post=1 THEN cast(s AS double)
               / cast(n AS double) / 100.0 END) AS c_post,
             cast(sum(n) AS bigint) AS n_obs
           FROM cells)
         SELECT n_obs,
           round(t_pre, 6) + 0.0 AS treat_pre,
           round(t_post, 6) + 0.0 AS treat_post,
           round(c_pre, 6) + 0.0 AS ctrl_pre,
           round(c_post, 6) + 0.0 AS ctrl_post,
           round((t_post - t_pre) - (c_post - c_pre), 6) + 0.0
             AS did_estimate
         FROM m"""),

    // ---- EXT: Bayesian A/B probability of superiority ----
    Gate("q378_bayes_ab", (s, dir) => {
      // P(treatment mean > control mean) under the flat-prior normal
      // approximation — the "chance to beat control" readout next to
      // q206's fixed-horizon test and q335's SPRT. Exact cents moments;
      // Φ via q331's explicit Abramowitz–Stegun polynomial (no libm
      // erf).
      val o = Tables.orders(s, dir).select(
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("tr"),
        (col("o_totalprice").cast(D) * lit(100)).cast("bigint").as("yc"))
      val m = o.groupBy(col("tr"))
        .agg(count(lit(1)).as("n"), sum(col("yc")).as("s"),
          sum(col("yc").cast("decimal(38,0)") * col("yc")).as("q"))
      def g(t: Int, c: String, out: String) =
        max(when(col("tr") === t, col(c))).as(out)
      val wide = m.agg(g(1, "n", "nt"), g(1, "s", "st"), g(1, "q", "qt"),
        g(0, "n", "nc"), g(0, "s", "sc"), g(0, "q", "qc"))
        .withColumn("__mt", col("st").cast("double") /
          col("nt").cast("double") / lit(100.0d))
        .withColumn("__mc", col("sc").cast("double") /
          col("nc").cast("double") / lit(100.0d))
        .withColumn("__vt",
          (col("qt").cast("double") / lit(10000.0d) -
            col("nt").cast("double") * col("__mt") * col("__mt")) /
            (col("nt").cast("double") - lit(1.0d)))
        .withColumn("__vc",
          (col("qc").cast("double") / lit(10000.0d) -
            col("nc").cast("double") * col("__mc") * col("__mc")) /
            (col("nc").cast("double") - lit(1.0d)))
        .withColumn("__z", (col("__mt") - col("__mc")) /
          sqrt(col("__vt") / col("nt").cast("double") +
            col("__vc") / col("nc").cast("double")))
      val az = abs(col("__z"))
      val t = lit(1.0d) / (lit(1.0d) + lit(0.2316419d) * az)
      val poly = t * (lit(0.319381530d) + t * (lit(-0.356563782d) +
        t * (lit(1.781477937d) + t * (lit(-1.821255978d) +
          t * lit(1.330274429d)))))
      val tail = exp(-az * az / 2.0d) / lit(2.5066282746310002d) * poly
      wide.select(col("nt").as("n_treat"), col("nc").as("n_ctrl"),
        (round(col("__mt") - col("__mc"), 2) + lit(0.0d)).as("mean_diff"),
        (round(col("__z"), 6) + lit(0.0d)).as("z_score"),
        (round(when(col("__z") >= 0, lit(1.0d) - tail).otherwise(tail), 9)
          + lit(0.0d)).as("p_superior"))
    },
      // Bayes A/B: exact cents moments, A-S polynomial Φ (q331 machinery)
      oracle = """WITH o AS (
           SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS tr,
             cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
               AS yc
           FROM orders),
         m AS (
           SELECT tr, cast(count(*) AS bigint) AS n,
             cast(sum(yc) AS bigint) AS s,
             sum(cast(yc AS hugeint) * yc) AS q
           FROM o GROUP BY 1),
         w AS (
           SELECT
             max(CASE WHEN tr = 1 THEN n END) AS nt,
             max(CASE WHEN tr = 1 THEN s END) AS st,
             max(CASE WHEN tr = 1 THEN q END) AS qt,
             max(CASE WHEN tr = 0 THEN n END) AS nc,
             max(CASE WHEN tr = 0 THEN s END) AS sc,
             max(CASE WHEN tr = 0 THEN q END) AS qc
           FROM m),
         d AS (
           SELECT nt, nc,
             cast(st AS double) / cast(nt AS double) / 100.0 AS mt,
             cast(sc AS double) / cast(nc AS double) / 100.0 AS mc,
             (cast(qt AS double) / 10000.0 - cast(nt AS double)
               * (cast(st AS double) / cast(nt AS double) / 100.0)
               * (cast(st AS double) / cast(nt AS double) / 100.0))
               / (cast(nt AS double) - 1.0) AS vt,
             (cast(qc AS double) / 10000.0 - cast(nc AS double)
               * (cast(sc AS double) / cast(nc AS double) / 100.0)
               * (cast(sc AS double) / cast(nc AS double) / 100.0))
               / (cast(nc AS double) - 1.0) AS vc
           FROM w),
         z AS (
           SELECT nt, nc, mt, mc,
             (mt - mc) / sqrt(vt / cast(nt AS double)
               + vc / cast(nc AS double)) AS z
           FROM d),
         ph AS (
           SELECT nt, nc, mt, mc, z,
             exp(-abs(z) * abs(z) / 2.0) / 2.5066282746310002
               * ((1.0 / (1.0 + 0.2316419 * abs(z)))
                 * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                   * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                     * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                       * (-1.821255978 + (1.0 / (1.0 + 0.2316419
                         * abs(z))) * 1.330274429))))) AS tail
           FROM z)
         SELECT nt AS n_treat, nc AS n_ctrl,
           round(mt - mc, 2) + 0.0 AS mean_diff,
           round(z, 6) + 0.0 AS z_score,
           round(CASE WHEN z >= 0 THEN 1.0 - tail ELSE tail END, 9) + 0.0
             AS p_superior
         FROM ph"""),

    // ---- EXT: A/B sample-size / power analysis ----
    Gate("q379_power_analysis", (s, dir) =>
      // given each stream's observed weekend-vs-weekday effect, the n
      // per arm a two-sided α=0.05 / 80%-power test needs:
      // n = (z_{α/2}+z_β)²(v₁+v₂)/Δ² — the experiment-design readout
      // from exact cents moments, mirrored literal constants.
      Tables.events(s, dir)
        .select(col("event_type"),
          when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L)
            .as("we"),
          (col("value").cast(D) * lit(100)).cast("bigint").as("yc"))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("we") === 1, 1L).otherwise(0L)).as("__n1"),
          sum(when(col("we") === 1, col("yc")).otherwise(0L)).as("__s1"),
          sum(when(col("we") === 1,
            col("yc").cast("decimal(38,0)") * col("yc")).otherwise(
            lit(0).cast("decimal(38,0)"))).as("__q1"),
          sum(when(col("we") === 0, 1L).otherwise(0L)).as("__n0"),
          sum(when(col("we") === 0, col("yc")).otherwise(0L)).as("__s0"),
          sum(when(col("we") === 0,
            col("yc").cast("decimal(38,0)") * col("yc")).otherwise(
            lit(0).cast("decimal(38,0)"))).as("__q0"))
        .withColumn("__m1", col("__s1").cast("double") /
          col("__n1").cast("double") / lit(100.0d))
        .withColumn("__m0", col("__s0").cast("double") /
          col("__n0").cast("double") / lit(100.0d))
        .withColumn("__v1",
          (col("__q1").cast("double") / lit(10000.0d) -
            col("__n1").cast("double") * col("__m1") * col("__m1")) /
            (col("__n1").cast("double") - lit(1.0d)))
        .withColumn("__v0",
          (col("__q0").cast("double") / lit(10000.0d) -
            col("__n0").cast("double") * col("__m0") * col("__m0")) /
            (col("__n0").cast("double") - lit(1.0d)))
        .withColumn("__d", col("__m1") - col("__m0"))
        .select(col("event_type"),
          (round(col("__d"), 6) + lit(0.0d)).as("observed_delta"),
          (round(sqrt((col("__v1") + col("__v0")) / lit(2.0d)), 6)
            + lit(0.0d)).as("pooled_sd"),
          // (z_{0.975} + z_{0.80})² ≈ 7.849 — one shared literal, so the
          // constant is identical in both engines by construction
          ceil(lit(7.849d) * (col("__v1") + col("__v0")) /
            (col("__d") * col("__d"))).cast("bigint")
            .as("n_required_per_arm")),
      // power analysis: mirrored (z975+z80)^2 literal, exact cents moments
      oracle = """WITH e AS (
           SELECT event_type,
             CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS we,
             cast(cast(value AS decimal(18,2)) * 100 AS bigint) AS yc
           FROM events),
         m AS (
           SELECT event_type,
             cast(sum(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS bigint)
               AS n1,
             cast(sum(CASE WHEN we = 1 THEN yc ELSE 0 END) AS bigint)
               AS s1,
             sum(CASE WHEN we = 1 THEN cast(yc AS hugeint) * yc
               ELSE 0 END) AS q1,
             cast(sum(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS bigint)
               AS n0,
             cast(sum(CASE WHEN we = 0 THEN yc ELSE 0 END) AS bigint)
               AS s0,
             sum(CASE WHEN we = 0 THEN cast(yc AS hugeint) * yc
               ELSE 0 END) AS q0
           FROM e GROUP BY 1),
         d AS (
           SELECT event_type, n1, n0,
             cast(s1 AS double) / cast(n1 AS double) / 100.0 AS m1,
             cast(s0 AS double) / cast(n0 AS double) / 100.0 AS m0,
             (cast(q1 AS double) / 10000.0 - cast(n1 AS double)
               * (cast(s1 AS double) / cast(n1 AS double) / 100.0)
               * (cast(s1 AS double) / cast(n1 AS double) / 100.0))
               / (cast(n1 AS double) - 1.0) AS v1,
             (cast(q0 AS double) / 10000.0 - cast(n0 AS double)
               * (cast(s0 AS double) / cast(n0 AS double) / 100.0)
               * (cast(s0 AS double) / cast(n0 AS double) / 100.0))
               / (cast(n0 AS double) - 1.0) AS v0
           FROM m)
         SELECT event_type,
           round(m1 - m0, 6) + 0.0 AS observed_delta,
           round(sqrt((v1 + v0) / 2.0), 6) + 0.0 AS pooled_sd,
           cast(ceil(7.849 * (v1 + v0) / ((m1 - m0) * (m1 - m0)))
             AS bigint) AS n_required_per_arm
         FROM d"""),

    // ---- EXT: CUPED variance reduction ----
    Gate("q380_cuped", (s, dir) => {
      // the modern experimentation stack's variance-reduction estimator:
      // θ = cov(post, pre)/var(pre) over per-user click-value totals,
      // var(y_cuped) = var(y) − cov²/var(x) analytically from EXACT
      // integer-cents moments — the reduction equals ρ².
      val ev = Tables.events(s, dir)
      val b = ev.agg(min(col("ts").cast("date")).as("__d0"))
      val u = ev.crossJoin(broadcast(b))
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts").cast("date") < date_add(col("__d0"), 15),
            (col("value").cast(D) * lit(100)).cast("bigint"))
            .otherwise(0L)).as("__x"),
          sum(when(col("ts").cast("date") >= date_add(col("__d0"), 15),
            (col("value").cast(D) * lit(100)).cast("bigint"))
            .otherwise(0L)).as("__y"))
      u.agg(count(lit(1)).as("n_users"),
          sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
          sum(col("__x").cast("decimal(38,0)") * col("__x")).as("qx"),
          sum(col("__y").cast("decimal(38,0)") * col("__y")).as("qy"),
          sum(col("__x").cast("decimal(38,0)") * col("__y")).as("qxy"))
        .withColumn("__vx",
          (col("qx").cast("double") - col("sx").cast("double") *
            col("sx").cast("double") / col("n_users").cast("double")) /
            col("n_users").cast("double"))
        .withColumn("__vy",
          (col("qy").cast("double") - col("sy").cast("double") *
            col("sy").cast("double") / col("n_users").cast("double")) /
            col("n_users").cast("double"))
        .withColumn("__cv",
          (col("qxy").cast("double") - col("sx").cast("double") *
            col("sy").cast("double") / col("n_users").cast("double")) /
            col("n_users").cast("double"))
        .select(col("n_users"),
          (round(col("__cv") / col("__vx"), 6) + lit(0.0d)).as("theta"),
          (round(col("__vy") / lit(10000.0d), 2) + lit(0.0d))
            .as("var_raw"),
          (round((col("__vy") - col("__cv") * col("__cv") / col("__vx")) /
            lit(10000.0d), 2) + lit(0.0d)).as("var_cuped"),
          (round(col("__cv") * col("__cv") /
            (col("__vx") * col("__vy")), 6) + lit(0.0d))
            .as("variance_reduction"))
    },
      // CUPED: exact integer-cents moments, analytic variance reduction
      oracle = """WITH b AS (SELECT min(cast(ts AS date)) AS d0 FROM events),
         u AS (
           SELECT user_id,
             cast(sum(CASE WHEN cast(ts AS date) < d0 + to_days(15)
               THEN cast(cast(value AS decimal(18,2)) * 100 AS bigint)
               ELSE 0 END) AS bigint) AS x,
             cast(sum(CASE WHEN cast(ts AS date) >= d0 + to_days(15)
               THEN cast(cast(value AS decimal(18,2)) * 100 AS bigint)
               ELSE 0 END) AS bigint) AS y
           FROM events CROSS JOIN b
           WHERE event_type = 'click'
           GROUP BY 1),
         m AS (
           SELECT cast(count(*) AS bigint) AS n,
             cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
             sum(cast(x AS hugeint) * x) AS qx,
             sum(cast(y AS hugeint) * y) AS qy,
             sum(cast(x AS hugeint) * y) AS qxy
           FROM u),
         d AS (
           SELECT n,
             (cast(qx AS double) - cast(sx AS double) * cast(sx AS double)
               / cast(n AS double)) / cast(n AS double) AS vx,
             (cast(qy AS double) - cast(sy AS double) * cast(sy AS double)
               / cast(n AS double)) / cast(n AS double) AS vy,
             (cast(qxy AS double) - cast(sx AS double)
               * cast(sy AS double) / cast(n AS double))
               / cast(n AS double) AS cv
           FROM m)
         SELECT n AS n_users,
           round(cv / vx, 6) + 0.0 AS theta,
           round(vy / 10000.0, 2) + 0.0 AS var_raw,
           round((vy - cv * cv / vx) / 10000.0, 2) + 0.0 AS var_cuped,
           round(cv * cv / (vx * vy), 6) + 0.0 AS variance_reduction
         FROM d"""),

    // ---- EXT: regression discontinuity at the 1996 boundary ----
    Gate("q382_reg_discontinuity", (s, dir) => {
      // the RDD mechanic: local linear fits on both sides of the
      // 1996-01-01 cutoff (±365-day bandwidth) over (days-to-cutoff,
      // order value); the jump is the difference of the two intercepts
      // at x=0. Exact integer moments (days × cents in decimal(38,0)),
      // closed-form OLS, mirrored double algebra.
      val o = Tables.orders(s, dir)
        .withColumn("__x", datediff(col("o_orderdate").cast("date"),
          lit("1996-01-01").cast("date")).cast("long"))
        .filter(col("__x") >= -365 && col("__x") < 365)
        .withColumn("__yc",
          (col("o_totalprice").cast(D) * lit(100)).cast("bigint"))
        .withColumn("side", when(col("__x") < 0, "left").otherwise("right"))
      val fits = o.groupBy(col("side"))
        .agg(count(lit(1)).as("n"), sum(col("__x")).as("sx"),
          sum(col("__x") * col("__x")).as("sxx"),
          sum(col("__yc")).as("sy"),
          sum(col("__x").cast("decimal(38,0)") * col("__yc")).as("sxy"))
        .withColumn("__b",
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")))
        .withColumn("__a",
          (col("sy").cast("double") - col("__b") *
            col("sx").cast("double")) / col("n").cast("double") /
            lit(100.0d))
      def side(sd: String, c: String, out: String) =
        max(when(col("side") === sd, col(c))).as(out)
      fits.agg(side("left", "n", "n_left"), side("right", "n", "n_right"),
          side("left", "__a", "__al"), side("right", "__a", "__ar"),
          side("left", "__b", "__bl"), side("right", "__b", "__br"))
        .select(col("n_left"), col("n_right"),
          (round(col("__al"), 2) + lit(0.0d)).as("intercept_left"),
          (round(col("__ar"), 2) + lit(0.0d)).as("intercept_right"),
          (round(col("__bl") / lit(100.0d), 6) + lit(0.0d))
            .as("slope_left"),
          (round(col("__br") / lit(100.0d), 6) + lit(0.0d))
            .as("slope_right"),
          (round(col("__ar") - col("__al"), 2) + lit(0.0d))
            .as("jump_at_cutoff"))
    },
      // RDD: exact day×cents moments, closed-form OLS each side, jump =
      // intercept difference at the cutoff
      oracle = """WITH o AS (
           SELECT date_diff('day', cast('1996-01-01' AS date),
               cast(o_orderdate AS date)) AS x,
             cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
               AS yc
           FROM orders
           WHERE date_diff('day', cast('1996-01-01' AS date),
               cast(o_orderdate AS date)) >= -365
             AND date_diff('day', cast('1996-01-01' AS date),
               cast(o_orderdate AS date)) < 365),
         f AS (
           SELECT CASE WHEN x < 0 THEN 'left' ELSE 'right' END AS side,
             cast(count(*) AS bigint) AS n,
             cast(sum(x) AS bigint) AS sx,
             cast(sum(x * x) AS bigint) AS sxx,
             cast(sum(yc) AS bigint) AS sy,
             sum(cast(x AS hugeint) * yc) AS sxy
           FROM o GROUP BY 1),
         ab AS (
           SELECT side, n,
             (cast(n AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double))
               / (cast(n AS double) * cast(sxx AS double)
                 - cast(sx AS double) * cast(sx AS double)) AS b,
             (cast(sy AS double) - (cast(n AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double))
               / (cast(n AS double) * cast(sxx AS double)
                 - cast(sx AS double) * cast(sx AS double))
               * cast(sx AS double)) / cast(n AS double) / 100.0 AS a
           FROM f),
         w AS (
           SELECT
             max(CASE WHEN side = 'left' THEN n END) AS n_left,
             max(CASE WHEN side = 'right' THEN n END) AS n_right,
             max(CASE WHEN side = 'left' THEN a END) AS al,
             max(CASE WHEN side = 'right' THEN a END) AS ar,
             max(CASE WHEN side = 'left' THEN b END) AS bl,
             max(CASE WHEN side = 'right' THEN b END) AS br
           FROM ab)
         SELECT n_left, n_right,
           round(al, 2) + 0.0 AS intercept_left,
           round(ar, 2) + 0.0 AS intercept_right,
           round(bl / 100.0, 6) + 0.0 AS slope_left,
           round(br / 100.0, 6) + 0.0 AS slope_right,
           round(ar - al, 2) + 0.0 AS jump_at_cutoff
         FROM w"""),

    // ---- EXT: Mondrian split-conformal prediction intervals ----
    Gate("q421_split_conformal", (s, dir) => {
      // distribution-free uncertainty quantification for a trained
      // predictor — the missing member of the eval family (q316 gives a
      // median CI, q274/q284 resample; this calibrates a PREDICTION
      // interval with finite-sample coverage). Split conformal, Mondrian
      // (per-group) flavor: train < 1998 fits the group-mean predictor,
      // 1998 is the calibration year, ≥ 1999 is held out. qhat = the
      // k-th smallest |residual| with k = ceil(0.9·(n_cal+1)), resolved by
      // integer rank against the per-group residual DISTRIBUTION table
      // (q316/q369's compressed-window trick); residuals are exact integer
      // cents, so every comparison is engine-exact. Coverage on the held-out
      // year then audits the 90% guarantee. Scale: the model and qhat
      // tables are group-cardinality-sized broadcasts; the corpus streams
      // once per split.
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast(D) * 100).cast("long").as("cents"),
        col("o_orderdate").as("d"))
      val model = o.filter(col("d") < lit("1998-01-01"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_train"),
          expr("sum(cents) div count(1)").as("yhat_cents"))
      val cal = o.filter(col("d") >= lit("1998-01-01") &&
          col("d") < lit("1999-01-01"))
        .join(broadcast(model), Seq("priority"))
        .withColumn("resid", abs(col("cents") - col("yhat_cents")))
      val wOrd = Window.partitionBy(col("priority")).orderBy(col("resid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("priority"))
      val qhat = cal.groupBy(col("priority"), col("resid"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__cc", sum(col("__c")).over(wOrd))
        .withColumn("__n", sum(col("__c")).over(wAll))
        .withColumn("__k", expr("(9 * (__n + 1) + 9) div 10"))
        .groupBy(col("priority"), col("__n").as("n_cal"))
        .agg(min(when(col("__cc") >= col("__k"), col("resid")))
          .as("qhat_cents"))
      o.filter(col("d") >= lit("1999-01-01"))
        .join(broadcast(model), Seq("priority"))
        .withColumn("resid", abs(col("cents") - col("yhat_cents")))
        .join(broadcast(qhat), Seq("priority"))
        .groupBy(col("priority"), col("n_train"), col("yhat_cents"),
          col("n_cal"), col("qhat_cents"))
        .agg(count(lit(1)).as("n_eval"),
          (round(sum(when(col("resid") <= col("qhat_cents"), 1L)
              .otherwise(0L)).cast("double") /
            count(lit(1)).cast("double"), 6) + lit(0.0d)).as("coverage"))
    },
      oracle = """WITH o AS (SELECT o_orderpriority AS priority,
             cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
               AS cents,
             o_orderdate AS d
           FROM orders),
         m AS (SELECT priority, cast(count(*) AS bigint) AS n_train,
             cast(sum(cents) AS bigint) // count(*) AS yhat_cents
           FROM o WHERE d < TIMESTAMP '1998-01-01' GROUP BY 1),
         cal AS (SELECT o.priority, abs(cents - yhat_cents) AS resid
           FROM o JOIN m ON o.priority = m.priority
           WHERE d >= TIMESTAMP '1998-01-01'
             AND d < TIMESTAMP '1999-01-01'),
         dist AS (SELECT priority, resid, count(*) AS c
           FROM cal GROUP BY 1, 2),
         rk AS (SELECT priority, resid,
             sum(c) OVER (PARTITION BY priority ORDER BY resid) AS cc,
             sum(c) OVER (PARTITION BY priority) AS n
           FROM dist),
         q AS (SELECT priority, cast(max(n) AS bigint) AS n_cal,
             cast(min(CASE WHEN cc >= (9 * (n + 1) + 9) // 10
               THEN resid END) AS bigint) AS qhat_cents
           FROM rk GROUP BY 1),
         ev AS (SELECT o.priority, abs(cents - yhat_cents) AS resid
           FROM o JOIN m ON o.priority = m.priority
           WHERE d >= TIMESTAMP '1999-01-01')
         SELECT ev.priority, m.n_train, m.yhat_cents, q.n_cal, q.qhat_cents,
           cast(count(*) AS bigint) AS n_eval,
           round(cast(sum(CASE WHEN resid <= qhat_cents THEN 1 ELSE 0 END)
               AS double) / cast(count(*) AS double), 6) + 0.0 AS coverage
         FROM ev JOIN q ON ev.priority = q.priority
           JOIN m ON ev.priority = m.priority
         GROUP BY 1, 2, 3, 4, 5"""),

    // ---- EXT: Mann-Whitney U rank-sum test (compressed distribution) ----
    Gate("q456_mann_whitney", (s, dir) => {
      // two-sample rank test WITHOUT a global row sort: l_quantity has
      // ≤50 distinct values, so all rank algebra runs on the 50-row
      // compressed distribution (value → per-group counts). Tied ranks
      // stay exact by 2x-scaling (avg rank ×2 = 2·cum_before + n(v) + 1);
      // the tie-corrected normal z is the only double and goes through
      // the mirrored half-away floor (q370 discipline).
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("int").as("v"),
          (col("l_linestatus") === "O").cast("long").as("g1"))
      val dist = li.groupBy("v")
        .agg(sum("g1").as("n1v"), (count(lit(1)) - sum("g1")).as("n2v"))
        .withColumn("nv", col("n1v") + col("n2v"))
      val w = Window.orderBy("v") // ≤50-row distribution table
      val ranked = dist.withColumn("cb", coalesce(
        sum("nv").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      ranked.agg(
          sum("n1v").as("n1"), sum("n2v").as("n2"),
          sum(col("n1v") * (lit(2L) * col("cb") + col("nv") + lit(1L)))
            .as("r1_x2"),
          sum(col("nv") * col("nv") * col("nv") - col("nv")).as("tt"))
        .select(col("n1"), col("n2"),
          (col("r1_x2") - col("n1") * (col("n1") + 1)).as("u1_x2"),
          (lit(2L) * col("n1") * col("n2")
            - (col("r1_x2") - col("n1") * (col("n1") + 1))).as("u2_x2"),
          (floor(((col("r1_x2") - col("n1") * (col("n1") + 1))
              .cast("double") / 2.0
            - (col("n1") * col("n2")).cast("double") / 2.0)
            / sqrt(col("n1").cast("double") * col("n2").cast("double")
              / 12.0
              * ((col("n1") + col("n2") + 1).cast("double")
                - col("tt").cast("double")
                  / ((col("n1") + col("n2")).cast("double")
                    * (col("n1") + col("n2") - 1).cast("double"))))
            * 1000000 + 0.5) / 1000000.0).as("z_approx"))
    },
      // rank algebra on the compressed distribution, 2x-scaled tied ranks
      oracle = """WITH b AS (SELECT cast(l_quantity AS int) AS v,
             CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS g1
           FROM lineitem),
         d AS (SELECT v, cast(sum(g1) AS bigint) AS n1v,
             cast(count(*) - sum(g1) AS bigint) AS n2v
           FROM b GROUP BY 1),
         r AS (SELECT v, n1v, n2v, n1v + n2v AS nv,
             cast(coalesce(sum(n1v + n2v) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bigint) AS cb
           FROM d),
         a AS (SELECT cast(sum(n1v) AS bigint) AS n1,
             cast(sum(n2v) AS bigint) AS n2,
             cast(sum(n1v * (2 * cb + nv + 1)) AS bigint) AS r1_x2,
             cast(sum(nv * nv * nv - nv) AS bigint) AS tt
           FROM r)
         SELECT n1, n2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2,
           floor((cast(r1_x2 - n1 * (n1 + 1) AS double) / 2.0
               - cast(n1 * n2 AS double) / 2.0)
             / sqrt(cast(n1 AS double) * cast(n2 AS double) / 12.0
               * (cast(n1 + n2 + 1 AS double) - cast(tt AS double)
                 / (cast(n1 + n2 AS double) * cast(n1 + n2 - 1 AS double))))
             * 1000000 + 0.5) / 1000000.0 AS z_approx
         FROM a"""),

    // ---- EXT: Benjamini-Hochberg FDR over a test family ----
    Gate("q457_bh_fdr", (s, dir) => {
      // multiple-testing control for the per-nation return-rate screen:
      // one two-proportion z per supplier nation against the global rate,
      // then the BH step-up at α=0.05 stated in exact scaled-integer
      // algebra (p6·m·20 ≤ k·10^6 — no double threshold can flip a
      // boundary row between engines). Φ via the mirrored logistic
      // approximation 1/(1+exp(−1.702z)) — both engines run the same
      // IEEE ops, and the gate's subject is the step-up machinery, not
      // the tail approximation. Rank windows run on the 25-row nation
      // table only.
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"),
          (col("l_returnflag") === "R").cast("long").as("r"))
      val per = li.groupBy("n_nationkey", "n_name")
        .agg(count(lit(1)).as("n_li"), sum("r").as("x_ret"))
      val glob = per.agg(sum("n_li").as("nt"), sum("x_ret").as("xt"))
      val z = per.crossJoin(broadcast(glob))
        .withColumn("p0", col("xt").cast("double") / col("nt").cast("double"))
        .withColumn("z", (col("x_ret").cast("double")
            / col("n_li").cast("double") - col("p0"))
          / sqrt(col("p0") * (lit(1.0) - col("p0"))
            / col("n_li").cast("double")))
        .withColumn("p6", floor((lit(2.0) * (lit(1.0)
          - lit(1.0) / (lit(1.0) + exp(lit(-1.702) * abs(col("z"))))))
          * 1000000 + 0.5).cast("long"))
      val wr = Window.orderBy(col("p6"), col("n_nationkey"))
      val wAll = Window.partitionBy(lit(1)) // 25-row family
      val ranked = z.withColumn("rnk", row_number().over(wr))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("kmax", max(when(
          col("p6") * col("m") * 20 <= col("rnk") * lit(1000000L),
          col("rnk")).otherwise(lit(0))).over(wAll))
      ranked.select(col("n_name"), col("n_li"), col("x_ret"),
          (col("p6").cast("double") / 1000000.0).as("p_value"),
          col("rnk").cast("long").as("rnk"),
          (col("rnk") <= col("kmax")).cast("int").as("rejected"))
    },
      // BH step-up in scaled-integer algebra; logistic Phi both sides
      oracle = """WITH li AS (SELECT n.n_nationkey, n.n_name,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
           FROM lineitem l
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey),
         per AS (SELECT n_nationkey, n_name,
             cast(count(*) AS bigint) AS n_li,
             cast(sum(r) AS bigint) AS x_ret
           FROM li GROUP BY 1, 2),
         g AS (SELECT cast(sum(n_li) AS bigint) AS nt,
             cast(sum(x_ret) AS bigint) AS xt FROM per),
         z AS (SELECT per.*,
             cast(xt AS double) / cast(nt AS double) AS p0
           FROM per CROSS JOIN g),
         z2 AS (SELECT n_nationkey, n_name, n_li, x_ret,
             (cast(x_ret AS double) / cast(n_li AS double) - p0)
               / sqrt(p0 * (1.0 - p0) / cast(n_li AS double)) AS zz
           FROM z),
         p AS (SELECT *, cast(floor((2.0 * (1.0
               - 1.0 / (1.0 + exp(-1.702 * abs(zz)))))
             * 1000000 + 0.5) AS bigint) AS p6 FROM z2),
         rk AS (SELECT *,
             row_number() OVER (ORDER BY p6, n_nationkey) AS rnk,
             cast(count(*) OVER () AS bigint) AS m FROM p),
         km AS (SELECT *, max(CASE WHEN p6 * m * 20 <= rnk * 1000000
               THEN rnk ELSE 0 END) OVER () AS kmax FROM rk)
         SELECT n_name, n_li, x_ret,
           cast(p6 AS double) / 1000000.0 AS p_value,
           cast(rnk AS bigint) AS rnk,
           CASE WHEN rnk <= kmax THEN 1 ELSE 0 END AS rejected
         FROM km"""),

    // ---- EXT: difference-in-differences estimator ----
    Gate("q458_did", (s, dir) => {
      // the 2×2 causal panel in ONE conditional-aggregation pass:
      // treated = ASIA-region customers, post = orders from 1999 on,
      // outcome = mean order value. Sums stay exact in cents; each cell
      // mean is half-away-floored at 6dp FIRST, so the DiD contrast is
      // pure integer algebra at the 1e6 scale (no double subtraction
      // can diverge between engines).
      val cust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"),
          (col("r_name") === "ASIA").cast("int").as("treated"))
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"),
          (col("o_orderdate") >= lit("1999-01-01").cast("date"))
            .cast("int").as("post"),
          (col("o_totalprice").cast(D) * 100).cast("long").as("cents"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      def m6(t: Int, p: Int) = floor(
        sum(when(col("treated") === t && col("post") === p, col("cents")))
          .cast("double")
        / sum(when(col("treated") === t && col("post") === p, 1L))
        / 100.0 * 1000000 + 0.5).cast("long")
      def n(t: Int, p: Int) =
        sum(when(col("treated") === t && col("post") === p, 1L)).as(s"n$t$p")
      o.agg(n(0, 0), n(0, 1), n(1, 0), n(1, 1),
          m6(0, 0).as("m00"), m6(0, 1).as("m01"),
          m6(1, 0).as("m10"), m6(1, 1).as("m11"))
        .select(col("n00"), col("n01"), col("n10"), col("n11"),
          (col("m00").cast("double") / 1000000.0).as("mean_c_pre"),
          (col("m01").cast("double") / 1000000.0).as("mean_c_post"),
          (col("m10").cast("double") / 1000000.0).as("mean_t_pre"),
          (col("m11").cast("double") / 1000000.0).as("mean_t_post"),
          (((col("m11") - col("m10")) - (col("m01") - col("m00")))
            .cast("double") / 1000000.0).as("did"))
    },
      // 2x2 conditional aggregation; cell means 6dp-floored before the
      // contrast so the DiD is exact integer algebra
      oracle = """WITH cust AS (SELECT c_custkey,
             CASE WHEN r.r_name = 'ASIA' THEN 1 ELSE 0 END AS treated
           FROM customer c
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey),
         o AS (SELECT treated,
             CASE WHEN o_orderdate >= DATE '1999-01-01'
               THEN 1 ELSE 0 END AS post,
             cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
               AS cents
           FROM orders JOIN cust ON o_custkey = c_custkey),
         a AS (SELECT
             cast(sum(CASE WHEN treated = 0 AND post = 0 THEN 1 END)
               AS bigint) AS n00,
             cast(sum(CASE WHEN treated = 0 AND post = 1 THEN 1 END)
               AS bigint) AS n01,
             cast(sum(CASE WHEN treated = 1 AND post = 0 THEN 1 END)
               AS bigint) AS n10,
             cast(sum(CASE WHEN treated = 1 AND post = 1 THEN 1 END)
               AS bigint) AS n11,
             cast(floor(cast(sum(CASE WHEN treated = 0 AND post = 0
                 THEN cents END) AS double)
               / sum(CASE WHEN treated = 0 AND post = 0 THEN 1 END)
               / 100.0 * 1000000 + 0.5) AS bigint) AS m00,
             cast(floor(cast(sum(CASE WHEN treated = 0 AND post = 1
                 THEN cents END) AS double)
               / sum(CASE WHEN treated = 0 AND post = 1 THEN 1 END)
               / 100.0 * 1000000 + 0.5) AS bigint) AS m01,
             cast(floor(cast(sum(CASE WHEN treated = 1 AND post = 0
                 THEN cents END) AS double)
               / sum(CASE WHEN treated = 1 AND post = 0 THEN 1 END)
               / 100.0 * 1000000 + 0.5) AS bigint) AS m10,
             cast(floor(cast(sum(CASE WHEN treated = 1 AND post = 1
                 THEN cents END) AS double)
               / sum(CASE WHEN treated = 1 AND post = 1 THEN 1 END)
               / 100.0 * 1000000 + 0.5) AS bigint) AS m11
           FROM o)
         SELECT n00, n01, n10, n11,
           cast(m00 AS double) / 1000000.0 AS mean_c_pre,
           cast(m01 AS double) / 1000000.0 AS mean_c_post,
           cast(m10 AS double) / 1000000.0 AS mean_t_pre,
           cast(m11 AS double) / 1000000.0 AS mean_t_post,
           cast((m11 - m10) - (m01 - m00) AS double) / 1000000.0 AS did
         FROM a"""),

    // ---- EXT: coarsened exact matching (ATT) ----
    Gate("q459_cem_att", (s, dir) => {
      // observational causal estimate with exact-match strata: units are
      // customers (treatment = deterministic md5 parity — a testable
      // skeleton for a real exposure flag), outcome = lifetime spend,
      // strata = (nation, segment). Only strata holding BOTH arms
      // contribute; controls are reweighted to the treated distribution
      // (ATT weights = n_treated per stratum). Per-stratum means floored
      // at 6dp first so the weighted contrast is exact integer algebra;
      // the stratum table is dimension-sized (≤ 25×5 rows).
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(D) * 100).cast("long").as("sc"))
      val cust = Tables.customer(s, dir)
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_nationkey"), col("c_mktsegment"),
          coalesce(col("sc"), lit(0L)).as("cents"),
          (conv(substring(md5(concat(lit("cem:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2 === 0).cast("int").as("treated"))
      val cells = cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(sum(when(col("treated") === 1, 1L)).as("nt"),
          sum(when(col("treated") === 0, 1L)).as("nc"),
          sum(when(col("treated") === 1, col("cents"))).as("st"),
          sum(when(col("treated") === 0, col("cents"))).as("sc"))
      val matched = cells.filter(col("nt") > 0 && col("nc") > 0)
        .withColumn("d6",
          floor(col("st").cast("double") / col("nt") / 100.0
            * 1000000 + 0.5).cast("long")
          - floor(col("sc").cast("double") / col("nc") / 100.0
            * 1000000 + 0.5).cast("long"))
      cells.agg(count(lit(1)).as("n_cells")).crossJoin(
        matched.agg(count(lit(1)).as("n_matched"),
            sum("nt").as("n_treated_matched"),
            sum("nc").as("n_control_matched"),
            (floor(sum(col("nt") * col("d6")).cast("double")
              / sum("nt") + 0.5) / 1000000.0).as("att")))
        .select(col("n_cells"), col("n_matched"),
          col("n_treated_matched"), col("n_control_matched"), col("att"))
    },
      // exact-match strata; ATT weights = treated counts per stratum
      oracle = """WITH spend AS (SELECT o_custkey,
             cast(sum(cast(o_totalprice AS decimal(18,2)) * 100)
               AS bigint) AS sc
           FROM orders GROUP BY 1),
         cust AS (SELECT c_nationkey, c_mktsegment,
             coalesce(sc, 0) AS cents,
             CASE WHEN ('0x' || substr(md5('cem:'
                 || cast(c_custkey AS varchar)), 1, 8))::bigint % 2 = 0
               THEN 1 ELSE 0 END AS treated
           FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
         cells AS (SELECT c_nationkey, c_mktsegment,
             cast(sum(CASE WHEN treated = 1 THEN 1 END) AS bigint) AS nt,
             cast(sum(CASE WHEN treated = 0 THEN 1 END) AS bigint) AS nc,
             cast(sum(CASE WHEN treated = 1 THEN cents END) AS bigint)
               AS st,
             cast(sum(CASE WHEN treated = 0 THEN cents END) AS bigint)
               AS scs
           FROM cust GROUP BY 1, 2),
         m AS (SELECT *,
             cast(floor(cast(st AS double) / nt / 100.0
               * 1000000 + 0.5) AS bigint)
             - cast(floor(cast(scs AS double) / nc / 100.0
               * 1000000 + 0.5) AS bigint) AS d6
           FROM cells WHERE nt > 0 AND nc > 0)
         SELECT (SELECT cast(count(*) AS bigint) FROM cells) AS n_cells,
           cast(count(*) AS bigint) AS n_matched,
           cast(sum(nt) AS bigint) AS n_treated_matched,
           cast(sum(nc) AS bigint) AS n_control_matched,
           floor(cast(sum(nt * d6) AS double) / sum(nt) + 0.5)
             / 1000000.0 AS att
         FROM m"""),

    // ---- EXT: permutation test (deterministic label reshuffles) ----
    Gate("q460_permutation_test", (s, dir) => {
      // exact-style significance WITHOUT distributional assumptions:
      // the observed open-vs-finished (l_linestatus) mean-quantity gap vs B=64 md5-parity
      // label permutations. Explode-by-64 is one hash aggregate over a
      // bounded multiple of the filtered fact (embarrassingly parallel —
      // the 100 TB shape); every mean diff is half-away-floored at 6dp
      // so 'as extreme' is an integer comparison. p = (1+#extreme)/(B+1).
      val li = Tables.lineitem(s, dir)
        .select(concat(col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string")).as("key"),
          col("l_quantity").cast("long").as("v"),
          (col("l_linestatus") === "O").cast("int").as("g1"))
      val obs = li.groupBy("g1")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .agg(sum(when(col("g1") === 1, col("n"))).as("n1"),
          sum(when(col("g1") === 0, col("n"))).as("n2"),
          floor((sum(when(col("g1") === 1, col("s"))).cast("double")
              / sum(when(col("g1") === 1, col("n")))
            - sum(when(col("g1") === 0, col("s"))).cast("double")
              / sum(when(col("g1") === 0, col("n"))))
            * 1000000 + 0.5).cast("long").as("obs6"))
      val perms = li
        .select(col("key"), col("v"),
          explode(sequence(lit(1), lit(64))).as("b"))
        .withColumn("pg", (conv(substring(md5(concat(lit("pt:"),
          col("key"), lit(":"), col("b").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2).cast("int"))
        .groupBy("b", "pg")
        .agg(count(lit(1)).as("n"), sum("v").as("s"))
        .groupBy("b")
        .agg(floor((sum(when(col("pg") === 1, col("s"))).cast("double")
            / sum(when(col("pg") === 1, col("n")))
          - sum(when(col("pg") === 0, col("s"))).cast("double")
            / sum(when(col("pg") === 0, col("n"))))
          * 1000000 + 0.5).cast("long").as("d6"))
      perms.crossJoin(broadcast(obs))
        .agg(first(col("n1")).as("n1"), first(col("n2")).as("n2"),
          (first(col("obs6")).cast("double") / 1000000.0).as("obs_diff"),
          coalesce(sum(when(abs(col("d6")) >= abs(col("obs6")), 1L)),
            lit(0L)).as("n_extreme"))
        .withColumn("p_value",
          floor((col("n_extreme") + 1).cast("double") / 65.0
            * 1000000 + 0.5) / 1000000.0)
    },
      // 64 deterministic md5-parity label permutations
      oracle = """WITH li AS (SELECT cast(l_orderkey AS varchar) || ':'
             || cast(l_linenumber AS varchar) AS key,
             cast(l_quantity AS bigint) AS v,
             CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS g1
           FROM lineitem),
         og AS (SELECT g1, cast(count(*) AS bigint) AS n,
             cast(sum(v) AS bigint) AS s FROM li GROUP BY 1),
         obs AS (SELECT
             cast(sum(CASE WHEN g1 = 1 THEN n END) AS bigint) AS n1,
             cast(sum(CASE WHEN g1 = 0 THEN n END) AS bigint) AS n2,
             cast(floor((cast(sum(CASE WHEN g1 = 1 THEN s END) AS double)
                 / sum(CASE WHEN g1 = 1 THEN n END)
               - cast(sum(CASE WHEN g1 = 0 THEN s END) AS double)
                 / sum(CASE WHEN g1 = 0 THEN n END))
               * 1000000 + 0.5) AS bigint) AS obs6
           FROM og),
         e AS (SELECT key, v,
             unnest(generate_series(1, 64)) AS b FROM li),
         e2 AS (SELECT b, v, ('0x' || substr(md5('pt:' || key || ':'
             || cast(b AS varchar)), 1, 8))::bigint % 2 AS pg FROM e),
         pm AS (SELECT b, pg, cast(count(*) AS bigint) AS n,
             cast(sum(v) AS bigint) AS s FROM e2 GROUP BY 1, 2),
         pd AS (SELECT b,
             cast(floor((cast(sum(CASE WHEN pg = 1 THEN s END) AS double)
                 / sum(CASE WHEN pg = 1 THEN n END)
               - cast(sum(CASE WHEN pg = 0 THEN s END) AS double)
                 / sum(CASE WHEN pg = 0 THEN n END))
               * 1000000 + 0.5) AS bigint) AS d6
           FROM pm GROUP BY 1)
         SELECT obs.n1, obs.n2,
           cast(obs.obs6 AS double) / 1000000.0 AS obs_diff,
           cast(coalesce(sum(CASE WHEN abs(d6) >= abs(obs6)
             THEN 1 END), 0) AS bigint) AS n_extreme,
           floor(cast(coalesce(sum(CASE WHEN abs(d6) >= abs(obs6)
               THEN 1 END), 0) + 1 AS double) / 65.0
             * 1000000 + 0.5) / 1000000.0 AS p_value
         FROM pd CROSS JOIN obs
         GROUP BY obs.n1, obs.n2, obs.obs6"""),

    // ---- EXT: Wilcoxon signed-rank test (paired years) ----
    Gate("q461_wilcoxon_signed", (s, dir) => {
      // the paired sibling of q456: per supplier nation, the 1997 vs
      // 1998 return-rate shift. Rates are 6dp-floored integers, so the
      // pair differences are exact; zero diffs drop (standard Wilcoxon);
      // |d| average ranks stay exact by 2x-scaling over the ≤25-row pair
      // table. w_plus_x2 + w_minus_x2 == 2·Σrank is the conservation
      // invariant the spec asserts.
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")).isin(1997, 1998))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey"), year(col("l_shipdate")).as("y"),
          (col("l_returnflag") === "R").cast("long").as("r"))
      val rates = li.groupBy("s_nationkey", "y")
        .agg(floor(sum("r").cast("double") / count(lit(1))
          * 1000000 + 0.5).cast("long").as("rate6"))
      val pairs = rates.groupBy("s_nationkey")
        .agg(sum(when(col("y") === 1998, col("rate6"))).as("r98"),
          sum(when(col("y") === 1997, col("rate6"))).as("r97"),
          count(lit(1)).as("ny"))
        .filter(col("ny") === 2)
        .select(col("s_nationkey"), (col("r98") - col("r97")).as("d"))
      val nz = pairs.filter(col("d") =!= 0)
        .select(col("s_nationkey"), col("d"), abs(col("d")).as("ad"))
      val dist = nz.groupBy("ad").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("ad") // ≤25-row pair table
      val rankedVals = dist.withColumn("cb", coalesce(
        sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
        .select(col("ad").as("adv"),
          (lit(2L) * col("cb") + col("cnt") + 1).as("rank_x2"))
      val joined = nz.join(broadcast(rankedVals), col("ad") === col("adv"))
      pairs.agg(count(lit(1)).as("n_pairs")).crossJoin(
        joined.agg(count(lit(1)).as("n_nonzero"),
          coalesce(sum(when(col("d") > 0, col("rank_x2"))), lit(0L))
            .as("w_plus_x2"),
          coalesce(sum(when(col("d") < 0, col("rank_x2"))), lit(0L))
            .as("w_minus_x2")))
        .select(col("n_pairs"), col("n_nonzero"),
          col("w_plus_x2"), col("w_minus_x2"))
    },
      // paired-year signed ranks, 2x-scaled tied ranks, zero diffs drop
      oracle = """WITH li AS (SELECT s.s_nationkey,
             year(l.l_shipdate) AS y,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
           FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
           WHERE year(l.l_shipdate) IN (1997, 1998)),
         rates AS (SELECT s_nationkey, y,
             cast(floor(cast(sum(r) AS double) / count(*)
               * 1000000 + 0.5) AS bigint) AS rate6
           FROM li GROUP BY 1, 2),
         pairs AS (SELECT s_nationkey,
             cast(sum(CASE WHEN y = 1998 THEN rate6 END)
               - sum(CASE WHEN y = 1997 THEN rate6 END) AS bigint) AS d
           FROM rates GROUP BY 1 HAVING count(*) = 2),
         nz AS (SELECT s_nationkey, d, abs(d) AS ad FROM pairs
           WHERE d <> 0),
         dist AS (SELECT ad, cast(count(*) AS bigint) AS cnt
           FROM nz GROUP BY 1),
         rv AS (SELECT ad AS adv,
             2 * cast(coalesce(sum(cnt) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bigint) + cnt + 1 AS rank_x2
           FROM dist),
         j AS (SELECT nz.d, rv.rank_x2 FROM nz
           JOIN rv ON nz.ad = rv.adv)
         SELECT (SELECT cast(count(*) AS bigint) FROM pairs) AS n_pairs,
           cast(count(*) AS bigint) AS n_nonzero,
           cast(coalesce(sum(CASE WHEN d > 0 THEN rank_x2 END), 0)
             AS bigint) AS w_plus_x2,
           cast(coalesce(sum(CASE WHEN d < 0 THEN rank_x2 END), 0)
             AS bigint) AS w_minus_x2
         FROM j"""),

    // ---- EXT: Cochran-Mantel-Haenszel stratified odds ratio ----
    Gate("q468_cmh_odds", (s, dir) => {
      // the confounder-adjusted sibling of q458/q459: exposure (deep
      // discount) vs outcome (return) pooled across supplier-nation
      // strata. Each stratum's 2×2 counts come from ONE conditional
      // aggregation; the rational CMH terms (ad/n, bc/n) and the
      // hypergeometric moments (E, Var) are 6dp-floored per stratum to
      // integers and exactly summed — double summation ORDER never
      // touches the result (25-row family, q342's rounded-term rule).
      // Var's 4-count product is computed in doubles on BOTH sides so it
      // cannot overflow int64 at any scale factor.
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey"),
          (col("l_discount") >= 0.05).cast("int").as("e"),
          (col("l_returnflag") === "R").cast("int").as("r"))
      val strata = li.groupBy("s_nationkey").agg(
          count(when(col("e") === 1 && col("r") === 1, lit(1))).as("a"),
          count(when(col("e") === 1 && col("r") === 0, lit(1))).as("b"),
          count(when(col("e") === 0 && col("r") === 1, lit(1))).as("c"),
          count(when(col("e") === 0 && col("r") === 0, lit(1))).as("d"),
          count(lit(1)).as("n"))
        .select(col("a"), col("n"),
          floor((col("a") * col("d")).cast("double") / col("n")
            * 1000000 + 0.5).cast("long").as("num6"),
          floor((col("b") * col("c")).cast("double") / col("n")
            * 1000000 + 0.5).cast("long").as("den6"),
          floor((col("a") + col("b")).cast("double")
            * (col("a") + col("c")).cast("double") / col("n")
            * 1000000 + 0.5).cast("long").as("e6"),
          floor((col("a") + col("b")).cast("double")
            * (col("c") + col("d")).cast("double")
            * (col("a") + col("c")).cast("double")
            * (col("b") + col("d")).cast("double")
            / (col("n").cast("double") * col("n").cast("double")
              * (col("n") - 1).cast("double"))
            * 1000000 + 0.5).cast("long").as("v6"))
      strata.agg(count(lit(1)).as("n_strata"),
          sum("a").as("sum_a"), sum("num6").as("num6"),
          sum("den6").as("den6"), sum("e6").as("sume6"),
          sum("v6").as("sumv6"))
        .select(col("n_strata"), col("sum_a"),
          (col("sume6").cast("double") / 1000000.0).as("sum_expected"),
          (floor(col("num6").cast("double") / col("den6")
            * 1000000 + 0.5) / 1000000.0).as("or_cmh"),
          (floor(
            (abs(col("sum_a") * 1000000L - col("sume6")).cast("double")
              / 1000000.0 - 0.5)
            * (abs(col("sum_a") * 1000000L - col("sume6")).cast("double")
              / 1000000.0 - 0.5)
            / (col("sumv6").cast("double") / 1000000.0)
            * 1000000 + 0.5) / 1000000.0).as("chi2_cmh"))
    },
      // per-stratum 6dp-floored rational terms, exactly summed
      oracle = """WITH li AS (SELECT s.s_nationkey,
             CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS e,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
           FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
         st AS (SELECT s_nationkey,
             cast(count(CASE WHEN e = 1 AND r = 1 THEN 1 END) AS bigint)
               AS a,
             cast(count(CASE WHEN e = 1 AND r = 0 THEN 1 END) AS bigint)
               AS b,
             cast(count(CASE WHEN e = 0 AND r = 1 THEN 1 END) AS bigint)
               AS c,
             cast(count(CASE WHEN e = 0 AND r = 0 THEN 1 END) AS bigint)
               AS d,
             cast(count(*) AS bigint) AS n
           FROM li GROUP BY 1),
         t AS (SELECT a, n,
             cast(floor(cast(a * d AS double) / n * 1000000 + 0.5)
               AS bigint) AS num6,
             cast(floor(cast(b * c AS double) / n * 1000000 + 0.5)
               AS bigint) AS den6,
             cast(floor(cast(a + b AS double) * cast(a + c AS double)
               / n * 1000000 + 0.5) AS bigint) AS e6,
             cast(floor(cast(a + b AS double) * cast(c + d AS double)
               * cast(a + c AS double) * cast(b + d AS double)
               / (cast(n AS double) * cast(n AS double)
                 * cast(n - 1 AS double))
               * 1000000 + 0.5) AS bigint) AS v6
           FROM st),
         agg AS (SELECT cast(count(*) AS bigint) AS n_strata,
             cast(sum(a) AS bigint) AS sum_a,
             cast(sum(num6) AS bigint) AS num6,
             cast(sum(den6) AS bigint) AS den6,
             cast(sum(e6) AS bigint) AS sume6,
             cast(sum(v6) AS bigint) AS sumv6
           FROM t)
         SELECT n_strata, sum_a,
           cast(sume6 AS double) / 1000000.0 AS sum_expected,
           floor(cast(num6 AS double) / den6 * 1000000 + 0.5)
             / 1000000.0 AS or_cmh,
           floor((cast(abs(sum_a * 1000000 - sume6) AS double)
               / 1000000.0 - 0.5)
             * (cast(abs(sum_a * 1000000 - sume6) AS double)
               / 1000000.0 - 0.5)
             / (cast(sumv6 AS double) / 1000000.0)
             * 1000000 + 0.5) / 1000000.0 AS chi2_cmh
         FROM agg"""),
  )
}
