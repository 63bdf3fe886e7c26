package graft
package gates

import org.apache.spark.sql.functions._
import graft.operators.TextOps
import Gate.D

/** Sampling and data mixing: stratified, weighted and hash-based
  * samples, splits, token budgets, resampling estimators and DSIR selection. */
object SamplingGates {
  /** The DSIR weight CTEs — the per-pool-doc LM log-likelihood-ratio
    * weight table (the q513 pipeline up to `w`), shared verbatim by the
    * deterministic top-k selection (q513) and the published resampling
    * step (q516: A-ES priority ln(u)/exp(weight) = Gumbel-top-k without
    * replacement). */
  private val DsirWeightCtes: String =
    """d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
           FROM documents),
         g AS (SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS gram
           FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i
                 FROM d) x),
         b AS (SELECT doc_id, lang,
             ('0x' || substr(md5(gram), 1, 15))::bigint % 64 AS bucket
           FROM g),
         tc AS (SELECT bucket, count(*) AS c FROM b WHERE lang = 'en'
           GROUP BY 1),
         pc AS (SELECT bucket, count(*) AS c FROM b WHERE lang <> 'en'
           GROUP BY 1),
         tt AS (SELECT count(*) AS t FROM b WHERE lang = 'en'),
         pt AS (SELECT count(*) AS t FROM b WHERE lang <> 'en'),
         fr AS (SELECT range AS bucket FROM range(0, 64)),
         lr AS (SELECT fr.bucket,
             ln((cast(coalesce(tc.c, 0) + 1 AS double) *
                 cast(pt.t + 64 AS double)) /
                (cast(coalesce(pc.c, 0) + 1 AS double) *
                 cast(tt.t + 64 AS double))) AS lr
           FROM fr LEFT JOIN tc USING (bucket) LEFT JOIN pc USING (bucket)
           CROSS JOIN tt CROSS JOIN pt),
         db AS (SELECT doc_id, bucket, count(*) AS n FROM b
           WHERE lang <> 'en' GROUP BY 1, 2),
         w AS (SELECT doc_id,
             cast(sum(cast(round(cast(n AS double) * lr, 6)
               AS decimal(18,6))) AS double) AS weight
           FROM db JOIN lr USING (bucket) GROUP BY 1)"""

  val gates: Seq[Gate] = Seq(
    // ---- EXT: train/val/test leakage audit (cross-split duplicates) ----
    Gate("q231_split_leakage", (s, dir) => {
      // composition gate: q54's md5-stable split assignment × q35's
      // order-insensitive bag fingerprint — per split, how many distinct
      // fingerprints also appear in ANOTHER split (the leakage a dedup pass
      // must run BEFORE splitting to avoid). One distinct + one self-sized
      // join on fp; no windows.
      val d = Tables.documents(s, dir).select(
        graft.operators.Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
        TextOps.bagFingerprint(TextOps.tokens(col("text"))).as("fp"))
        .distinct()
      val multi = d.groupBy(col("fp"))
        .agg(countDistinct(col("split")).as("__ns"))
      d.join(multi, Seq("fp"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_fps"),
          sum(when(col("__ns") >= 2, 1L).otherwise(0L)).as("n_leaked"))
    },
      // split leakage: q54's split rule × q35's bag fingerprint, mirrored
      oracle = """WITH b AS (SELECT
           ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint
             % 10000 AS hb,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
           FROM documents),
         s AS (SELECT DISTINCT
             CASE WHEN hb < 8000 THEN 'train'
                  WHEN hb < 9000 THEN 'val'
                  ELSE 'test' END AS split, fp
           FROM b),
         m AS (SELECT fp, count(DISTINCT split) AS ns FROM s GROUP BY 1)
         SELECT split, count(*) AS n_fps,
           cast(sum(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_leaked
         FROM s JOIN m USING (fp) GROUP BY split"""),

    // ---- EXT: jackknife confidence interval (delete-one-bucket) ----
    Gate("q245_jackknife_ci", (s, dir) => {
      // how production A/B pipelines put error bars on ratio metrics: users
      // hash into g=20 buckets; θ_i = the mean with bucket i deleted; SE² =
      // (g−1)/g · Σ(θ_i − θ̄_J)². Per-bucket sums are EXACT decimals (the
      // repo's monetary discipline), the 20-row θ table uses 12dp → decimal
      // sums so nothing depends on float ordering; CI = θ̂ ± 1.96·SE.
      val d = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(graft.operators.Sampling.hashBucket(col("user_id"), 20)
          .as("b"), col("value").cast(D).as("v"))
      val per = d.groupBy(col("b"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      val tot = per.agg(sum(col("s")).as("__S"), sum(col("n")).as("__N"),
        count(lit(1)).as("__g"))
      val theta = per.crossJoin(broadcast(tot))
        .select(col("__S"), col("__N"), col("__g"),
          round((col("__S") - col("s")).cast("double") /
            (col("__N") - col("n")).cast("double"), 12).as("th"))
      val tbar = theta
        .groupBy(col("__S"), col("__N"), col("__g"))
        .agg((sum(col("th").cast("decimal(28,12)")).cast("double") /
          col("__g").cast("double")).as("tb"))
      theta.join(broadcast(tbar), Seq("__S", "__N", "__g"))
        .groupBy(col("__S"), col("__N"), col("__g"), col("tb"))
        .agg(sum(round((col("th") - col("tb")) * (col("th") - col("tb")), 12)
          .cast("decimal(28,12)")).cast("double").as("__ss"))
        .select(
          round(col("__S").cast("double") / col("__N").cast("double"), 6)
            .as("theta"),
          round(sqrt((col("__g") - 1).cast("double") /
            col("__g").cast("double") * col("__ss")), 6).as("se_jack"))
        .withColumn("ci_lo", round(col("theta") - lit(1.96d) * col("se_jack"), 6))
        .withColumn("ci_hi", round(col("theta") + lit(1.96d) * col("se_jack"), 6))
    },
      // jackknife: mirrored delete-one-bucket algebra — exact decimal bucket
      // sums, 12dp θ table, decimal θ sums, CI from the ROUNDED outputs
      oracle = """WITH d AS (SELECT
           ('0x' || substr(md5(cast(user_id AS varchar)), 1, 8))::bigint
             % 20 AS b,
           cast(value AS decimal(18,2)) AS v
           FROM events WHERE event_type = 'purchase'),
         per AS (SELECT b, sum(v) AS s, count(*) AS n FROM d GROUP BY 1),
         tot AS (SELECT sum(s) AS ts, sum(n) AS tn, count(*) AS g FROM per),
         theta AS (SELECT ts, tn, g,
             round(cast(ts - s AS double) / cast(tn - n AS double), 12)
               AS th
           FROM per, tot),
         tbar AS (SELECT ts, tn, g,
             cast(sum(cast(th AS decimal(28,12))) AS double) /
               cast(g AS double) AS tb
           FROM theta GROUP BY 1, 2, 3),
         ss AS (SELECT t.ts, t.tn, t.g,
             cast(sum(cast(round((th - tb) * (th - tb), 12)
               AS decimal(28,12))) AS double) AS ssum
           FROM theta t JOIN tbar b USING (ts, tn, g) GROUP BY 1, 2, 3),
         f AS (SELECT
             round(cast(ts AS double) / cast(tn AS double), 6) AS theta,
             round(sqrt(cast(g - 1 AS double) / cast(g AS double) * ssum),
               6) AS se_jack
           FROM ss)
         SELECT theta, se_jack,
           round(theta - 1.96 * se_jack, 6) AS ci_lo,
           round(theta + 1.96 * se_jack, 6) AS ci_hi
         FROM f"""),

    // ---- EXT: Poisson bootstrap (deterministic resampling CI) ----
    Gate("q274_poisson_bootstrap", (s, dir) => {
      // THE bootstrap that works on big data: instead of drawing n rows
      // with replacement, each (row, replicate) gets a Poisson(1) weight —
      // one scan per replicate batch, no global shuffle. Weights are
      // DETERMINISTIC: md5(row, replicate) → uniform → Poisson quantile by
      // CDF thresholds, so both engines draw the identical resamples.
      // Replicate means use exact decimal numerators; the SE over the
      // B=20 replicate means follows the q245 jackknife discipline.
      val B = 20
      val d = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("value").cast(D).as("v"))
      val reps = s.range(1, B + 1).select(col("id").as("r"))
      val u = (graft.operators.Sampling.hashBucket(
        concat_ws("_", col("event_id"), col("r")), 1000000)
        .cast("double") / lit(1000000.0d))
      val w = when(u < 0.367879d, 0L).when(u < 0.735759d, 1L)
        .when(u < 0.919699d, 2L).when(u < 0.981012d, 3L)
        .when(u < 0.996340d, 4L).when(u < 0.999406d, 5L).otherwise(6L)
      val perRep = d.crossJoin(broadcast(reps))
        .withColumn("__w", w)
        .groupBy(col("r"))
        .agg((sum(col("v") * col("__w")).cast("double") /
          sum(col("__w")).cast("double")).as("m"))
      val mbar = perRep.agg(
        (sum(round(col("m"), 12).cast("decimal(28,12)")).cast("double") /
          lit(B.toDouble)).as("mb"))
      val se = perRep.crossJoin(broadcast(mbar))
        .agg(sum(round((col("m") - col("mb")) * (col("m") - col("mb")), 12)
          .cast("decimal(28,12)")).cast("double").as("__ss"))
        .select(round(sqrt(col("__ss") / lit((B - 1).toDouble)), 6)
          .as("se_boot"))
      val theta = d.agg(
        round(sum(col("v")).cast("double") / count(lit(1)), 6).as("theta"))
      theta.crossJoin(se).withColumn("b", lit(B.toLong))
    },
      // Poisson bootstrap: identical md5→uniform→Poisson-quantile draws,
      // exact decimal replicate numerators, q245-style SE assembly
      oracle = """WITH d AS (SELECT event_id, cast(value AS decimal(18,2)) AS v
           FROM events WHERE event_type = 'purchase'),
         reps AS (SELECT unnest(generate_series(1, 20)) AS r),
         j AS (SELECT event_id, v, r,
             (('0x' || substr(md5(cast(event_id AS varchar) || '_' ||
               cast(r AS varchar)), 1, 8))::bigint % 1000000)
               / 1000000.0 AS u
           FROM d, reps),
         wts AS (SELECT r, v,
             CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
                  WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3
                  WHEN u < 0.996340 THEN 4 WHEN u < 0.999406 THEN 5
                  ELSE 6 END AS w
           FROM j),
         pr AS (SELECT r, cast(sum(v * w) AS double) /
             cast(sum(w) AS double) AS m
           FROM wts GROUP BY r),
         mb AS (SELECT cast(sum(cast(round(m, 12) AS decimal(28,12)))
             AS double) / 20.0 AS mb FROM pr),
         se AS (SELECT round(sqrt(cast(sum(cast(round((m - mb) * (m - mb),
             12) AS decimal(28,12))) AS double) / 19.0), 6) AS se_boot
           FROM pr, mb),
         th AS (SELECT round(cast(sum(v) AS double) / count(*), 6)
             AS theta FROM d)
         SELECT theta, se_boot, cast(20 AS bigint) AS b FROM th, se"""),

    // ---- EXT: Neyman allocation (variance-optimal sample budget) ----
    Gate("q279_neyman_allocation", (s, dir) => {
      // survey-sampling capstone: split a 10k-row sample budget across
      // event-type strata ∝ N_h·σ_h (Neyman), integerized with the q272
      // largest-remainder trick so the budget is conserved EXACTLY.
      // σ from exact decimal moments (the q152 closed form), 6dp-rounded
      // before the share computation so both engines allocate identically.
      import org.apache.spark.sql.expressions.Window
      val budget = 10000L
      val m = Tables.events(s, dir)
        .select(col("event_type"), col("value").cast(D).as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("nh"),
          sum(col("v")).cast("double").as("__s"),
          sum((col("v") * col("v")).cast("decimal(28,4)")).cast("double")
            .as("__s2"))
        .select(col("event_type"), col("nh"),
          round(sqrt(greatest(col("__s2") / col("nh") -
            (col("__s") / col("nh")) * (col("__s") / col("nh")),
            lit(0.0d))), 6).as("sigma"))
      // weight w_h = round(N_h·σ_h) as exact integers for the remainder;
      // totals as explicit 1-row broadcasts (the stratum table is
      // dimension-sized, so the "global" steps are 5-row work)
      val wt = m.withColumn("__w",
        round(col("nh").cast("double") * col("sigma"), 0).cast("long"))
        .localCheckpoint() // 5-row stratum table; breaks self-join lineage
      val tot = wt.agg(sum(col("__w")).as("__tw"))
      val base = wt.crossJoin(broadcast(tot))
        .withColumn("__base", expr(s"($budget * __w) div __tw"))
        .withColumn("__rem", (lit(budget) * col("__w")) % col("__tw"))
        .localCheckpoint()
      val used = base.agg(sum(col("__base")).as("__SB"))
      base.crossJoin(broadcast(used))
        .withColumn("__left", lit(budget) - col("__SB"))
        .withColumn("__rk", row_number().over(
          Window.orderBy(col("__rem").desc, col("event_type"))))
        .select(col("event_type"), col("nh"), col("sigma"),
          (col("__base") +
            when(col("__rk") <= col("__left"), 1L).otherwise(0L))
            .as("alloc"))
    },
      // Neyman: mirrored exact-moment sigma + largest-remainder integers
      oracle = """WITH m AS (SELECT event_type, cast(count(*) AS bigint) AS nh,
           cast(sum(cast(value AS decimal(18,2))) AS double) AS s,
           cast(sum(cast(cast(value AS decimal(18,2)) *
             cast(value AS decimal(18,2)) AS decimal(28,4))) AS double)
             AS s2
           FROM events GROUP BY 1),
         sg AS (SELECT event_type, nh,
             round(sqrt(greatest(s2 / nh - (s / nh) * (s / nh), 0.0)), 6)
               AS sigma
           FROM m),
         wt AS (SELECT *, cast(round(cast(nh AS double) * sigma, 0)
             AS bigint) AS w FROM sg),
         b AS (SELECT *, sum(w) OVER () AS tw FROM wt),
         c AS (SELECT *, (10000 * w) // tw AS base,
             (10000 * w) % tw AS rem FROM b),
         r AS (SELECT *, 10000 - sum(base) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, event_type) AS rk
           FROM c)
         SELECT event_type, nh, sigma,
           cast(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
             AS bigint) AS alloc
         FROM r"""),

    // ---- EXT: two-pass heavy hitters (MG sketch -> exact recount) ----
    Gate("q116_heavy_hitters", (s, dir) => {
      // deterministic zipf-shaped key (P(rank r) ~ 1/r^2) so the k=32 sketch
      // is genuinely lossy (40-62 distinct items) while the top-4 guarantee
      // holds with margin: 4th count 26/26/251 vs N/(k+1) = 15.2/15.2/151.5
      // at sf0.001/0.01/0.1 — the oracle is then the plain exact top-4.
      val d = Tables.documents(s, dir)
        .withColumn("__h", graft.operators.Sampling.hashBucket(col("doc_id"), 1000))
        .withColumn("item", expr("1000 div (1 + __h)"))
      graft.operators.TextOps.heavyHitters(d, col("item"), n = 4, k = 32)
    },
      // heavy hitters: the MG-guarantee fixture makes the two-pass sketch
      // output equal the plain exact top-n (string keys, count-desc/key-asc
      // tie-break on both sides)
      oracle = """WITH it AS (SELECT cast(1000 // (1 +
             (('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint % 1000))
             AS varchar) AS key
           FROM documents)
         SELECT key, count(*) AS cnt FROM it GROUP BY 1
         ORDER BY cnt DESC, key ASC LIMIT 4"""),

    // ---- EXT: stratified deterministic sampling (class rebalancing) ----
    Gate("q79_stratified_sample", (s, dir) =>
      // downsample the over-represented language, upsample-keep the rest —
      // the md5-bucket predicate is reproduced verbatim by the oracle
      graft.operators.Sampling.stratifiedSample(
          Tables.documents(s, dir), col("lang"), col("doc_id"),
          Map("en" -> 0.3, "fr" -> 0.8), defaultFraction = 0.5)
        .select("doc_id", "lang"),
      // stratified sampling: the md5-bucket predicate restated per stratum
      oracle = """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 10000 <
           CASE lang WHEN 'en' THEN 3000 WHEN 'fr' THEN 8000 ELSE 5000 END"""),
    Gate("q80_stratified_take", (s, dir) =>
      // hard per-class cap: exactly min(12, |stratum|) docs per language,
      // chosen by hash order (unbiased w.r.t. any natural data order)
      graft.operators.Sampling.stratifiedTake(
          Tables.documents(s, dir), col("lang"), col("doc_id"), n = 12)
        .select("doc_id", "lang"),
      oracle = """SELECT doc_id, lang FROM (
           SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             ORDER BY ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 10000, doc_id) AS rn
           FROM documents) t WHERE rn <= 12"""),

    // ---- EXT: per-source token-budget sampling (mixture caps in tokens) ----
    Gate("q92_token_budget", (s, dir) => {
      val d = Tables.documents(s, dir).withColumn("n_tokens",
        size(org.apache.spark.sql.functions.filter(
          TextOps.tokens(col("text")), t => t =!= "")).cast("long"))
      graft.operators.Sampling.tokenBudgetSample(
          d, col("source"), col("doc_id"), col("n_tokens"), budget = 700L)
        .select("doc_id", "source", "n_tokens")
    },
      // token budget: keep while the EXCLUSIVE stratum prefix sum (hash
      // order) is under budget — greedy cap, at most one doc of overshoot
      oracle = """WITH d AS (SELECT doc_id, source,
             cast(len(list_filter(string_split(text, ' '), t -> t <> '')) AS bigint)
               AS n_tokens,
             ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint % 10000 AS hb
           FROM documents),
         o AS (SELECT doc_id, source, n_tokens,
             cast(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY hb, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
               AS bef
           FROM d)
         SELECT doc_id, source, n_tokens FROM o WHERE bef < 700"""),

    // ---- EXT: epoch-weighted mixture (dataset x epochs replication) ----
    Gate("q93_epoch_mix", (s, dir) =>
      graft.operators.Sampling.epochMix(
          Tables.documents(s, dir), col("source"), col("doc_id"),
          Map("src0" -> 2.5, "src1" -> 0.5), defaultEpochs = 1.0)
        .select("doc_id", "source", "epoch"),
      // epoch mix: floor(epochs) full copies + one key-stable fractional copy;
      // generate_series(0, -1) is empty so copies=0 rows vanish as in Spark
      oracle = """WITH d AS (SELECT doc_id, source,
             ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint % 10000 AS hb,
             CASE WHEN source = 'src0' THEN 2.5
                  WHEN source = 'src1' THEN 0.5 ELSE 1.0 END AS ep
           FROM documents),
         c AS (SELECT doc_id, source,
             cast(floor(ep) AS bigint) +
               (CASE WHEN hb < round((ep - floor(ep)) * 10000) THEN 1 ELSE 0 END)
               AS copies
           FROM d)
         SELECT doc_id, source, unnest(generate_series(0, copies - 1)) AS epoch
         FROM c WHERE copies > 0"""),

    // ---- EXT: weighted sample-without-replacement (A-ES) ----
    Gate("q107_weighted_sample", (s, dir) =>
      graft.operators.Sampling.weightedSample(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        col("doc_id"), col("n_chars").cast("double"), n = 50),
      // A-ES weighted sampling: priority ln(u)/w on a md5-midpoint uniform,
      // rounded to 6 dp before ranking (libm ln parity contract), id tiebreak
      oracle = """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
             round(ln((('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint
                       % 1000000000 + 0.5) / 1000000000.0)
                   / cast(n_chars AS double), 6) AS pri
           FROM documents) t
         ORDER BY pri DESC, doc_id LIMIT 50"""),

    // ---- EXT: deterministic contrastive negative sampling ----
    Gate("q103_hash_negatives", (s, dir) =>
      graft.operators.Sampling.hashNegatives(
          Tables.documents(s, dir).select("doc_id"), col("doc_id"),
          k = 3, nBuckets = 64)
        .select("doc_id", "neg_id", "neg_rank"),
      // hash negatives: bucket + secondary-hash order from disjoint md5
      // windows; per-bucket top-k candidates join to the successor bucket
      oracle = """WITH b AS (SELECT doc_id,
             ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint % 64 AS bkt,
             ('0x' || substr(md5(cast(doc_id AS varchar)), 9, 8))::bigint AS h2
           FROM documents),
         cand AS (SELECT bkt AS src_bkt, doc_id AS neg_id, neg_rank FROM (
                    SELECT bkt, doc_id, row_number() OVER (PARTITION BY bkt
                      ORDER BY h2, doc_id) AS neg_rank FROM b) t
                  WHERE neg_rank <= 3)
         SELECT d.doc_id, c.neg_id, c.neg_rank
         FROM b d JOIN cand c ON c.src_bkt = (d.bkt + 1) % 64"""),

    // ---- EXT: quality-banded downsampling (importance-resampling shape) ----
    Gate("q97_score_band_sample", (s, dir) =>
      graft.operators.Sampling.scoreBandSample(
          Tables.documents(s, dir), col("doc_id"), "n_chars",
          cuts = Seq(0.25, 0.5, 0.9), rates = Seq(0.3, 1.0, 1.0, 0.5))
        .select("doc_id", "source", "n_chars", "band"),
      // score-band sampling: exact-quantile thresholds ROUNDED to 6 dp on both
      // sides (the two linear interpolations can differ by 1 ulp and a score
      // within that ulp of a cut would band differently), band = count of
      // thresholds strictly below the score, md5-bucket keep predicate with
      // round() on the rate product (cast double->bigint rounds in DuckDB but
      // truncates in Spark — round on both sides first)
      oracle = """WITH th AS (SELECT list_transform(quantile_cont(n_chars, [0.25, 0.5, 0.9]),
                       x -> round(x, 6)) AS t FROM documents),
         b AS (SELECT doc_id, source, n_chars,
                 cast(len(list_filter(th.t, x -> n_chars > x)) AS bigint) AS band
               FROM documents, th)
         SELECT doc_id, source, n_chars, band FROM b
         WHERE ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint % 10000
               < round([0.3, 1.0, 1.0, 0.5][band + 1] * 10000)"""),

    // ---- EXT: near-dup dedup (SURVEY §2.12) ----
    Gate("q54_hash_split", (s, dir) =>
      // Deterministic train/val/test assignment: key-stable md5 buckets, no
      // RNG, no shuffle — each doc keeps its split under appends/reruns.
      Tables.documents(s, dir)
        .groupBy(graft.operators.Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id")),
      oracle = """WITH b AS (SELECT doc_id,
           ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 10000 AS hb
         FROM documents)
         SELECT CASE WHEN hb < 8000 THEN 'train'
                     WHEN hb < 9000 THEN 'val'
                     ELSE 'test' END AS split,
           count(*) AS n, min(doc_id) AS min_id
         FROM b GROUP BY 1"""),

    // ---- EXT: Horvitz–Thompson two-stage sample estimator audit ----
    Gate("q313_horvitz_thompson", (s, dir) => {
      // stage 1 samples entire users (π₁ = 3/10), stage 2 samples events
      // within sampled users (π₂ = 5/10) — both key-stable md5 buckets,
      // so the design is reproducible and the inclusion probability of
      // every sampled row is exactly π₁π₂ = 3/20. The HT estimate
      // Σ y/(π₁π₂) = Σy · 20/3 uses an exact decimal Σy (one rational
      // scale at the end) and is audited against the true total — the
      // design-unbiasedness check a sampling pipeline ships with.
      import graft.operators.Sampling.hashBucket
      val e = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("event_id"),
          col("value").cast(D).as("__v"))
      val sampled = e
        .filter(hashBucket(col("user_id"), 10) < 3)
        .filter(hashBucket(col("event_id"), 10) < 5)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("__v")).as("__sy"))
      val truth = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"), sum(col("__v")).as("__ty"))
      sampled.join(truth, Seq("event_type"))
        .select(col("event_type"), col("n_sampled"), col("n_total"),
          (round(col("__sy").cast("double") * 20.0d / 3.0d, 2) + lit(0.0d))
            .as("ht_estimate"),
          (round(col("__ty").cast("double"), 2) + lit(0.0d)).as("true_total"),
          (round(col("__sy").cast("double") * 20.0d / 3.0d /
            col("__ty").cast("double"), 6) + lit(0.0d)).as("ratio"))
    },
      // HT estimator: md5-bucket two-stage design, exact decimal Σy, one
      // rational 20/3 scale at the end
      oracle = """WITH e AS (SELECT event_type, user_id, event_id,
             cast(value AS decimal(18,2)) AS v FROM events),
         s AS (SELECT event_type, cast(count(*) AS bigint) AS n_sampled,
             sum(v) AS sy
           FROM e
           WHERE ('0x' || substr(md5(cast(user_id AS varchar)), 1, 8))::bigint
               % 10 < 3
             AND ('0x' || substr(md5(cast(event_id AS varchar)), 1, 8))::bigint
               % 10 < 5
           GROUP BY 1),
         t AS (SELECT event_type, cast(count(*) AS bigint) AS n_total,
             sum(v) AS ty
           FROM e GROUP BY 1)
         SELECT s.event_type, n_sampled, n_total,
           round(cast(sy AS double) * 20.0 / 3.0, 2) + 0.0 AS ht_estimate,
           round(cast(ty AS double), 2) + 0.0 AS true_total,
           round(cast(sy AS double) * 20.0 / 3.0 / cast(ty AS double), 6)
             + 0.0 AS ratio
         FROM s JOIN t ON s.event_type = t.event_type"""),

    // ---- EXT: Neyman optimal stratified allocation ----
    Gate("q381_neyman_allocation", (s, dir) => {
      // allocate a 10,000-unit sample across priority strata ∝ N_h·S_h —
      // the optimal-variance design the sampling family (q84, q107)
      // executes. Per-stratum N·S terms are rounded to 4 dp then EXACTLY
      // summed (k=5 reduction discipline); the integer allocation uses
      // the mirrored half-away floor.
      val cents = (col("o_totalprice").cast(D) * lit(100)).cast("bigint")
      val strata = Tables.orders(s, dir)
        .select(col("o_orderpriority"), cents.as("__c"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_h"), sum(col("__c")).as("__s"),
          sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__q"))
        .withColumn("__m", col("__s").cast("double") /
          col("n_h").cast("double"))
        .withColumn("__sd",
          sqrt((col("__q").cast("double") -
            col("n_h").cast("double") * col("__m") * col("__m")) /
            col("n_h").cast("double")) / lit(100.0d))
        .withColumn("__ns",
          round(col("n_h").cast("double") * col("__sd"), 4)
            .cast("decimal(38,4)"))
      val tot = strata.agg(sum(col("__ns")).as("__tns"))
      strata.crossJoin(broadcast(tot))
        .select(col("o_orderpriority"), col("n_h"),
          (round(col("__sd"), 2) + lit(0.0d)).as("stratum_sd"),
          (round(col("__ns").cast("double") / col("__tns").cast("double"),
            6) + lit(0.0d)).as("weight"),
          floor(col("__ns").cast("double") / col("__tns").cast("double") *
            lit(10000.0d) + lit(0.5d)).cast("bigint").as("allocation"))
    },
      // Neyman: 4-dp rounded N·S terms exactly summed, floor allocation
      oracle = """WITH s AS (
           SELECT o_orderpriority, cast(count(*) AS bigint) AS n_h,
             cast(sum(cast(cast(o_totalprice AS decimal(18,2)) * 100
               AS bigint)) AS bigint) AS sc,
             sum(cast(cast(cast(o_totalprice AS decimal(18,2)) * 100
               AS bigint) AS hugeint)
               * cast(cast(o_totalprice AS decimal(18,2)) * 100
                 AS bigint)) AS qc
           FROM orders GROUP BY 1),
         d AS (
           SELECT o_orderpriority, n_h,
             sqrt((cast(qc AS double) - cast(n_h AS double)
               * (cast(sc AS double) / cast(n_h AS double))
               * (cast(sc AS double) / cast(n_h AS double)))
               / cast(n_h AS double)) / 100.0 AS sd
           FROM s),
         t AS (
           SELECT o_orderpriority, n_h, sd,
             cast(round(cast(n_h AS double) * sd, 4) AS decimal(38,4))
               AS ns
           FROM d),
         tot AS (SELECT sum(ns) AS tns FROM t)
         SELECT o_orderpriority, n_h,
           round(sd, 2) + 0.0 AS stratum_sd,
           round(cast(ns AS double) / cast(tns AS double), 6) + 0.0
             AS weight,
           cast(floor(cast(ns AS double) / cast(tns AS double) * 10000.0
             + 0.5) AS bigint) AS allocation
         FROM t CROSS JOIN tot"""),

    // ---- EXT: train/test split leakage audit ----
    Gate("q395_split_leakage", (s, dir) => {
      // split hygiene: test documents whose content fingerprint (q35's
      // order-insensitive bag key) also appears in train — exact-dup
      // leakage across the q54 deterministic split. Fingerprint semi-join
      // only; no corpus self-join.
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          md5(concat_ws(" ", array_sort(array_distinct(
            TextOps.tokens(col("text")))))).as("fp"),
          graft.operators.Sampling.splitAssign(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      val trainFps = d.filter(col("split") === "train")
        .select(col("fp").as("__tfp")).distinct()
      d.filter(col("split") === "test")
        .join(trainFps, col("fp") === col("__tfp"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_test_docs"),
          sum(when(col("__tfp").isNotNull, 1L).otherwise(0L))
            .as("n_leaked"))
        .select(col("source"), col("n_test_docs"), col("n_leaked"),
          (round(col("n_leaked").cast("double") /
            col("n_test_docs").cast("double"), 6) + lit(0.0d))
            .as("leak_rate"))
    },
      oracle = """WITH d AS (SELECT doc_id, source,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS fp,
             ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint
               % 10000 AS hb
           FROM documents),
         tr AS (SELECT DISTINCT fp FROM d WHERE hb < 8000),
         te AS (SELECT d.source, d.fp,
             CASE WHEN tr.fp IS NOT NULL THEN 1 ELSE 0 END AS leaked
           FROM d LEFT JOIN tr ON d.fp = tr.fp
           WHERE d.hb >= 9000)
         SELECT source, cast(count(*) AS bigint) AS n_test_docs,
           cast(sum(leaked) AS bigint) AS n_leaked,
           round(cast(sum(leaked) AS double) / cast(count(*) AS double), 6)
             + 0.0 AS leak_rate
         FROM te GROUP BY 1"""),

    // ---- EXT: capture-recapture population estimate ----
    Gate("q404_capture_recapture", (s, dir) => {
      // the census/dedup-planning estimator: when a full count is too
      // expensive, two independent deterministic samples estimate the
      // population via Chapman's (n1+1)(n2+1)/(m+1) − 1. Independence
      // comes from salted md5 buckets ("a:"/"b:" prefixes — disjoint hash
      // families over the same key); the gate carries the true count so
      // the relative error is part of the artifact. Three filtered counts
      // in ONE aggregate pass.
      def in(salt: String) = graft.operators.Sampling.hashBucket(
        concat(lit(salt), col("doc_id").cast("string"))) < 2000
      Tables.documents(s, dir)
        .select(in("a:").as("__a"), in("b:").as("__b"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("__a"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("__b"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("__a") && col("__b"), 1L).otherwise(0L))
            .as("overlap"))
        .select(col("n_true"), col("n1"), col("n2"), col("overlap"),
          (round((col("n1") + 1L).cast("double") *
            (col("n2") + 1L).cast("double") /
            (col("overlap") + 1L).cast("double") - lit(1.0d), 2)
            + lit(0.0d)).as("chapman_estimate"),
          (round(((col("n1") + 1L).cast("double") *
            (col("n2") + 1L).cast("double") /
            (col("overlap") + 1L).cast("double") - lit(1.0d) -
            col("n_true").cast("double")) /
            col("n_true").cast("double"), 6) + lit(0.0d)).as("rel_error"))
    },
      oracle = """WITH d AS (SELECT
             ('0x' || substr(md5('a:' || cast(doc_id AS varchar)), 1, 8))
               ::bigint % 10000 < 2000 AS a,
             ('0x' || substr(md5('b:' || cast(doc_id AS varchar)), 1, 8))
               ::bigint % 10000 < 2000 AS b
           FROM documents),
         g AS (SELECT cast(count(*) AS bigint) AS n_true,
             cast(sum(CASE WHEN a THEN 1 ELSE 0 END) AS bigint) AS n1,
             cast(sum(CASE WHEN b THEN 1 ELSE 0 END) AS bigint) AS n2,
             cast(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS bigint)
               AS overlap
           FROM d)
         SELECT n_true, n1, n2, overlap,
           round(cast(n1 + 1 AS double) * cast(n2 + 1 AS double)
             / cast(overlap + 1 AS double) - 1.0, 2) + 0.0
             AS chapman_estimate,
           round((cast(n1 + 1 AS double) * cast(n2 + 1 AS double)
             / cast(overlap + 1 AS double) - 1.0 - cast(n_true AS double))
             / cast(n_true AS double), 6) + 0.0 AS rel_error
         FROM g"""),

    // ---- EXT: deterministic-sample bias audit ----
    Gate("q414_sample_bias", (s, dir) => {
      // before trusting the md5-bucket 10% sample for profiling, prove it
      // unbiased: per order priority, population vs in-sample counts and
      // means of the order total. Means are exact-decimal sums divided
      // once at output (q88 contract); the sample predicate is the q54
      // key-stable hash bucket, so the audit reproduces anywhere.
      val D = "decimal(28,2)"
      val o = Tables.orders(s, dir)
        .withColumn("__in",
          graft.operators.Sampling.hashBucket(col("o_orderkey")) < 1000)
      o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("pop_n"),
          sum(col("o_totalprice").cast(D)).as("__ps"),
          sum(when(col("__in"), 1L).otherwise(0L)).as("samp_n"),
          sum(when(col("__in"), col("o_totalprice").cast(D))).as("__ss"))
        .select(col("o_orderpriority"), col("pop_n"), col("samp_n"),
          (round(col("__ps").cast("double") / col("pop_n").cast("double"),
            2) + lit(0.0d)).as("pop_mean"),
          (round(col("__ss").cast("double") / col("samp_n").cast("double"),
            2) + lit(0.0d)).as("samp_mean"),
          (round(col("samp_n").cast("double") / col("pop_n").cast("double"),
            6) + lit(0.0d)).as("sampling_rate"))
    },
      oracle = """WITH o AS (SELECT o_orderpriority, o_totalprice,
             ('0x' || substr(md5(cast(o_orderkey AS varchar)), 1, 8))::bigint
               % 10000 < 1000 AS s
           FROM orders)
         SELECT o_orderpriority, cast(count(*) AS bigint) AS pop_n,
           cast(sum(CASE WHEN s THEN 1 ELSE 0 END) AS bigint) AS samp_n,
           round(cast(sum(cast(o_totalprice AS decimal(28,2))) AS double)
             / cast(count(*) AS double), 2) + 0.0 AS pop_mean,
           round(cast(sum(cast(o_totalprice AS decimal(28,2)))
               FILTER (WHERE s) AS double)
             / cast(sum(CASE WHEN s THEN 1 ELSE 0 END) AS double), 2) + 0.0
             AS samp_mean,
           round(cast(sum(CASE WHEN s THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) + 0.0 AS sampling_rate
         FROM o GROUP BY 1"""),

    // ---- EXT: interleaved curriculum schedule ----
    Gate("q425_curriculum_interleave", (s, dir) => {
      // deterministic training-data ORDERING: rank documents within each
      // source (longest-first difficulty proxy, doc_id tiebreak), then
      // interleave sources round-robin via slot algebra —
      // slot = (rank−1)·S + source_index — so no two same-source docs are
      // adjacent and the whole schedule is reproducible WITHOUT a global
      // sort: ranks are key-partitioned windows, the source index is a
      // dimension-sized window, and the slot is pure integer arithmetic.
      // The top-100 head of the schedule ships as the gate artifact
      // (TakeOrderedAndProject — one scan, no full materialization).
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val srcIdx = docs.select(col("source")).distinct()
        .withColumn("__si", dense_rank().over(Window.orderBy(col("source"))))
      val nSrc = srcIdx.agg(count(lit(1)).as("__s"))
      docs
        .withColumn("rank", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
        .join(broadcast(srcIdx), Seq("source"))
        .crossJoin(broadcast(nSrc))
        .withColumn("slot",
          (col("rank") - 1).cast("long") * col("__s") + col("__si"))
        .orderBy(col("slot")).limit(100)
        .select(col("slot"), col("doc_id"), col("source"),
          col("rank").cast("int").as("rank"))
    },
      oracle = """WITH si AS (SELECT source,
             cast(dense_rank() OVER (ORDER BY source) AS bigint) AS sidx
           FROM (SELECT DISTINCT source FROM documents)),
         ns AS (SELECT cast(count(*) AS bigint) AS s FROM si),
         r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rank
           FROM documents)
         SELECT cast((rank - 1) * (SELECT s FROM ns) + sidx AS bigint)
             AS slot,
           doc_id, source, cast(rank AS int) AS rank
         FROM r JOIN si USING (source)
         ORDER BY slot LIMIT 100"""),

    // ---- EXT: reproducibility shard manifest ----
    Gate("q440_shard_manifest", (s, dir) => {
      // the dataset-release manifest: deterministic md5 sharding, and per
      // shard an ORDER-INSENSITIVE content checksum (bit_xor of each
      // document's 56-bit md5 prefix) plus row/token accounting — the
      // artifact that lets two independent runs prove they produced the
      // same shards without sorting anything. One hash aggregate; XOR
      // state is constant-size at any scale.
      Tables.documents(s, dir)
        .withColumn("__shard",
          graft.operators.Sampling.hashBucket(col("doc_id"), 16))
        .withColumn("__h",
          conv(substring(md5(col("text")), 1, 14), 16, 10).cast("long"))
        .groupBy(col("__shard").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          expr("bit_xor(__h)").as("content_xor"))
    },
      oracle = """WITH d AS (SELECT doc_id, text,
             ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint
               % 16 AS shard,
             ('0x' || substr(md5(text), 1, 14))::bigint AS h
           FROM documents)
         SELECT shard, cast(count(*) AS bigint) AS n_docs,
           cast(sum(len(string_split(text, ' '))) AS bigint) AS n_tokens,
           cast(bit_xor(h) AS bigint) AS content_xor
         FROM d GROUP BY 1"""),

    // ---- EXT: DSIR importance-resampling data selection ----
    Gate("q513_dsir_select", (s, dir) => {
      // Data Selection via Importance Resampling (Xie et al. 2023): rank
      // the non-English pool by the log-likelihood ratio of hashed-bigram
      // LMs (target = the English corpus, add-1 smoothing over 64
      // buckets) and keep the top 100 — the published recipe for picking
      // target-like pretraining data without a trained classifier. The
      // weight sum is exact decimal(18,6) of 6-dp contributions (q127
      // discipline) so the ranking — and the oracle hash — is exact.
      TextOps.dsirSelect(Tables.spread(s, Tables.documents(s, dir)),
        "doc_id", "text", isTarget = col("lang") === "en",
        dim = 64, k = 100)
    },
      // DSIR: hashed-bigram LMs with add-1 smoothing, mirrored ln tree,
      // 6-dp decimal contribution sums, top-k with doc_id tie-break
      oracle = s"""WITH $DsirWeightCtes
         SELECT doc_id, weight,
           cast(row_number() OVER (ORDER BY weight DESC, doc_id) AS bigint)
             AS rank
         FROM w ORDER BY weight DESC, doc_id LIMIT 100"""),

    // ---- EXT: DSIR with the published resampling step ----
    Gate("q516_dsir_resample", (s, dir) => {
      // the FULL published recipe: q513's LM log-ratio weights, then
      // sampling-without-replacement ∝ exp(weight) — the Gumbel-top-k
      // step, realized by the audited deterministic Efraimidis–Spirakis
      // sampler (same distribution; the md5-stable uniform replaces the
      // RNG, so the draw is reproducible and append-stable). q513's
      // plain top-k is this gate's zero-temperature limit.
      val w = TextOps.dsirWeights(Tables.spread(s, Tables.documents(s, dir)),
        "doc_id", "text", isTarget = col("lang") === "en", dim = 64)
      graft.operators.Sampling.weightedSample(w, col("doc_id"),
        exp(col("weight")), n = 50)
    },
      // DSIR with the published resampling step: A-ES priority ln(u)/exp(w)
      // over the SAME weight CTEs (= Gumbel-top-k without replacement).
      // WHERE exp(weight) > 0 mirrors weightedSample's documented w > 0
      // contract (the sampler excludes non-positive weights): if exp(weight)
      // underflows to 0.0 (weight ≤ ~−745) Spark drops the row while an
      // unfiltered oracle would rank it with pri = ln(u)/0 — unreachable at
      // fixture scales, but the contract is now mirrored (round-9 advice).
      oracle = s"""WITH $DsirWeightCtes
         SELECT doc_id, weight FROM (
           SELECT doc_id, weight,
             round(ln((('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::bigint
                       % 1000000000 + 0.5) / 1000000000.0)
                   / exp(weight), 6) AS pri
           FROM w WHERE exp(weight) > 0) t
         ORDER BY pri DESC, doc_id LIMIT 50"""),
  )
}
