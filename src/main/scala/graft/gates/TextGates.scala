package graft
package gates

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Text analysis and corpus preparation: tokenization, LM quality
  * scores, corpus statistics, filters, BPE and the pretraining pipeline. */
object TextGates {
  /** Generated DuckDB oracle for q311: five unrolled greedy set-cover
    * rounds — round k picks the document with the most shingles outside
    * cov(k−1) (gain desc, id asc), then folds its shingles in. Pure
    * integer counting over the q36 shingle grain, so the Spark loop and
    * this unrolled SQL agree exactly. */
  private val GreedyCoverOracleSql: String = {
    val rounds = 5
    val base =
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          toks AS (SELECT doc_id, list_distinct(list_transform(
              generate_series(1, len(w) - 2),
              i -> array_to_string(w[i:i+2], ' '))) AS t
            FROM t0 WHERE len(w) >= 3),
          ds AS MATERIALIZED (SELECT doc_id, unnest(t) AS s FROM toks),
          g1 AS (SELECT doc_id, cast(count(*) AS bigint) AS gain
            FROM ds GROUP BY 1),
          w1 AS (SELECT doc_id, gain FROM g1
            ORDER BY gain DESC, doc_id ASC LIMIT 1),
          cov1 AS MATERIALIZED (SELECT DISTINCT s FROM ds JOIN w1 USING (doc_id))"""
    val iterSql = (2 to rounds).map { k =>
      val notIn = (1 until k).map(j => s"SELECT doc_id FROM w$j")
        .mkString(" UNION ALL ")
      s""",
          g$k AS (SELECT doc_id, cast(count(*) AS bigint) AS gain
            FROM ds ANTI JOIN cov${k - 1} USING (s)
            WHERE doc_id NOT IN ($notIn) GROUP BY 1),
          w$k AS (SELECT doc_id, gain FROM g$k
            ORDER BY gain DESC, doc_id ASC LIMIT 1),
          cov$k AS MATERIALIZED (SELECT s FROM cov${k - 1}
            UNION SELECT s FROM ds JOIN w$k USING (doc_id))"""
    }.mkString
    val rows = (1 to rounds).map { k =>
      s"""SELECT $k AS round, doc_id, gain,
          (SELECT cast(count(*) AS bigint) FROM cov$k) AS covered_total
          FROM w$k"""
    }.mkString("\n          UNION ALL ")
    s"$base$iterSql\n          $rows"
  }

  /** Generated unrolled-DP oracle for q450 (the q307 pattern: a fixed
    * round count unrolls into chained CTEs, one argmin row_number per
    * position). Mirrors TextOps.viterbiSegment step for step. */
  private def viterbiOracleSql(vocabSize: Int, maxLen: Int,
                               maxPiece: Int, unkCost: String): String = {
    val sCtes = (1 to maxLen).map { i =>
      val cands = (1 to maxPiece).filter(d => i - d >= 0).map { d =>
        s"""SELECT s.w AS w, ${i - d} AS j,
              cast(s.lp + e.elp AS decimal(18,6)) AS nlp, s.np + 1 AS nnp
            FROM s${i - d} s JOIN edges e
              ON e.w = s.w AND e.j = ${i - d} AND e.i = $i"""
      }.mkString("\n            UNION ALL\n")
      s"""s$i AS MATERIALIZED (SELECT w, nlp AS lp, nnp AS np FROM (
            SELECT c.w, c.j, c.nlp, c.nnp, row_number() OVER (
              PARTITION BY c.w
              ORDER BY c.nlp ASC, c.nnp ASC, c.j ASC) AS rn
            FROM ($cands) c) t WHERE rn = 1)"""
    }.mkString(",\n         ")
    val fins = (1 to maxLen).map(l =>
      s"SELECT $l AS len, w, lp, np FROM s$l WHERE length(w) = $l")
      .mkString("\n           UNION ALL\n           ")
    s"""WITH wr AS MATERIALIZED (SELECT w, count(*) AS wc FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
           WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) <= $maxLen
           GROUP BY w),
         occ1 AS MATERIALIZED (SELECT w, wc,
             unnest(generate_series(0, length(w) - 1)) AS j FROM wr),
         occ2 AS MATERIALIZED (SELECT w, wc, j, unnest(generate_series(1,
             least($maxPiece, length(w) - j))) AS d FROM occ1),
         occ AS MATERIALIZED (SELECT w, wc, j, d, substr(w, j + 1, d) AS piece
           FROM occ2),
         vocab AS MATERIALIZED (SELECT piece, sum(wc) AS cnt FROM occ GROUP BY piece
           ORDER BY cnt DESC, piece LIMIT $vocabSize),
         vtot AS (SELECT sum(cnt) AS tot FROM vocab),
         vlp AS MATERIALIZED (SELECT piece, cast(round(-ln(cast(cnt AS double)
             / cast(tot AS double)), 6) AS decimal(18,6)) AS lp
           FROM vocab CROSS JOIN vtot),
         edges AS MATERIALIZED (SELECT o.w, o.j, o.j + o.d AS i,
             coalesce(v.lp, cast($unkCost AS decimal(18,6))) AS elp
           FROM occ o LEFT JOIN vlp v ON o.piece = v.piece
           WHERE v.lp IS NOT NULL OR o.d = 1),
         s0 AS MATERIALIZED (SELECT w, cast(0 AS decimal(18,6)) AS lp, 0 AS np FROM wr),
         $sCtes,
         fin AS ($fins)
         SELECT len, count(*) AS n_words, cast(sum(wc) AS bigint) AS total_wc,
           floor((cast(sum(wc * np) AS double) / cast(sum(wc) AS double))
             * 1000000.0 + 0.5) / 1000000.0 AS mean_pieces,
           floor((cast(sum(cast(wc AS decimal(20,0)) * lp) AS double)
             / cast(sum(wc) AS double)) * 1000000.0 + 0.5) / 1000000.0
             AS mean_surprisal
         FROM fin JOIN wr USING (w)
         GROUP BY len"""
  }

  /** Generated DuckDB oracle for q391: six unrolled greedy-BPE merge steps.
    * Each step mirrors the Spark kernel exactly — pair counts via lead()
    * over (word, pos), argmax with (count desc, left, right) tie-break,
    * and the island-parity statement of left-to-right non-overlapping
    * merge application (candidates at consecutive positions — only
    * possible when left == right — merge at even island offsets; the row
    * after a merge start is consumed). */
  private val BpeOracleSql: String = bpeOracle(merges = true)

  private val BpeCurveOracleSql: String = bpeOracle(merges = false)

  private def bpeOracle(merges: Boolean): String = {
    val steps = 6
    val base =
      """WITH wf AS (SELECT word, cast(count(*) AS bigint) AS freq FROM (
             SELECT lower(t.tok) AS word
             FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(tok)
             WHERE regexp_full_match(lower(t.tok), '[a-z]+'))
           GROUP BY 1),
         t0 AS (SELECT word, freq, cast(li.i AS int) AS pos,
             substr(word, cast(li.i AS int), 1) AS sym
           FROM wf, LATERAL (SELECT unnest(range(1, len(word)+1)) AS i) AS li)"""
    val rounds = (1 to steps).map { k =>
      s""",
         p$k AS (SELECT sym AS l, nxt AS r, cast(sum(freq) AS bigint) AS n
           FROM (SELECT freq, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
             FROM t${k - 1})
           WHERE nxt IS NOT NULL GROUP BY 1, 2),
         b$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         m$k AS (SELECT *, pos - sum(c) OVER
               (PARTITION BY word ORDER BY pos ROWS UNBOUNDED PRECEDING)
               AS isl
           FROM (SELECT word, freq, pos, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
               CASE WHEN sym = (SELECT l FROM b$k)
                     AND lead(sym) OVER (PARTITION BY word ORDER BY pos)
                         = (SELECT r FROM b$k)
                 THEN 1 ELSE 0 END AS c
             FROM t${k - 1})),
         s$k AS (SELECT *, min(CASE WHEN c = 1 THEN pos END) OVER
               (PARTITION BY word, isl) AS strt
           FROM m$k),
         g$k AS (SELECT *,
             (c = 1 AND (pos - strt) % 2 = 0) AS mstart,
             coalesce(lag(c = 1 AND (pos - strt) % 2 = 0) OVER
               (PARTITION BY word ORDER BY pos), false) AS consumed
           FROM s$k),
         t$k AS (SELECT word, freq,
             cast(row_number() OVER (PARTITION BY word ORDER BY pos) AS int)
               AS pos,
             CASE WHEN mstart THEN sym || nxt ELSE sym END AS sym
           FROM g$k WHERE NOT consumed)"""
    }.mkString
    val out =
      if (merges)
        (1 to steps).map { k =>
          s"SELECT cast($k AS int) AS step, l AS merge_left, r AS merge_right, n AS n_pairs FROM b$k"
        }.mkString("\n         UNION ALL ")
      else
        (0 to steps).map { k =>
          s"SELECT cast($k AS int) AS step, cast(sum(freq) AS bigint) AS corpus_subwords FROM t$k"
        }.mkString("\n         UNION ALL ")
    s"$base$rounds\n         $out"
  }

  /** q389; q390 reports over its per-class table. */
  private val langidEval = Gate("q389_langid_eval", (s, dir) => {
      // q32's confusion matrix folded into the per-class
      // precision/recall/F1 report — the eval loop that decides whether
      // the stopword heuristic is good enough to gate corpus routing.
      // Exact integer tp/fp/fn; F1 from the 6-dp rounded P and R so the
      // harmonic mean is engine-identical.
      val cm = Tables.documents(s, dir)
        .withColumn("pred", TextOps.langId(TextOps.tokens(col("text"))))
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("__n"))
      val tp = cm.filter(col("lang") === col("pred"))
        .select(col("lang").as("language"), col("__n").as("__tp"))
      val byLang = cm.groupBy(col("lang").as("language"))
        .agg(sum(col("__n")).as("__support"))
      val byPred = cm.groupBy(col("pred").as("language"))
        .agg(sum(col("__n")).as("__predicted"))
      val p6 = round(col("__tp").cast("double") /
        col("__predicted").cast("double"), 6) + lit(0.0d)
      val r6c = round(col("__tp").cast("double") /
        col("__support").cast("double"), 6) + lit(0.0d)
      byLang.join(byPred, Seq("language"), "full_outer")
        .join(tp, Seq("language"), "left_outer")
        .select(col("language"),
          coalesce(col("__support"), lit(0L)).as("support"),
          coalesce(col("__predicted"), lit(0L)).as("n_predicted"),
          coalesce(col("__tp"), lit(0L)).as("true_positives"))
        .filter(col("support") > 0)
        .withColumn("__tp", col("true_positives"))
        .withColumn("__support", col("support"))
        .withColumn("__predicted", col("n_predicted"))
        .select(col("language"), col("support"), col("n_predicted"),
          col("true_positives"),
          when(col("__predicted") > 0, p6).as("precision"),
          r6c.as("recall"),
          when(col("__predicted") > 0 && col("__tp") > 0,
            round(lit(2.0d) *
              (round(col("__tp").cast("double") /
                col("__predicted").cast("double"), 6) + lit(0.0d)) *
              (round(col("__tp").cast("double") /
                col("__support").cast("double"), 6) + lit(0.0d)) /
              ((round(col("__tp").cast("double") /
                col("__predicted").cast("double"), 6) + lit(0.0d)) +
                (round(col("__tp").cast("double") /
                  col("__support").cast("double"), 6) + lit(0.0d))), 6)
              + lit(0.0d)).as("f1"))
    },
      // lang-ID eval: q32's confusion matrix → per-class P/R/F1; F1 from
      // the 6-dp rounded P and R
      oracle = """WITH sc AS (SELECT lang,
           len(list_filter(string_split(text,' '),
             x -> x IN ('the','a','of','and','to'))) AS en,
           len(list_filter(string_split(text,' '),
             x -> x IN ('der','die','das','und','ist'))) AS de,
           len(list_filter(string_split(text,' '),
             x -> x IN ('le','la','les','et','est'))) AS fr,
           len(list_filter(string_split(text,' '),
             x -> x IN ('el','los','las','y','es'))) AS es
           FROM documents),
         cm AS (SELECT lang,
           CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0
               THEN 'en'
             WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
             WHEN fr >= es AND fr > 0 THEN 'fr'
             WHEN es > 0 THEN 'es' ELSE 'und' END AS pred,
           cast(count(*) AS bigint) AS n
           FROM sc GROUP BY 1, 2),
         tp AS (SELECT lang AS language, cast(sum(n) AS bigint) AS tp
           FROM cm WHERE lang = pred GROUP BY 1),
         bl AS (SELECT lang AS language, cast(sum(n) AS bigint)
             AS support FROM cm GROUP BY 1),
         bp AS (SELECT pred AS language, cast(sum(n) AS bigint)
             AS predicted FROM cm GROUP BY 1),
         j AS (
           SELECT coalesce(bl.language, bp.language) AS language,
             coalesce(bl.support, 0) AS support,
             coalesce(bp.predicted, 0) AS n_predicted,
             coalesce(tp.tp, 0) AS true_positives
           FROM bl FULL OUTER JOIN bp ON bl.language = bp.language
           LEFT JOIN tp ON coalesce(bl.language, bp.language)
             = tp.language)
         SELECT language, support, n_predicted, true_positives,
           CASE WHEN n_predicted > 0 THEN
             round(cast(true_positives AS double)
               / cast(n_predicted AS double), 6) + 0.0 END AS precision,
           round(cast(true_positives AS double)
             / cast(support AS double), 6) + 0.0 AS recall,
           CASE WHEN n_predicted > 0 AND true_positives > 0 THEN
             round(2.0
               * (round(cast(true_positives AS double)
                 / cast(n_predicted AS double), 6) + 0.0)
               * (round(cast(true_positives AS double)
                 / cast(support AS double), 6) + 0.0)
               / ((round(cast(true_positives AS double)
                 / cast(n_predicted AS double), 6) + 0.0)
                 + (round(cast(true_positives AS double)
                   / cast(support AS double), 6) + 0.0)), 6) + 0.0
             END AS f1
         FROM j WHERE support > 0""")

  val gates: Seq[Gate] = Seq(
    // ---- EXT: PMI collocation extraction ----
    Gate("q126_pmi_collocations", (s, dir) =>
      graft.operators.TextOps.pmiCollocations(
        Tables.documents(s, dir), "doc_id", "text", minCount = 5, k = 20),
      // PMI: ln(c12*N/(c1*c2)) rounded to 6 dp, min-count floor, global
      // top-20 with (pmi desc, pair) tie-break
      oracle = """WITH d AS (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         nn AS (SELECT toks, len(toks) AS n FROM d WHERE len(toks) >= 2),
         bg AS (SELECT toks[i] AS t1, toks[i + 1] AS t2
           FROM (SELECT toks, unnest(range(1, n)) AS i FROM nn) x),
         c12 AS (SELECT t1, t2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         c1 AS (SELECT t1, count(*) AS c1 FROM bg GROUP BY 1),
         c2 AS (SELECT t2, count(*) AS c2 FROM bg GROUP BY 1),
         nb AS (SELECT count(*) AS n_bigrams FROM bg)
         SELECT t1, t2, c12,
           round(ln((cast(c12 AS double) * cast(n_bigrams AS double)) /
             (cast(c1 AS double) * cast(c2 AS double))), 6) AS pmi
         FROM c12 JOIN c1 USING (t1) JOIN c2 USING (t2) CROSS JOIN nb
         WHERE c12 >= 5
         ORDER BY pmi DESC, t1, t2 LIMIT 20"""),

    // ---- EXT: corpus-composition statistics ----
    Gate("q127_source_kl", (s, dir) =>
      graft.operators.TextOps.sourceKlDivergence(
        Tables.documents(s, dir), "source", "text"),
      // KL: per-term 6-dp-rounded signed contributions summed as exact
      // decimals; marginals derived from the (source, term) table
      oracle = """WITH tok AS (SELECT source,
           unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
           FROM documents),
         cst AS (SELECT source, term, count(*) AS c_st FROM tok GROUP BY 1, 2),
         ns AS (SELECT source, cast(sum(c_st) AS bigint) AS n_s FROM cst GROUP BY 1),
         ct AS (SELECT term, cast(sum(c_st) AS bigint) AS c_t FROM cst GROUP BY 1),
         n AS (SELECT cast(sum(c_t) AS bigint) AS n_tot FROM ct)
         SELECT source, max(n_s) AS n_tokens,
           cast(sum(cast(round((cast(c_st AS double) / cast(n_s AS double)) *
             ln((cast(c_st AS double) * cast(n_tot AS double)) /
                (cast(n_s AS double) * cast(c_t AS double))), 6)
             AS decimal(18,6))) AS double) AS kl
         FROM cst JOIN ns USING (source) JOIN ct USING (term) CROSS JOIN n
         GROUP BY source"""),

    // ---- T: out-of-vocabulary rate against the corpus top-V vocab ----
    Gate("q190_oov_rate", (s, dir) =>
      graft.operators.TextOps.oovRate(
        Tables.documents(s, dir), "doc_id", "text", vocabSize = 20),
      // OOV: top-V vocab with (count desc, token) deterministic boundary;
      // rate = one division of exact integer counts
      oracle = """WITH tok AS (SELECT doc_id, t FROM (SELECT doc_id,
             unnest(string_split(text, ' ')) AS t FROM documents) u
           WHERE t <> ''),
         v AS (SELECT t, 1 AS iv FROM tok GROUP BY t
           ORDER BY count(*) DESC, t LIMIT 20)
         SELECT doc_id, count(*) AS n_tokens,
           cast(sum(CASE WHEN v.iv IS NULL THEN 1 ELSE 0 END) AS bigint)
             AS n_oov,
           cast(sum(CASE WHEN v.iv IS NULL THEN 1 ELSE 0 END) AS double) /
             cast(count(*) AS double) AS oov_rate
         FROM tok LEFT JOIN v ON tok.t = v.t
         GROUP BY doc_id"""),

    // ---- T: multinomial naive-Bayes fit + self-score ----
    Gate("q204_naive_bayes", (s, dir) =>
      graft.operators.TextOps.naiveBayesScore(
        Tables.documents(s, dir), "doc_id", "text", "lang"),
      // naive Bayes: Laplace-smoothed ratios of exact counts, 6dp ln-sum
      // discipline, (score desc, class) argmax
      oracle = """WITH toks AS (SELECT id, true_c, w FROM (SELECT doc_id AS id,
             lang AS true_c, unnest(string_split(text, ' ')) AS w
           FROM documents) u WHERE w <> ''),
         ct AS (SELECT w, true_c AS c, count(*) AS cnt FROM toks GROUP BY 1, 2),
         tot AS (SELECT c, sum(cnt) AS tot FROM ct GROUP BY 1),
         v AS (SELECT count(DISTINCT w) AS v FROM ct),
         nd AS (SELECT count(*) AS nd FROM documents),
         cd AS (SELECT lang AS c, count(*) AS ndc FROM documents GROUP BY 1),
         terms AS (SELECT toks.id, tot.c,
             cast(round(ln(cast(coalesce(ct.cnt, 0) + 1 AS double) /
               cast(tot.tot + v.v AS double)), 6) AS decimal(18,6)) AS term
           FROM toks CROSS JOIN tot
           LEFT JOIN ct ON ct.w = toks.w AND ct.c = tot.c
           CROSS JOIN v),
         lik AS (SELECT id, c, sum(term) AS lik FROM terms GROUP BY 1, 2),
         pr AS (SELECT c, cast(round(ln(cast(ndc AS double) /
             cast(nd AS double)), 6) AS decimal(18,6)) AS prior
           FROM cd CROSS JOIN nd),
         sc AS (SELECT id, lik.c, cast(lik + prior AS double) AS score
           FROM lik JOIN pr ON lik.c = pr.c),
         r AS (SELECT id, c, score, row_number() OVER (PARTITION BY id
             ORDER BY score DESC, c ASC) AS rn FROM sc)
         SELECT id AS doc_id, c AS pred_class, round(score, 6) AS score
         FROM r WHERE rn = 1"""),

    // ---- P: curation filter-chain attrition report ----
    Gate("q211_filter_attrition", (s, dir) => {
      // per-rule sequential attrition: ONE pass computes every prefix
      // count, then the one-row aggregate unpivots to a row per rule
      val d = Tables.documents(s, dir)
        .select(col("n_chars"), col("lang"),
          size(graft.operators.TextOps.tokens(col("text"))).as("__nt"))
      val agg = d.agg(
        count(lit(1)).as("c0"),
        sum(when(col("n_chars") >= 50, 1).otherwise(0)).cast("long").as("c1"),
        sum(when(col("n_chars") >= 50 && col("lang") =!= "zh", 1)
          .otherwise(0)).cast("long").as("c2"),
        sum(when(col("n_chars") >= 50 && col("lang") =!= "zh" &&
          col("__nt") >= 5, 1).otherwise(0)).cast("long").as("c3"))
      agg.select(explode(array(
          struct(lit("1_min_length").as("rule"), col("c0").as("n_in"),
            col("c1").as("n_out")),
          struct(lit("2_lang_allowlist").as("rule"), col("c1").as("n_in"),
            col("c2").as("n_out")),
          struct(lit("3_min_tokens").as("rule"), col("c2").as("n_in"),
            col("c3").as("n_out")))).as("__r"))
        .select(col("__r.rule"), col("__r.n_in"), col("__r.n_out"),
          (col("__r.n_in") - col("__r.n_out")).as("n_dropped"))
    },
      // attrition: one-pass prefix counts, unpivoted to a row per rule
      oracle = """WITH d AS (SELECT n_chars, lang,
             len(string_split(text, ' ')) AS nt
           FROM documents),
         a AS (SELECT count(*) AS c0,
             cast(sum(CASE WHEN n_chars >= 50 THEN 1 ELSE 0 END) AS bigint)
               AS c1,
             cast(sum(CASE WHEN n_chars >= 50 AND lang <> 'zh' THEN 1
               ELSE 0 END) AS bigint) AS c2,
             cast(sum(CASE WHEN n_chars >= 50 AND lang <> 'zh' AND nt >= 5
               THEN 1 ELSE 0 END) AS bigint) AS c3
           FROM d)
         SELECT '1_min_length' AS rule, c0 AS n_in, c1 AS n_out,
           c0 - c1 AS n_dropped FROM a
         UNION ALL SELECT '2_lang_allowlist', c1, c2, c1 - c2 FROM a
         UNION ALL SELECT '3_min_tokens', c2, c3, c2 - c3 FROM a"""),

    // ---- T/P: per-source contamination-rate report ----
    Gate("q212_contamination_report", (s, dir) => {
      val d = Tables.spread(s, Tables.documents(s, dir))
      val train = d.filter(col("doc_id") % 97 =!= 0)
      val hits = graft.operators.TextOps.contaminationHits(
        train, "doc_id", "text",
        d.filter(col("doc_id") % 97 === 0), "text", n = 3)
      train.join(hits.select(col("doc_id"), lit(1).as("__hit")),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__hit").isNotNull, 1).otherwise(0)).cast("long")
            .as("n_contaminated"))
        .select(col("source"), col("n_docs"), col("n_contaminated"),
          (col("n_contaminated").cast("double") / col("n_docs").cast("double"))
            .as("contamination_rate"))
    },
      // contamination report: q59 hit logic rolled up per source
      oracle = """WITH t0 AS (SELECT doc_id, source, string_split(text,' ') AS w
           FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len(w)-2),
             i -> array_to_string(w[i:i+2], ' ')))) AS s
           FROM t0 WHERE len(w) >= 3),
         bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         hit AS (SELECT DISTINCT doc_id FROM sh
           WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bsh))
         SELECT source, count(*) AS n_docs,
           cast(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS bigint) AS n_contaminated,
           cast(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS double) / cast(count(*) AS double) AS contamination_rate
         FROM t0 LEFT JOIN hit ON t0.doc_id = hit.doc_id
         WHERE t0.doc_id % 97 <> 0
         GROUP BY source"""),

    // ---- P: RLHF preference-pair construction (best vs worst per group) ----
    Gate("q213_preference_pairs", (s, dir) =>
      graft.operators.Pipelines.preferencePairs(
        Tables.documents(s, dir), Seq("source", "lang"), "doc_id",
        col("n_chars")),
      // preference pairs: argmax/argmin with explicit tie rules
      oracle = """WITH r AS (SELECT source, lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY n_chars DESC, doc_id ASC) AS rb,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY n_chars ASC, doc_id ASC) AS rw,
             count(*) OVER (PARTITION BY source, lang) AS n_docs
           FROM documents)
         SELECT b.source, b.lang, b.n_docs,
           b.doc_id AS chosen_id, b.n_chars AS chosen_score,
           w.doc_id AS rejected_id, w.n_chars AS rejected_score
         FROM (SELECT * FROM r WHERE rb = 1) b
         JOIN (SELECT * FROM r WHERE rw = 1) w
           ON b.source = w.source AND b.lang = w.lang
         WHERE b.n_docs >= 2"""),

    // ---- T/P: span-corruption masking plan (T5-style, deterministic) ----
    Gate("q215_mask_spans", (s, dir) =>
      graft.operators.Pipelines.maskSpans(
        Tables.documents(s, dir), "doc_id", "text", maskPct = 15),
      // mask spans: same md5 mask rule, islands key = idx - row_number
      oracle = """WITH toks AS (SELECT doc_id, unnest(list_filter(list_transform(
             generate_series(1, len(w)),
             i -> CASE WHEN w[i] <> ''
               AND ('0x' || substr(md5(cast(doc_id AS varchar) || ':' ||
                 cast(i - 1 AS varchar)), 1, 8))::bigint % 100 < 15
               THEN i - 1 END), x -> x IS NOT NULL)) AS idx
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d),
         isl AS (SELECT doc_id, idx,
             idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx)
               AS island
           FROM toks)
         SELECT doc_id, cast(min(idx) AS int) AS span_start,
           count(*) AS span_len
         FROM isl GROUP BY doc_id, island"""),

    // ---- P: RAG ingest prep (chunk -> dedup -> per-doc index stats) ----
    Gate("q220_rag_prep", (s, dir) => {
      // the retrieval-ingest composition: overlapped chunking, exact chunk
      // dedup (boilerplate chunks collapse corpus-wide), then per-doc
      // index statistics a RAG store reports after ingest
      val chunks = graft.operators.TextOps.chunkTokens(
        Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 20, overlap = 5)
      val keyed = chunks.withColumn("__fp", md5(col("chunk_text")))
      val keep = keyed.withColumn("__keep",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__fp"))
          .orderBy(col("doc_id").asc, col("chunk_id").asc)) === 1)
      keep.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__keep"), 1).otherwise(0)).cast("long")
            .as("n_kept_chunks"),
          sum(col("n_chunk_tokens")).as("n_tokens"))
    },
      // RAG prep: q82 chunk rule + md5 chunk dedup + per-doc rollup
      oracle = """WITH d AS (SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         nn AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
         st AS (SELECT doc_id, toks, n,
             unnest(range(0, greatest(n - 5 - 1, 0) + 1, 15)) AS start
           FROM nn),
         ch AS (SELECT doc_id,
             array_to_string(toks[start + 1 : least(start + 20, n)], ' ')
               AS chunk_text,
             cast(start / 15 AS int) AS chunk_id,
             cast(least(n - start, 20) AS bigint) AS nt
           FROM st),
         k AS (SELECT doc_id, nt,
             row_number() OVER (PARTITION BY md5(chunk_text)
               ORDER BY doc_id, chunk_id) AS rn
           FROM ch)
         SELECT doc_id, count(*) AS n_chunks,
           cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS bigint)
             AS n_kept_chunks,
           cast(sum(nt) AS bigint) AS n_tokens
         FROM k GROUP BY doc_id"""),

    // ---- P: dataset card (per-source release datasheet) ----
    Gate("q221_dataset_card", (s, dir) => {
      // the release artifact a curated corpus ships with: per source, the
      // size, token mass, language mix, and exact-dup rate in ONE row —
      // every number from exact sums, each rate ONE division
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          size(graft.operators.TextOps.tokens(col("text"))).as("__nt"),
          graft.operators.TextOps.bagFingerprint(
            graft.operators.TextOps.tokens(col("text"))).as("__fp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__fp")).orderBy(col("doc_id").asc)
      d.withColumn("__dup", row_number().over(w) > 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("total_tokens"),
          (sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double")).as("mean_chars"),
          (sum(when(col("lang") === "en", 1).otherwise(0)).cast("double") /
            count(lit(1)).cast("double")).as("pct_en"),
          (sum(when(col("__dup"), 1).otherwise(0)).cast("double") /
            count(lit(1)).cast("double")).as("dup_rate"))
    },
      // dataset card: dup = non-first member of a bag-fingerprint cluster
      // (global, ties to lower doc_id); every rate ONE exact division
      oracle = """WITH d AS (SELECT doc_id, source, lang, n_chars,
             len(string_split(text, ' ')) AS nt,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS fp
           FROM documents),
         k AS (SELECT *, row_number() OVER (PARTITION BY fp
             ORDER BY doc_id ASC) > 1 AS dup FROM d)
         SELECT source, count(*) AS n_docs,
           cast(sum(nt) AS bigint) AS total_tokens,
           cast(sum(n_chars) AS double) / cast(count(*) AS double)
             AS mean_chars,
           cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS double) /
             cast(count(*) AS double) AS pct_en,
           cast(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS double) /
             cast(count(*) AS double) AS dup_rate
         FROM k GROUP BY source"""),

    // ---- A: approx-percentile accuracy gate (the 100 TB quantile path) ----
    Gate("q232_approx_quantile_gate", (s, dir) =>
      // exact interpolated percentiles don't scale (full sort per group);
      // the scale path is the mergeable KLL-style sketch. Its merge order
      // varies with partitioning, so the VALUE can't be oracled — the gate
      // asserts the rank-error CONTRACT instead: the sketch's p50/p90 must
      // land within the exact [p45,p55]/[p85,p95] rank windows (accuracy
      // 10000 → rank error 1e-4 ≪ the 0.05 window).
      Tables.documents(s, dir)
        .select(col("lang"), size(TextOps.tokens(col("text"))).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(
          expr("percentile(n_tokens, array(0.45, 0.5, 0.55, 0.85, 0.9, 0.95))")
            .as("__ex"),
          expr("approx_percentile(n_tokens, array(0.5, 0.9), 10000)").as("__ap"))
        .select(col("lang"),
          element_at(col("__ex"), 2).as("p50_exact"),
          element_at(col("__ex"), 5).as("p90_exact"),
          (element_at(col("__ap"), 1) >= element_at(col("__ex"), 1) &&
            element_at(col("__ap"), 1) <= element_at(col("__ex"), 3)).as("ok50"),
          (element_at(col("__ap"), 2) >= element_at(col("__ex"), 4) &&
            element_at(col("__ap"), 2) <= element_at(col("__ex"), 6)).as("ok90")),
      // approx-quantile gate: oracle carries the exact side + the contract
      // booleans (no oracle can replay the sketch's merge order)
      oracle = """WITH t AS (SELECT lang, len(string_split(text,' ')) AS n_tokens
           FROM documents)
         SELECT lang,
           quantile_cont(n_tokens, 0.5) AS p50_exact,
           quantile_cont(n_tokens, 0.9) AS p90_exact,
           true AS ok50, true AS ok90
         FROM t GROUP BY lang"""),

    // ---- EXT: Cohen's kappa inter-annotator agreement ----
    Gate("q235_cohens_kappa", (s, dir) => {
      // agreement between two deterministic labeling rules (char-length vs
      // token-count "long document" annotators) beyond chance: one scan, one
      // hash agg; po/pe assembled in ONE mirrored double expression from
      // exact integer marginals (the q152 closed-form-moments discipline).
      val d = Tables.documents(s, dir).select(
        when(col("n_chars") >= 500, 1L).otherwise(0L).as("a"),
        when(size(TextOps.tokens(col("text"))) >= 80, 1L).otherwise(0L)
          .as("b"))
      val m = d.agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"),
        sum(col("a")).as("na"), sum(col("b")).as("nb"))
      val n  = col("n").cast("double")
      val po = col("n_agree").cast("double") / n
      val pe = (col("na").cast("double") / n) * (col("nb").cast("double") / n) +
        ((n - col("na").cast("double")) / n) *
          ((n - col("nb").cast("double")) / n)
      m.select(col("n"), col("n_agree"),
        round((po - pe) / (lit(1.0d) - pe), 6).as("kappa"))
    },
      // kappa: same integer marginals, ONE mirrored double expression
      oracle = """WITH d AS (SELECT
           CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS a,
           CASE WHEN len(string_split(text, ' ')) >= 80 THEN 1 ELSE 0 END
             AS b
           FROM documents),
         m AS (SELECT cast(count(*) AS bigint) AS n,
             cast(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS bigint)
               AS n_agree,
             cast(sum(a) AS bigint) AS na, cast(sum(b) AS bigint) AS nb
           FROM d)
         SELECT n, n_agree,
           round(((cast(n_agree AS double) / cast(n AS double)) -
               ((cast(na AS double) / cast(n AS double)) *
                  (cast(nb AS double) / cast(n AS double)) +
                ((cast(n AS double) - cast(na AS double)) /
                   cast(n AS double)) *
                  ((cast(n AS double) - cast(nb AS double)) /
                     cast(n AS double)))) /
             (1.0 - ((cast(na AS double) / cast(n AS double)) *
                  (cast(nb AS double) / cast(n AS double)) +
                ((cast(n AS double) - cast(na AS double)) /
                   cast(n AS double)) *
                  ((cast(n AS double) - cast(nb AS double)) /
                     cast(n AS double)))), 6) AS kappa
         FROM m"""),

    // ---- EXT: corpus-comparison keyness (smoothed log-odds) ----
    Gate("q237_log_odds_keyness", (s, dir) => {
      // which terms characterize the 'web' slice vs the rest: +1-smoothed
      // log-odds ratio per term over vocab-sized aggregates (term counts +
      // one 1-row broadcast of the side totals). Scores 6dp-rounded BEFORE
      // the top-k so a libm ulp can't flip the selection boundary; ties
      // broken on the term itself.
      val toks = Tables.documents(s, dir)
        .select(when(col("source") === "web", 1).otherwise(0).as("w"),
          explode(TextOps.tokens(col("text"))).as("term"))
        .filter(length(col("term")) >= 3)
      val counts = toks.groupBy(col("term"))
        .agg(sum(when(col("w") === 1, 1L).otherwise(0L)).as("n_web"),
          sum(when(col("w") === 0, 1L).otherwise(0L)).as("n_rest"))
      val tot = counts.agg(sum(col("n_web")).as("__tw"),
        sum(col("n_rest")).as("__tr"))
      counts.filter(col("n_web") + col("n_rest") >= 10)
        .crossJoin(broadcast(tot))
        .withColumn("log_odds", round(
          log((col("n_web") + lit(1.0d)) /
              (col("__tw") - col("n_web") + lit(1.0d))) -
          log((col("n_rest") + lit(1.0d)) /
              (col("__tr") - col("n_rest") + lit(1.0d))), 6))
        .orderBy(col("log_odds").desc, col("term"))
        .limit(20)
        .select(col("term"), col("n_web"), col("n_rest"), col("log_odds"))
    },
      // keyness: mirrored smoothed log-odds, 6dp-rounded before the top-k,
      // term tie-break — boundary-deterministic across engines
      oracle = """WITH toks AS (SELECT
           CASE WHEN source = 'web' THEN 1 ELSE 0 END AS w,
           unnest(string_split(text, ' ')) AS term FROM documents),
         f AS (SELECT w, term FROM toks WHERE len(term) >= 3),
         counts AS (SELECT term,
             sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS n_web,
             sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS n_rest
           FROM f GROUP BY 1),
         tot AS (SELECT sum(n_web) AS tw, sum(n_rest) AS tr FROM counts)
         SELECT term, cast(n_web AS bigint) AS n_web,
           cast(n_rest AS bigint) AS n_rest,
           round(ln((n_web + 1.0) / (tw - n_web + 1.0)) -
                 ln((n_rest + 1.0) / (tr - n_rest + 1.0)), 6) AS log_odds
         FROM counts, tot WHERE n_web + n_rest >= 10
         ORDER BY log_odds DESC, term LIMIT 20"""),

    // ---- EXT: vocabulary coverage curve (tokenizer-budget planning) ----
    Gate("q241_vocab_coverage", (s, dir) => {
      // what fraction of all token OCCURRENCES a top-V vocabulary covers,
      // at V ∈ {100, 1k, 5k, 20k} — the curve a tokenizer budget is read
      // from. Counts are vocab-sized aggregates; the one ordered prefix runs
      // over the VOCAB table (bounded by distinct terms, not corpus rows —
      // the q130 bounded-domain discipline); (count desc, term) total order
      // makes the rank and the cut boundary deterministic.
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("c").desc, col("term"))
      val ranked = counts
        .withColumn("rank", row_number().over(w))
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      val tot = counts.agg(sum(col("c")).as("__t"))
      val cuts = s.createDataFrame(Seq(Tuple1(100L), Tuple1(1000L),
        Tuple1(5000L), Tuple1(20000L))).toDF("v")
      ranked.join(broadcast(cuts), col("rank") <= col("v"))
        .groupBy(col("v"))
        .agg(max(col("rank")).cast("long").as("n_terms"),
          max(col("cum")).as("__cov"))
        .crossJoin(broadcast(tot))
        .select(col("v"), col("n_terms"),
          round(col("__cov").cast("double") / col("__t").cast("double"), 6)
            .as("coverage"))
    },
      // vocab coverage: mirrored (count desc, term) rank + prefix over the
      // vocab table; integer counts, one final division
      oracle = """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
           FROM documents),
         counts AS (SELECT term, count(*) AS c FROM toks
           WHERE term <> '' GROUP BY 1),
         ranked AS (SELECT term, c,
             row_number() OVER (ORDER BY c DESC, term) AS rank,
             sum(c) OVER (ORDER BY c DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM counts),
         tot AS (SELECT sum(c) AS t FROM counts),
         cuts AS (SELECT unnest([100, 1000, 5000, 20000]) AS v)
         SELECT cast(v AS bigint) AS v,
           cast(max(rank) AS bigint) AS n_terms,
           round(cast(max(cum) AS double) / cast((SELECT t FROM tot)
             AS double), 6) AS coverage
         FROM ranked JOIN cuts ON rank <= v GROUP BY v"""),

    // ---- EXT: sentence segmentation stats ----
    Gate("q247_sentence_stats", (s, dir) => {
      // corpus pipelines segment to sentences before sentence-level dedup /
      // quality filters: split on [.!?] runs, drop empty fragments, exact
      // integer char sums per source, one final division.
      val sent = Tables.documents(s, dir)
        .select(col("source"),
          explode(split(col("text"), "[.!?]+")).as("frag"))
        .select(col("source"), trim(col("frag")).as("sent"))
        .filter(col("sent") =!= "")
      sent.groupBy(col("source"))
        .agg(count(lit(1)).as("n_sentences"),
          sum(length(col("sent"))).as("__chars"),
          max(length(col("sent"))).cast("long").as("max_sentence_chars"))
        .select(col("source"), col("n_sentences"),
          round(col("__chars").cast("double") /
            col("n_sentences").cast("double"), 6).as("avg_sentence_chars"),
          col("max_sentence_chars"))
    },
      // sentence stats: same [.!?]+ split rule, trim, exact char sums
      oracle = """WITH sent AS (SELECT source, trim(f) AS sent FROM
           (SELECT source, unnest(string_split_regex(text, '[.!?]+')) AS f
            FROM documents)
           WHERE trim(f) <> '')
         SELECT source, cast(count(*) AS bigint) AS n_sentences,
           round(cast(sum(len(sent)) AS double) /
             cast(count(*) AS double), 6) AS avg_sentence_chars,
           cast(max(len(sent)) AS bigint) AS max_sentence_chars
         FROM sent GROUP BY 1"""),

    // ---- EXT: top-k terms per doc via higher-order array functions ----
    Gate("q257_topk_terms_per_doc", (s, dir) => {
      // the window-free top-k: per-doc term counts collect into an array of
      // (-count, term) structs, then sort_array + slice + transform run
      // INSIDE the row — no second shuffle, no window; the array is bounded
      // by per-doc vocabulary. Struct field order gives (count desc, term
      // asc) total order, so the top-3 and its string join are exact.
      val counts = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      counts.groupBy(col("doc_id"))
        .agg(collect_list(struct((-col("c")).as("nc"), col("t").as("t")))
          .as("__a"))
        .select(col("doc_id"),
          array_join(transform(slice(sort_array(col("__a")), 1, 3),
            e => e.getField("t")), ",").as("top_terms"))
    },
      // top-k terms: same (count desc, term) total order stated via window +
      // ordered string_agg — construction differs, semantics identical
      oracle = """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         counts AS (SELECT doc_id, t, count(*) AS c FROM toks
           WHERE t <> '' GROUP BY 1, 2),
         r AS (SELECT doc_id, t, row_number() OVER (
             PARTITION BY doc_id ORDER BY c DESC, t) AS rn
           FROM counts)
         SELECT doc_id, string_agg(t, ',' ORDER BY rn) AS top_terms
         FROM r WHERE rn <= 3 GROUP BY doc_id"""),

    // ---- EXT: encoding-quality audit (mojibake / control chars) ----
    Gate("q273_encoding_audit", (s, dir) =>
      // corpus hygiene: per source, documents containing U+FFFD
      // replacement chars and the control-character rate per 1k chars —
      // the filter that catches broken decodes before training. Counts
      // via length-difference (no per-row lambdas); integer-exact until
      // the final rate division.
      Tables.documents(s, dir)
        .select(col("source"), col("n_chars"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "�", ""))).as("__nr"),
          (length(col("text")) - length(regexp_replace(col("text"),
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).as("__nc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__nr") > 0, 1L).otherwise(0L))
            .as("n_docs_replacement"),
          sum(col("__nc")).as("__ctl"), sum(col("n_chars")).as("__ch"))
        .select(col("source"), col("n_docs"), col("n_docs_replacement"),
          round(col("__ctl").cast("double") * 1000.0d /
            col("__ch").cast("double"), 6).as("ctl_per_1k_chars")),
      // encoding audit: same char classes (tab/newline/CR excluded), 'g'
      // flag so DuckDB replaces ALL matches like Spark does
      oracle = """SELECT source, cast(count(*) AS bigint) AS n_docs,
         cast(sum(CASE WHEN len(text) -
             len(regexp_replace(text, '\x{FFFD}', '', 'g')) > 0
           THEN 1 ELSE 0 END) AS bigint) AS n_docs_replacement,
         round(cast(sum(len(text) - len(regexp_replace(text,
             '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))) AS double)
           * 1000.0 / cast(sum(n_chars) AS double), 6)
           AS ctl_per_1k_chars
         FROM documents GROUP BY source"""),

    // ---- EXT: chunk → reassemble round trip (inverse-operator gate) ----
    Gate("q277_chunk_roundtrip", (s, dir) => {
      // integrity proof for the RAG chunker: q82's overlapped chunks,
      // reassembled (first chunk whole, later chunks minus the `overlap`
      // leading tokens), must reproduce every document's space-normalized
      // token stream exactly. Per-doc arrays bounded by doc length; the
      // oracle is simply the normalized source text.
      val overlap = 10
      val chunks = TextOps.chunkTokens(
        Tables.documents(s, dir).filter(col("doc_id") % 20 === 0),
        "doc_id", "text", chunkSize = 50, overlap = overlap)
      chunks
        .withColumn("__kept",
          when(col("chunk_id") === 0, split(col("chunk_text"), " "))
            .otherwise(slice(split(col("chunk_text"), " "),
              overlap + 1, 1000000)))
        .groupBy(col("doc_id"))
        .agg(array_join(flatten(transform(
          sort_array(collect_list(struct(col("chunk_id").as("i"),
            col("__kept").as("t")))),
          e => e.getField("t"))), " ").as("text_norm"))
    },
      // chunk round trip: oracle = the space-normalized source token stream
      oracle = """SELECT doc_id, array_to_string(list_filter(
           string_split(text, ' '), t -> t <> ''), ' ') AS text_norm
         FROM documents
         WHERE doc_id % 20 = 0
           AND len(list_filter(string_split(text, ' '), t -> t <> '')) > 0"""),

    // ---- EXT: bigram-LM quality score (conditional surprisal) ----
    Gate("q119_bigram_surprisal", (s, dir) =>
      graft.operators.TextOps.bigramSurprisal(
        Tables.documents(s, dir), "doc_id", "text"),
      // bigram LM: add-0.5-smoothed conditional surprisal, q88's determinism
      // contract (6-dp round, exact-decimal sum, division last); every float
      // literal cast to double so DuckDB's exact-decimal literal arithmetic
      // matches Spark's IEEE doubles
      oracle = """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         nn AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) >= 2),
         bg AS (SELECT doc_id, toks[i] AS t1, toks[i + 1] AS t2
           FROM (SELECT doc_id, toks, unnest(range(1, n)) AS i FROM nn) x),
         c12 AS (SELECT t1, t2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         c1 AS (SELECT t1, count(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT count(DISTINCT t2) AS v FROM bg),
         s AS (SELECT bg.doc_id,
             cast(round(-ln((cast(c12.c12 AS double) + cast(0.5 AS double)) /
               (cast(c1.c1 AS double) + cast(0.5 AS double) * cast(v.v AS double))), 6)
               AS decimal(18,6)) AS s
           FROM bg JOIN c12 USING (t1, t2) JOIN c1 USING (t1) CROSS JOIN v)
         SELECT doc_id, cast(sum(s) AS double) / count(*) AS mean_surprisal,
           count(*) AS n_bigrams
         FROM s GROUP BY doc_id"""),

    // ---- EXT: TF-IDF top terms per document ----
    Gate("q81_tfidf_topk", (s, dir) =>
      TextOps.tfidfTopTerms(
          Tables.documents(s, dir).filter(col("doc_id") % 20 === 0),
          "doc_id", "text", k = 5)
        .select("doc_id", "term", "tf", "tfidf"),
      // tf-idf: identical tokenization (space split, empties dropped), df from
      // the (doc,term) rollup, ln-score rounded to 6dp BEFORE ranking on both
      // sides, term string as total tie-break
      oracle = """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
         tok AS (SELECT doc_id, t AS term FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d) x
           WHERE t <> ''),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM d),
         scored AS (SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(cast(n.n_docs AS double) / dfreq.df), 6) AS tfidf
           FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
         SELECT doc_id, term, tf, tfidf FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
           FROM scored) t WHERE rn <= 5"""),

    // ---- EXT: token-window chunking (context-length preparation) ----
    Gate("q82_token_chunks", (s, dir) =>
      TextOps.chunkTokens(
          Tables.documents(s, dir).filter(col("doc_id") % 20 === 0),
          "doc_id", "text", chunkSize = 50, overlap = 10)
        .select("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens"),
      // token chunking: starts 0, 40, 80 … while start+overlap < n (Spark
      // sequence is bound-inclusive, DuckDB range is stop-exclusive → +1)
      oracle = """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents WHERE doc_id % 20 = 0),
         nn AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
         st AS (SELECT doc_id, toks, n,
             unnest(range(0, greatest(n - 10 - 1, 0) + 1, 40)) AS start
           FROM nn)
         SELECT doc_id, cast(start / 40 AS int) AS chunk_id,
           array_to_string(toks[start + 1 : least(start + 50, n)], ' ') AS chunk_text,
           cast(least(n - start, 50) AS bigint) AS n_chunk_tokens
         FROM st"""),

    // ---- EXT: corpus-relative length-outlier filter ----
    Gate("q84_length_filter", (s, dir) =>
      TextOps.lengthOutlierFilter(Tables.documents(s, dir), "doc_id", "text",
          pLo = 0.05, pHi = 0.95)
        .select("doc_id", "n_tokens"),
      // exact percentile band: Spark percentile == DuckDB quantile_cont
      // (identical linear interpolation, bit-for-bit)
      oracle = """WITH t AS (SELECT doc_id,
           cast(len(list_filter(string_split(text, ' '), x -> x <> '')) AS bigint) AS n_tokens
         FROM documents),
         b AS (SELECT quantile_cont(n_tokens, 0.05) AS lo, quantile_cont(n_tokens, 0.95) AS hi
               FROM t)
         SELECT doc_id, n_tokens FROM t, b
         WHERE n_tokens >= lo AND n_tokens <= hi"""),

    // ---- EXT: source-level (domain) quality filter ----
    Gate("q85_source_filter", (s, dir) =>
      TextOps.filterBySourceQuality(Tables.documents(s, dir),
          "source", "n_chars", minMean = 300.0)
        .select("doc_id", "source"),
      // per-source exact-decimal mean, filter, semi-join back
      oracle = """WITH m AS (SELECT source,
           cast(sum(cast(n_chars AS decimal(18,2))) AS double) / count(*) AS mean_chars
         FROM documents GROUP BY source)
         SELECT d.doc_id, d.source FROM documents d
         JOIN m ON d.source = m.source
         WHERE m.mean_chars >= 300.0"""),

    // ---- EXT: end-to-end corpus-preparation pipeline ----
    Gate("q86_pretrain_pipeline", (s, dir) => {
      // the full composition: length band -> PII scrub -> exact dedup on
      // scrubbed fingerprints -> decontaminate vs the %97 eval slice ->
      // deterministic split. The oracle rebuilds every stage from its
      // already-proven CTE fragments (q84/q56/q27/q59/q54).
      val docs = Tables.documents(s, dir)
      graft.operators.Pipelines.pretrainCorpus(
          docs, "doc_id", "text",
          benchmark = docs.filter(col("doc_id") % 97 === 0), "text")
        .select(col("doc_id"), col("n_tokens"), md5(col("clean_text")).as("clean_md5"),
          col("split"))
    },
      // the pipeline, stage for stage: q84 band -> q56 scrub -> q27-style
      // min-id dedup on the scrubbed fingerprint -> q59 shingle anti-join ->
      // q54 bucket CASE over 0.9/0.05/0.05
      oracle = """WITH t AS (SELECT doc_id, text,
           cast(len(list_filter(string_split(text, ' '), x -> x <> '')) AS bigint) AS n_tokens
         FROM documents),
         b AS (SELECT quantile_cont(n_tokens, 0.05) AS lo, quantile_cont(n_tokens, 0.95) AS hi
               FROM t),
         lengthed AS (SELECT doc_id, text, n_tokens FROM t, b
                      WHERE n_tokens >= lo AND n_tokens <= hi),
         scrub AS (SELECT doc_id, n_tokens,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
           FROM lengthed),
         keep AS (SELECT min(doc_id) AS doc_id FROM scrub
                  GROUP BY md5(regexp_replace(trim(lower(clean_text)), '\s+', ' ', 'g'))),
         dedup AS (SELECT s.doc_id, s.n_tokens, s.clean_text FROM scrub s
                   JOIN keep k ON s.doc_id = k.doc_id),
         bw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 97 = 0),
         bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
                   generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' ')))) AS s
                 FROM bw WHERE len(w) >= 3),
         dw AS (SELECT doc_id, string_split(clean_text, ' ') AS w FROM dedup),
         dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' ')))) AS s
                 FROM dw WHERE len(w) >= 3),
         contaminated AS (SELECT DISTINCT doc_id FROM dsh
                          WHERE s IN (SELECT s FROM bsh)),
         decon AS (SELECT * FROM dedup
                   WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
         SELECT doc_id, n_tokens, md5(clean_text) AS clean_md5,
           CASE WHEN hb < 9000 THEN 'train'
                WHEN hb < 9500 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, n_tokens, clean_text,
                 ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 10000 AS hb
               FROM decon) z"""),

    // ---- EXT: unigram-surprisal quality score (LM-perplexity stand-in) ----
    Gate("q88_unigram_surprisal", (s, dir) =>
      TextOps.unigramSurprisal(Tables.documents(s, dir), "doc_id", "text")
        .select("doc_id", "mean_surprisal", "n_tokens"),
      // surprisal: per-token -ln(p) rounded to 6dp then summed EXACTLY in
      // decimal (double sums are reduction-order-dependent), one division
      oracle = """WITH tok AS (SELECT doc_id, t AS term FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) x
           WHERE t <> ''),
         c AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT sum(c) AS n_total FROM c),
         s AS (SELECT tok.doc_id,
             cast(round(-ln(cast(c.c AS double) / tot.n_total), 6) AS decimal(18,6)) AS s
           FROM tok JOIN c ON tok.term = c.term CROSS JOIN tot)
         SELECT doc_id, cast(sum(s) AS double) / count(*) AS mean_surprisal,
           count(*) AS n_tokens
         FROM s GROUP BY doc_id"""),

    // ---- EXT: substring-level dedup (duplicated token-window spans) ----
    Gate("q89_dup_spans", (s, dir) =>
      TextOps.duplicateSpanStats(Tables.documents(s, dir), "doc_id", "text",
          window = 10)
        .select("doc_id", "n_spans", "n_dup_spans", "dup_ratio"),
      // dup spans: the q82 chunking CTE at overlap 0, span-frequency join,
      // per-doc counts (sum(int) is HUGEINT in DuckDB -> cast to bigint)
      oracle = """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         nn AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
         st AS (SELECT doc_id, toks, n,
             unnest(range(0, greatest(n - 1, 0) + 1, 10)) AS start FROM nn),
         ch AS (SELECT doc_id,
             array_to_string(toks[start + 1 : least(start + 10, n)], ' ') AS chunk_text
           FROM st),
         freq AS (SELECT chunk_text, count(*) AS occ FROM ch GROUP BY 1)
         SELECT doc_id, count(*) AS n_spans,
           cast(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup_spans,
           cast(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS double) / count(*) AS dup_ratio
         FROM ch JOIN freq USING (chunk_text) GROUP BY doc_id"""),
    Gate("q90_drop_dup_spans", (s, dir) =>
      // md5 of the rebuilt text keeps the gate artifact small while still
      // pinning every surviving span and its order exactly
      TextOps.dropDuplicateSpans(Tables.documents(s, dir), "doc_id", "text",
          window = 10)
        .select(col("doc_id"), col("n_spans"), col("n_kept"),
          md5(col("dedup_text")).as("dedup_md5")),
      // drop dup spans: canonical occurrence = min (doc_id, chunk_id) per span
      // text; rebuild via ORDER BY chunk_id (string_agg skips the NULLs the
      // CASE leaves for dropped spans)
      oracle = """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         nn AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
         st AS (SELECT doc_id, toks, n,
             unnest(range(0, greatest(n - 1, 0) + 1, 10)) AS start FROM nn),
         ch AS (SELECT doc_id, cast(start / 10 AS int) AS chunk_id,
             array_to_string(toks[start + 1 : least(start + 10, n)], ' ') AS chunk_text
           FROM st),
         rn AS (SELECT doc_id, chunk_id, chunk_text,
             row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
           FROM ch)
         SELECT doc_id, count(*) AS n_spans,
           cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS bigint) AS n_kept,
           md5(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_id))
             AS dedup_md5
         FROM rn GROUP BY doc_id
         HAVING sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0"""),

    // ---- EXT: sequence packing (two-level distributed prefix sum) ----
    Gate("q91_pack_sequences", (s, dir) =>
      graft.operators.Pipelines.packSequences(
          Tables.documents(s, dir), "doc_id", "text", budget = 512)
        .select("doc_id", "n_tokens", "tok_offset", "seq_first", "seq_last"),
      // pack: ONE global window here is fine for the oracle (DuckDB is
      // single-node); the engine's two-level prefix sum must equal it exactly.
      // '//' = integer division (DuckDB '/' is float)
      oracle = """WITH d AS (SELECT doc_id,
             cast(len(list_filter(string_split(text, ' '), t -> t <> '')) AS bigint)
               AS n_tokens,
             md5(cast(doc_id AS varchar)) AS k
           FROM documents),
         nz AS (SELECT * FROM d WHERE n_tokens > 0),
         o AS (SELECT doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
               AS tok_offset
           FROM nz)
         SELECT doc_id, n_tokens, tok_offset,
           tok_offset // 512 AS seq_first,
           (tok_offset + n_tokens - 1) // 512 AS seq_last
         FROM o"""),

    // ---- EXT: sharded inverted index (retrieval-side posting lists) ----
    Gate("q95_inverted_index", (s, dir) =>
      TextOps.invertedIndex(Tables.documents(s, dir), "doc_id", "text",
          shardSize = 200L)
        .select(col("term"), col("shard"), col("df"),
          md5(array_join(transform(col("postings"), _.cast("string")), ","))
            .as("postings_md5")),
      // inverted index: distinct terms per doc, doc-range shards, postings
      // sorted within shard
      oracle = """WITH t AS (SELECT DISTINCT doc_id, term FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) x
           WHERE term <> '')
         SELECT term, doc_id // 200 AS shard, count(*) AS df,
           md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS postings_md5
         FROM t GROUP BY 1, 2"""),

    // ---- EXT: BM25 ranked retrieval over the corpus ----
    Gate("q96_bm25_topk", (s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "spark window join"), (2L, "hash table scan merge"),
        (3L, "vector stream filter customer")).toDF("query_id", "query_text")
      TextOps.bm25TopK(Tables.spread(s, Tables.documents(s, dir)), "doc_id", "text",
        qs, "query_id", "query_text", k = 10)
    },
      // BM25: tf/dl/df from one tokenize rollup; per-term score rounded to
      // 6 dp and summed as exact decimal (reduction-order-independent), ln is
      // the Lucene non-negative idf; rank ties broken by doc_id
      oracle = """WITH q(query_id, query_text) AS (VALUES
             (1, 'spark window join'), (2, 'hash table scan merge'),
             (3, 'vector stream filter customer')),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT (SELECT cast(count(*) AS double) FROM documents) AS n_docs,
                       (SELECT cast(sum(dl) AS double) / count(*) FROM dl) AS avgdl),
         qt AS (SELECT DISTINCT query_id, term FROM (
                  SELECT cast(query_id AS bigint) AS query_id,
                         unnest(string_split(query_text, ' ')) AS term FROM q) x
                WHERE term <> ''),
         sc AS (SELECT qt.query_id, tf.doc_id,
                  cast(round(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                    * (tf.tf * 2.2)
                    / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)), 6)
                    AS decimal(38,6)) AS s
                FROM qt JOIN dfq USING (term) JOIN tf USING (term)
                  JOIN dl ON tf.doc_id = dl.doc_id, st),
         agg AS (SELECT query_id, doc_id, cast(sum(s) AS double) AS score
                 FROM sc GROUP BY 1, 2)
         SELECT query_id, doc_id, score, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS rank FROM agg) r
         WHERE rank <= 10"""),

    // ---- EXT: text analysis (SURVEY §2.12) ----
    Gate("q30_token_counts", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50),
      oracle = """SELECT token, count(*) AS n FROM
         (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
         GROUP BY token ORDER BY n DESC, token LIMIT 50"""),
    Gate("q31_token_stats", (s, dir) => {
      val t = TextOps.tokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(t).as("n_tokens"),
        size(array_distinct(t)).as("n_distinct"),
        ((length(col("text")) - size(t) + 1).cast("double") /
          greatest(size(t), lit(1))).as("mean_token_len"))
    },
      oracle = """SELECT doc_id,
         cast(len(string_split(text,' ')) as int) AS n_tokens,
         cast(len(list_distinct(string_split(text,' '))) as int) AS n_distinct,
         cast(length(text) - len(string_split(text,' ')) + 1 as double)
           / greatest(len(string_split(text,' ')), 1) AS mean_token_len
         FROM documents"""),
    Gate("q32_lang_profile", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("pred", TextOps.langId(TextOps.tokens(col("text"))))
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n")),
      oracle = """WITH sc AS (SELECT lang,
           len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS en,
           len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS de,
           len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et','est'))) AS fr,
           len(list_filter(string_split(text,' '), x -> x IN ('el','los','las','y','es'))) AS es
           FROM documents)
         SELECT lang,
           CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                WHEN fr >= es AND fr > 0 THEN 'fr'
                WHEN es > 0 THEN 'es' ELSE 'und' END AS pred,
           count(*) AS n
         FROM sc GROUP BY 1, 2"""),
    Gate("q33_quality_score", (s, dir) => {
      val d = Tables.documents(s, dir)
      val cols = TextOps.qualityColumns(col("text"), TextOps.tokens(col("text")))
      d.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    },
      oracle = """WITH d AS (SELECT doc_id, text, string_split(text,' ') AS t FROM documents)
         SELECT doc_id,
           cast(len(t) as int) AS n_tokens,
           cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) as double)
             / greatest(length(text), 1) AS punct_ratio,
           cast(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) as double)
             / greatest(len(t), 1) AS stopword_ratio,
           cast(length(text) - len(t) + 1 as double) / greatest(len(t), 1) AS mean_token_len
         FROM d"""),
    Gate("q34_fingerprint", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      oracle = """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
         FROM documents"""),
    Gate("q35_bag_dedup", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(TextOps.bagFingerprint(TextOps.tokens(col("text"))).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups")),
      oracle = """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1"""),

    // ---- EXT: near-dup dedup (SURVEY §2.12) ----
    Gate("q56_pii_scrub", (s, dir) =>
      // PII scrubbing over a derived fixture (the word-salad corpus contains
      // no real PII, so plant a deterministic email+phone per doc — the op
      // and its oracle still exercise the full scrub).
      Tables.documents(s, dir).select(col("doc_id"),
        md5(TextOps.piiScrub(concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))).as("scrubbed_md5")),
      oracle = """SELECT doc_id, md5(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 text || ' contact user' || cast(doc_id as varchar)
                      || '@example.com or +1-555-'
                      || lpad(cast(doc_id % 10000 as varchar), 4, '0'),
                 'https?://[^ ]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5
         FROM documents"""),
    Gate("q57_repetition", (s, dir) =>
      TextOps.repetitionStats(Tables.spread(s, Tables.documents(s, dir)),
        "doc_id", "text", n = 2),
      oracle = """WITH t0 AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(w)-1), i -> array_to_string(w[i:i+1], ' '))) AS gram
               FROM t0 WHERE len(w) >= 2),
         c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
         SELECT doc_id, cast(sum(c) as bigint) AS n_grams,
           max(c) AS top_gram_count,
           cast(max(c) as double) / sum(c) AS repetition_ratio
         FROM c GROUP BY doc_id"""),
    Gate("q59_decontaminate", (s, dir) => {
      // Benchmark decontamination: every 97th doc plays the eval set; flag
      // training docs sharing any distinct 3-gram with it. The benchmark
      // shingle set broadcasts; the corpus streams once.
      val d = Tables.spread(s, Tables.documents(s, dir))
      TextOps.contaminationHits(
        d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        d.filter(col("doc_id") % 97 === 0), "text", n = 3)
    },
      oracle = """WITH t0 AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' ')))) AS s
                FROM t0 WHERE len(w) >= 3),
         bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
         SELECT doc_id, count(*) AS n_hits FROM sh
         WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bsh)
         GROUP BY doc_id"""),
    Gate("q55_length_quantiles", (s, dir) =>
      // Exact token-length quantiles per language (interpolated percentile —
      // engine-identical to the oracle's quantile_cont). The approximate
      // sketch path (approx_percentile / approx_count_distinct) is the 100 TB
      // variant, spec-asserted against these exact values.
      Tables.documents(s, dir)
        .select(col("lang"), size(TextOps.tokens(col("text"))).as("n_tokens"))
        .groupBy("lang")
        .agg(expr("percentile(n_tokens, array(0.5, 0.9, 0.99))").as("qs"),
          count(lit(1)).as("n"))
        .select(col("lang"), col("n"),
          element_at(col("qs"), 1).as("p50"),
          element_at(col("qs"), 2).as("p90"),
          element_at(col("qs"), 3).as("p99")),
      oracle = """WITH t AS (SELECT lang, len(string_split(text,' ')) AS n_tokens FROM documents)
         SELECT lang, count(*) AS n,
           quantile_cont(n_tokens, 0.5) AS p50,
           quantile_cont(n_tokens, 0.9) AS p90,
           quantile_cont(n_tokens, 0.99) AS p99
         FROM t GROUP BY lang"""),

    // ---- EXT: Zipf rank-frequency slope per language slice ----
    Gate("q288_zipf_slope", (s, dir) =>
      TextOps.zipfSlope(Tables.documents(s, dir), "lang", "text",
        topRanks = 200),
      // Zipf: deterministic ranks, rounded-ln decimal moments, closed-form OLS
      oracle = """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS t
           FROM documents),
         freq AS (SELECT lang, t, count(*) AS f FROM tok WHERE t <> ''
           GROUP BY 1, 2),
         ranked AS (SELECT lang, f,
             row_number() OVER (PARTITION BY lang ORDER BY f DESC, t ASC) AS r
           FROM freq),
         xy AS (SELECT lang,
             cast(round(ln(cast(r AS double)), 6) AS decimal(18,6)) AS x,
             cast(round(ln(cast(f AS double)), 6) AS decimal(18,6)) AS y
           FROM ranked WHERE r <= 200),
         m AS (SELECT lang, cast(count(*) AS bigint) AS n_ranks,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
           FROM xy GROUP BY 1),
         d AS (SELECT lang, n_ranks,
             cast(n_ranks AS double) * cast(sxx AS double)
               - cast(sx AS double) * cast(sx AS double) AS det,
             cast(n_ranks AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double) AS num,
             cast(sx AS double) AS sxd, cast(sy AS double) AS syd
           FROM m)
         SELECT lang, n_ranks, round(num / det, 6) + 0.0 AS zipf_slope,
           round((syd - (num / det) * sxd) / cast(n_ranks AS double), 6) + 0.0
             AS intercept
         FROM d WHERE det > 0"""),

    // ---- EXT: greedy coverage-maximizing subset selection ----
    Gate("q311_greedy_cover", (s, dir) =>
      TextOps.greedyCover(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, rounds = 5),
      oracle = GreedyCoverOracleSql),

    // ---- EXT: keyword-in-context concordance ----
    Gate("q325_kwic", (s, dir) => {
      // every occurrence of the probe term with its ±2-token window — the
      // corpus-inspection primitive behind annotation review and filter
      // debugging ("what does 'spark' actually look like in context").
      // Pure per-row explode; the context slice is clamped array algebra.
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("__w"))
        .select(col("doc_id"), col("__w"),
          posexplode(col("__w")).as(Seq("__p0", "__t")))
        .filter(col("__t") === "spark")
        .withColumn("pos", (col("__p0") + 1).cast("int"))
        .withColumn("__start", greatest(lit(1), col("pos") - 2))
        .withColumn("__end", least(size(col("__w")), col("pos") + 2))
        .select(col("doc_id"), col("pos"),
          array_join(slice(col("__w"), col("__start"),
            col("__end") - col("__start") + 1), " ").as("context"))
    },
      // KWIC: 1-based positions, clamped ±2-token slice
      oracle = """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents),
         p AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos
           FROM t)
         SELECT doc_id, cast(pos AS int) AS pos,
           array_to_string(w[greatest(1, pos - 2):least(len(w), pos + 2)],
             ' ') AS context
         FROM p WHERE w[pos] = 'spark'"""),

    // ---- EXT: Heaps' law vocabulary growth curve ----
    Gate("q351_heaps_law", (s, dir) => {
      // vocabulary size vs corpus size at ten doc-count checkpoints —
      // the sublinear growth every tokenizer-budget plan assumes. No
      // corpus sort: doc_ids are dense 0..n−1, so checkpoints are pure
      // arithmetic on the count; vocab(k) counts words by their
      // FIRST-occurrence doc (one min-agg), tokens(k) sums per-doc
      // counts — both against the broadcast 10-row checkpoint table.
      val docs = Tables.documents(s, dir)
      val cps = docs.agg(count(lit(1)).as("__n"))
        .select(explode(sequence(lit(1), lit(10))).as("checkpoint"),
          col("__n"))
        .select(col("checkpoint").cast("int").as("checkpoint"),
          expr("(__n * checkpoint) div 10").as("__t"))
      val tok = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val fs = tok.groupBy(col("w")).agg(min(col("doc_id")).as("__fd"))
      val dt = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("__c"))
      val v = fs.crossJoin(broadcast(cps))
        .groupBy(col("checkpoint"), col("__t"))
        .agg(sum(when(col("__fd") < col("__t"), 1L).otherwise(0L))
          .as("vocab_size"))
      val tk = dt.crossJoin(broadcast(cps))
        .groupBy(col("checkpoint"))
        .agg(coalesce(sum(when(col("doc_id") < col("__t"), col("__c"))),
          lit(0L)).as("n_tokens_seen"))
      v.join(tk, Seq("checkpoint"))
        .select(col("checkpoint"), col("__t").cast("long").as("n_docs_seen"),
          col("n_tokens_seen"), col("vocab_size"))
    },
      // Heaps: checkpoints are count arithmetic (dense doc_ids), vocab by
      // first-occurrence doc, tokens by per-doc counts — no corpus sort
      oracle = """WITH n1 AS (SELECT cast(count(*) AS bigint) AS n FROM documents),
         cps AS (SELECT cast(unnest(generate_series(1, 10)) AS int)
           AS checkpoint),
         thr AS (SELECT checkpoint, (n * checkpoint) // 10 AS t
           FROM cps CROSS JOIN n1),
         toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         tok AS (SELECT doc_id, w FROM toks WHERE w <> ''),
         fs AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY 1),
         dt AS (SELECT doc_id, cast(count(*) AS bigint) AS c FROM tok
           GROUP BY 1),
         v AS (SELECT checkpoint, t,
             cast(count(CASE WHEN fd < t THEN 1 END) AS bigint)
               AS vocab_size
           FROM fs CROSS JOIN thr GROUP BY 1, 2),
         tk AS (SELECT checkpoint,
             cast(coalesce(sum(CASE WHEN doc_id < t THEN c END), 0)
               AS bigint) AS n_tokens_seen
           FROM dt CROSS JOIN thr GROUP BY 1)
         SELECT v.checkpoint, cast(v.t AS bigint) AS n_docs_seen,
           tk.n_tokens_seen, v.vocab_size
         FROM v JOIN tk USING (checkpoint)"""),

    // ---- EXT: LM-Dirichlet query-likelihood retrieval ----
    Gate("q358_lm_dirichlet", (s, dir) => {
      // the probabilistic retrieval model next to q96's BM25 — same
      // probe queries, same broadcast inverted-index shape, Dirichlet
      // smoothing μ=2000 (Zhai & Lafferty's rank-equivalent scoring)
      import s.implicits._
      val qs = Seq((1L, "spark window join"), (2L, "hash table scan merge"),
        (3L, "vector stream filter customer")).toDF("query_id", "query_text")
      TextOps.lmDirichletTopK(Tables.spread(s, Tables.documents(s, dir)),
        "doc_id", "text", qs, "query_id", "query_text", k = 10)
    },
      // LM-Dirichlet: q96's inverted-index probe shape, Zhai-Lafferty
      // rank-equivalent scoring, integer products inside the ln
      oracle = """WITH q(query_id, query_text) AS (VALUES
             (1, 'spark window join'), (2, 'hash table scan merge'),
             (3, 'vector stream filter customer')),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
         tf AS (SELECT doc_id, term, cast(count(*) AS bigint) AS tf
           FROM tok2 GROUP BY 1, 2),
         dl AS (SELECT doc_id, cast(sum(tf) AS bigint) AS dl FROM tf
           GROUP BY 1),
         cf AS (SELECT term, cast(count(*) AS bigint) AS cf FROM tok2
           GROUP BY 1),
         ct AS (SELECT cast(count(*) AS bigint) AS ctot FROM tok2),
         qt AS (SELECT DISTINCT query_id, term FROM (
             SELECT cast(query_id AS bigint) AS query_id,
               unnest(string_split(query_text, ' ')) AS term FROM q) x
           WHERE term <> ''),
         qm AS (SELECT qt.query_id, qt.term, cf.cf FROM qt JOIN cf
           USING (term)),
         qn AS (SELECT query_id, cast(count(*) AS bigint) AS nq
           FROM qm GROUP BY 1),
         sc AS (
           SELECT qm.query_id, tf.doc_id,
             cast(round(ln(1.0 + cast(tf.tf * ct.ctot AS double)
               / cast(2000 * qm.cf AS double)), 6) AS decimal(18,6)) AS s
           FROM qm JOIN tf USING (term), ct),
         agg AS (SELECT query_id, doc_id, sum(s) AS ssum
           FROM sc GROUP BY 1, 2),
         scored AS (
           SELECT agg.query_id, agg.doc_id,
             round(cast(agg.ssum AS double)
               + cast(qn.nq AS double)
                 * (round(ln(cast(2000 AS double)
                     / cast(dl.dl + 2000 AS double)), 6) + 0.0), 6) + 0.0
               AS score
           FROM agg JOIN qn USING (query_id) JOIN dl USING (doc_id))
         SELECT query_id, doc_id, score, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS rank FROM scored) r
         WHERE rank <= 10"""),

    // ---- EXT: Good–Turing frequency-of-frequencies ----
    Gate("q361_good_turing", (s, dir) => {
      // the smoothing table LM estimators start from: how many bigram
      // types occur r times (r ≤ 10), plus the Good–Turing unseen-mass
      // estimate P₀ = N₁/N — the vocabulary-coverage diagnostic for a
      // training corpus. Bigrams reuse q119's adjacency construction
      // (empties filtered BEFORE pairing).
      val toked = Tables.documents(s, dir)
        .select(org.apache.spark.sql.functions.filter(
          split(col("text"), " "), t => t =!= "").as("__toks"))
        .withColumn("__n", size(col("__toks")))
        .filter(col("__n") >= 2)
      val bg = toked
        .select(col("__toks"),
          explode(sequence(lit(1), col("__n") - 1)).as("__i"))
        .select(concat(element_at(col("__toks"), col("__i")), lit(" "),
          element_at(col("__toks"), col("__i") + 1)).as("__bg"))
      val tf = bg.groupBy(col("__bg")).agg(count(lit(1)).as("__c"))
      val ff = tf.groupBy(col("__c").as("freq"))
        .agg(count(lit(1)).as("n_types"))
      val tot = tf.agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab"))
      val n1 = ff.agg(coalesce(sum(when(col("freq") === 1,
        col("n_types"))), lit(0L)).as("__n1"))
      ff.filter(col("freq") <= 10)
        .crossJoin(broadcast(tot)).crossJoin(broadcast(n1))
        .select(col("freq"), col("n_types"), col("n_tokens"), col("vocab"),
          (round(col("__n1").cast("double") /
            col("n_tokens").cast("double"), 6) + lit(0.0d))
            .as("p0_unseen"))
    },
      // Good-Turing: bigram frequency-of-frequencies (q119's adjacency —
      // empties filtered BEFORE pairing), unseen mass N1/N
      oracle = """WITH d AS (SELECT list_filter(string_split(text, ' '),
             t -> t <> '') AS toks
           FROM documents),
         nn AS (SELECT toks, len(toks) AS n FROM d WHERE len(toks) >= 2),
         bg AS (SELECT toks[i] || ' ' || toks[i + 1] AS bg
           FROM nn, unnest(generate_series(1, n - 1)) AS t(i)),
         tf AS (SELECT bg, cast(count(*) AS bigint) AS c FROM bg
           GROUP BY 1),
         ff AS (SELECT c AS freq, cast(count(*) AS bigint) AS n_types
           FROM tf GROUP BY 1),
         tot AS (SELECT cast(sum(c) AS bigint) AS n_tokens,
             cast(count(*) AS bigint) AS vocab FROM tf),
         n1 AS (SELECT cast(coalesce(
             (SELECT n_types FROM ff WHERE freq = 1), 0) AS bigint) AS n1)
         SELECT ff.freq, ff.n_types, tot.n_tokens, tot.vocab,
           round(cast(n1.n1 AS double) / cast(tot.n_tokens AS double), 6)
             + 0.0 AS p0_unseen
         FROM ff CROSS JOIN tot CROSS JOIN n1
         WHERE ff.freq <= 10"""),

    // ---- EXT: Simpson diversity of token distributions ----
    Gate("q362_simpson_diversity", (s, dir) =>
      // the collision-probability complement to the entropy gates:
      // Simpson's index Σc(c−1)/(N(N−1)) per source — an EXACT rational
      // (unbiased sampling-without-replacement form), one mirrored
      // division at the end.
      Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("__c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"), sum(col("__c")).as("__n"),
          sum(col("__c") * (col("__c") - lit(1))).as("__cc"))
        .select(col("source"), col("vocab"), col("__n").as("n_tokens"),
          (round(col("__cc").cast("double") /
            (col("__n").cast("double") * (col("__n") - lit(1))
              .cast("double")), 6) + lit(0.0d)).as("simpson_index"),
          (round(lit(1.0d) - col("__cc").cast("double") /
            (col("__n").cast("double") * (col("__n") - lit(1))
              .cast("double")), 6) + lit(0.0d)).as("simpson_diversity")),
      // Simpson: exact rational collision probability per source
      oracle = """WITH tok AS (
           SELECT source, unnest(string_split(text, ' ')) AS w
           FROM documents),
         tf AS (SELECT source, w, cast(count(*) AS bigint) AS c FROM tok
           WHERE w <> '' GROUP BY 1, 2),
         m AS (SELECT source, cast(count(*) AS bigint) AS vocab,
             cast(sum(c) AS bigint) AS n,
             cast(sum(c * (c - 1)) AS bigint) AS cc
           FROM tf GROUP BY 1)
         SELECT source, vocab, n AS n_tokens,
           round(cast(cc AS double)
             / (cast(n AS double) * cast(n - 1 AS double)), 6) + 0.0
             AS simpson_index,
           round(1.0 - cast(cc AS double)
             / (cast(n AS double) * cast(n - 1 AS double)), 6) + 0.0
             AS simpson_diversity
         FROM m"""),

    // ---- EXT: Burrows' delta stylometric distance ----
    Gate("q370_burrows_delta", (s, dir) => {
      // the classic authorship-attribution distance between sources:
      // z-scores of the top-20 vocabulary's relative frequencies
      // (9-dp pinned), mean |Δz| per source pair — every join runs on
      // the bounded (sources × 20) grid; the top-20 vocabulary is a
      // deterministic TakeOrdered selection.
      val tok = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val topw = tok.groupBy(col("w")).agg(count(lit(1)).as("__c"))
        .orderBy(col("__c").desc, col("w")).limit(20).select("w")
      val sn = tok.groupBy(col("source")).agg(count(lit(1)).as("__n"))
      val cnt = tok.join(broadcast(topw), Seq("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("__wc"))
      val f = sn.crossJoin(broadcast(topw))
        .join(cnt, Seq("source", "w"), "left_outer")
        .select(col("source"), col("w"),
          round(coalesce(col("__wc"), lit(0L)).cast("double") /
            col("__n").cast("double"), 9).cast("decimal(18,9)").as("__f"))
      val ms = f.groupBy(col("w"))
        .agg(count(lit(1)).as("__ns"), sum(col("__f")).as("__sf"),
          sum(col("__f").cast("decimal(19,9)") * col("__f")).as("__qf"))
      // the z-score is the suite's one knife-edge round: Spark's round()
      // rounds the double's SHORTEST-decimal rendering while DuckDB
      // rounds the binary value, and a z landing ~1e-16 from a 6-dp
      // midpoint flips between them (observed once in 400 cells at
      // sf0.01). The explicit half-away floor formula below is the SAME
      // IEEE op sequence in both engines — no engine round semantics.
      val zRaw = (col("__f").cast("double") -
        col("__sf").cast("double") / col("__ns").cast("double")) /
        sqrt((col("__qf").cast("double") -
          col("__sf").cast("double") * col("__sf").cast("double") /
            col("__ns").cast("double")) /
          col("__ns").cast("double"))
      val z = f.join(broadcast(ms), Seq("w"))
        .select(col("source"), col("w"),
          (when(zRaw >= 0,
            floor(zRaw * lit(1000000.0d) + lit(0.5d)))
            .otherwise(-floor(-zRaw * lit(1000000.0d) + lit(0.5d)))
            .cast("double") / lit(1000000.0d)).as("__z"))
      val a = z.select(col("w"), col("source").as("source_a"),
        col("__z").as("__za"))
      val b = z.select(col("w"), col("source").as("source_b"),
        col("__z").as("__zb"))
      a.join(b, Seq("w"))
        .filter(col("source_a") < col("source_b"))
        .withColumn("__dz",
          round(abs(col("__za") - col("__zb")), 6).cast("decimal(18,6)"))
        .groupBy(col("source_a"), col("source_b"))
        // the mean of EXACT 6-dp decimals over 20 words lands on exact
        // decimal midpoints systematically (sum_micro ≡ 10 mod 20), so
        // round() semantics diverge between engines — same mirrored
        // half-away floor as the z-score
        .agg((floor(sum(col("__dz")).cast("double") /
          count(lit(1)).cast("double") * lit(1000000.0d) + lit(0.5d))
          .cast("double") / lit(1000000.0d) + lit(0.0d))
          .as("burrows_delta"))
    },
      // Burrows' delta: 9-dp pinned top-20 relative frequencies, z-scores
      // from exact decimal moments, mean |dz| on the bounded pair grid
      oracle = """WITH tok AS (
           SELECT source, unnest(string_split(text, ' ')) AS w
           FROM documents),
         tok2 AS (SELECT source, w FROM tok WHERE w <> ''),
         topw AS (
           SELECT w FROM (
             SELECT w, cast(count(*) AS bigint) AS c,
               row_number() OVER (ORDER BY count(*) DESC, w) AS rk
             FROM tok2 GROUP BY w) x
           WHERE rk <= 20),
         sn AS (SELECT source, cast(count(*) AS bigint) AS n FROM tok2
           GROUP BY 1),
         cnt AS (
           SELECT t.source, t.w, cast(count(*) AS bigint) AS c
           FROM tok2 t JOIN topw ON t.w = topw.w
           GROUP BY 1, 2),
         f AS (
           SELECT sn.source, topw.w,
             cast(round(cast(coalesce(cnt.c, 0) AS double)
               / cast(sn.n AS double), 9) AS decimal(18,9)) AS f
           FROM sn CROSS JOIN topw
           LEFT JOIN cnt ON cnt.source = sn.source AND cnt.w = topw.w),
         ms AS (
           SELECT w, cast(count(*) AS bigint) AS ns, sum(f) AS sf,
             sum(cast(f AS decimal(19,9)) * f) AS qf
           FROM f GROUP BY 1),
         zr AS (
           SELECT f.source, f.w,
             (cast(f.f AS double) - cast(ms.sf AS double)
                 / cast(ms.ns AS double))
               / sqrt((cast(ms.qf AS double) - cast(ms.sf AS double)
                   * cast(ms.sf AS double) / cast(ms.ns AS double))
                 / cast(ms.ns AS double)) AS z0
           FROM f JOIN ms USING (w)),
         z AS (
           SELECT source, w,
             CASE WHEN z0 >= 0
               THEN floor(z0 * 1000000.0 + 0.5)
               ELSE -floor(-z0 * 1000000.0 + 0.5) END / 1000000.0 AS z
           FROM zr),
         pairs AS (
           SELECT a.source AS source_a, b.source AS source_b,
             cast(round(abs(a.z - b.z), 6) AS decimal(18,6)) AS dz
           FROM z a JOIN z b ON a.w = b.w AND a.source < b.source)
         SELECT source_a, source_b,
           floor(cast(sum(dz) AS double) / cast(count(*) AS double)
             * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS burrows_delta
         FROM pairs GROUP BY 1, 2"""),

    // ---- EXT: per-doc TF-IDF keyword extraction ----
    Gate("q372_tfidf_keywords", (s, dir) => {
      // the classic keyword extractor next to q96's BM25: top-3 terms
      // per doc by tf·ln(N/df), idf pinned to 6 dp so the per-term score
      // is engine-identical; the top-k is a doc-partitioned
      // WindowGroupLimit, never a global sort.
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.spread(s, Tables.documents(s, dir))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = tok.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("__tf"))
      val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
      val nd = Tables.documents(s, dir).agg(count(lit(1)).as("__n"))
      val sc = tf.join(dfq, Seq("term")).crossJoin(broadcast(nd))
        .withColumn("tfidf",
          round(col("__tf").cast("double") *
            (round(log(col("__n").cast("double") /
              col("__df").cast("double")), 6) + lit(0.0d)), 6) + lit(0.0d))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      sc.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"),
          col("rank").cast("int").as("rank"))
    },
      // TF-IDF keywords: 6-dp pinned idf, doc-partitioned top-3
      oracle = """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' '))
             AS term
           FROM documents),
         tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
         tf AS (SELECT doc_id, term, cast(count(*) AS bigint) AS tf
           FROM tok2 GROUP BY 1, 2),
         dfq AS (SELECT term, cast(count(*) AS bigint) AS df FROM tf
           GROUP BY 1),
         nd AS (SELECT cast(count(*) AS bigint) AS n FROM documents),
         sc AS (
           SELECT tf.doc_id, tf.term,
             round(cast(tf.tf AS double)
               * (round(ln(cast(nd.n AS double) / cast(dfq.df AS double)),
                 6) + 0.0), 6) + 0.0 AS tfidf
           FROM tf JOIN dfq USING (term) CROSS JOIN nd),
         r AS (
           SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, term) AS rk
           FROM sc)
         SELECT doc_id, term, tfidf, cast(rk AS int) AS rank
         FROM r WHERE rk <= 3"""),

    // ---- EXT: Flesch-style readability per source ----
    Gate("q373_readability", (s, dir) => {
      // corpus-quality readability: words/sentence and vowel-group
      // syllables/word (the deterministic syllable heuristic both
      // engines compute identically via the same regexp), folded into
      // the Flesch formula with mirrored literal arithmetic.
      val sent = Tables.documents(s, dir)
        .select(col("source"),
          explode(split(col("text"), "[.!?]+")).as("__s0"))
        .select(col("source"), trim(col("__s0")).as("__s"))
        .filter(col("__s") =!= "")
      val words = sent
        .select(col("source"), explode(split(col("__s"), " ")).as("__w"))
        .filter(col("__w") =!= "")
      val syl = words.withColumn("__sy",
        greatest(size(expr("regexp_extract_all(lower(__w), '[aeiouy]+', 0)"))
          .cast("long"), lit(1L)))
      val sentCnt = sent.groupBy(col("source"))
        .agg(count(lit(1)).as("n_sentences"))
      val wordCnt = syl.groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"), sum(col("__sy")).as("n_syllables"))
      sentCnt.join(wordCnt, Seq("source"))
        .select(col("source"), col("n_sentences"), col("n_words"),
          col("n_syllables"),
          (round(lit(206.835d) -
            lit(1.015d) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6d) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")), 6) + lit(0.0d))
            .as("flesch_score"))
    },
      // readability: [.!?]+ sentences, vowel-group syllables (identical
      // regexp both engines), mirrored Flesch literals
      oracle = """WITH sent AS (
           SELECT source, trim(s) AS s
           FROM (SELECT source,
               unnest(string_split_regex(text, '[.!?]+')) AS s
             FROM documents) x
           WHERE trim(s) <> ''),
         words AS (
           SELECT source, w FROM (
             SELECT source, unnest(string_split(s, ' ')) AS w FROM sent) y
           WHERE w <> ''),
         syl AS (
           SELECT source, w,
             greatest(cast(len(regexp_extract_all(lower(w), '[aeiouy]+'))
               AS bigint), 1) AS sy
           FROM words),
         sc AS (SELECT source, cast(count(*) AS bigint) AS n_sentences
           FROM sent GROUP BY 1),
         wc AS (SELECT source, cast(count(*) AS bigint) AS n_words,
             cast(sum(sy) AS bigint) AS n_syllables
           FROM syl GROUP BY 1)
         SELECT sc.source, sc.n_sentences, wc.n_words, wc.n_syllables,
           round(206.835
             - 1.015 * (cast(wc.n_words AS double)
               / cast(sc.n_sentences AS double))
             - 84.6 * (cast(wc.n_syllables AS double)
               / cast(wc.n_words AS double)), 6) + 0.0 AS flesch_score
         FROM sc JOIN wc USING (source)"""),

    // ---- EXT: language-ID classifier evaluation ----
    langidEval,

    // ---- EXT: lang-ID evaluation summary (micro + macro) ----
    Gate("q390_langid_summary", (s, dir) => {
      // the 1-row report card over q389: micro accuracy Σtp/N and
      // macro-averaged P/R/F1 (undefined per-class values count as 0 —
      // the sklearn zero_division=0 convention). Per-class values are
      // the 6-dp rounded decimals, so the k-class means use the
      // mirrored half-away floor (q370 midpoint lesson).
      val perClass = langidEval.run(s, dir)
        .select(col("support"),
          coalesce(col("precision"), lit(0.0d)).as("__p"),
          col("recall").as("__r"),
          coalesce(col("f1"), lit(0.0d)).as("__f"))
      def fmean(c: org.apache.spark.sql.Column) =
        floor(sum(c.cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double") * lit(1000000.0d) + lit(0.5d))
          .cast("double") / lit(1000000.0d) + lit(0.0d)
      val tpTotal = Tables.documents(s, dir)
        .withColumn("pred", TextOps.langId(TextOps.tokens(col("text"))))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === col("pred"), 1L).otherwise(0L))
            .as("__tp"))
      perClass.agg(count(lit(1)).as("n_classes"),
          fmean(col("__p")).as("macro_precision"),
          fmean(col("__r")).as("macro_recall"),
          fmean(col("__f")).as("macro_f1"))
        .crossJoin(broadcast(tpTotal))
        .select(col("n_docs"), col("n_classes"),
          (round(col("__tp").cast("double") / col("n_docs").cast("double"),
            6) + lit(0.0d)).as("micro_accuracy"),
          col("macro_precision"), col("macro_recall"), col("macro_f1"))
    },
      // lang-ID summary: micro accuracy + floor-mean macro P/R/F1
      // (zero_division=0 convention)
      oracle = """WITH sc AS (SELECT lang,
           len(list_filter(string_split(text,' '),
             x -> x IN ('the','a','of','and','to'))) AS en,
           len(list_filter(string_split(text,' '),
             x -> x IN ('der','die','das','und','ist'))) AS de,
           len(list_filter(string_split(text,' '),
             x -> x IN ('le','la','les','et','est'))) AS fr,
           len(list_filter(string_split(text,' '),
             x -> x IN ('el','los','las','y','es'))) AS es
           FROM documents),
         cm AS (SELECT lang,
           CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0
               THEN 'en'
             WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
             WHEN fr >= es AND fr > 0 THEN 'fr'
             WHEN es > 0 THEN 'es' ELSE 'und' END AS pred,
           cast(count(*) AS bigint) AS n
           FROM sc GROUP BY 1, 2),
         tp AS (SELECT lang AS language, cast(sum(n) AS bigint) AS tp
           FROM cm WHERE lang = pred GROUP BY 1),
         bl AS (SELECT lang AS language, cast(sum(n) AS bigint)
             AS support FROM cm GROUP BY 1),
         bp AS (SELECT pred AS language, cast(sum(n) AS bigint)
             AS predicted FROM cm GROUP BY 1),
         j AS (
           SELECT coalesce(bl.language, bp.language) AS language,
             coalesce(bl.support, 0) AS support,
             coalesce(bp.predicted, 0) AS n_predicted,
             coalesce(tp.tp, 0) AS true_positives
           FROM bl FULL OUTER JOIN bp ON bl.language = bp.language
           LEFT JOIN tp ON coalesce(bl.language, bp.language)
             = tp.language),
         pc AS (
           SELECT support,
             coalesce(CASE WHEN n_predicted > 0 THEN
               round(cast(true_positives AS double)
                 / cast(n_predicted AS double), 6) + 0.0 END, 0.0) AS p,
             round(cast(true_positives AS double)
               / cast(support AS double), 6) + 0.0 AS r,
             coalesce(CASE WHEN n_predicted > 0 AND true_positives > 0
               THEN round(2.0
                 * (round(cast(true_positives AS double)
                   / cast(n_predicted AS double), 6) + 0.0)
                 * (round(cast(true_positives AS double)
                   / cast(support AS double), 6) + 0.0)
                 / ((round(cast(true_positives AS double)
                   / cast(n_predicted AS double), 6) + 0.0)
                   + (round(cast(true_positives AS double)
                     / cast(support AS double), 6) + 0.0)), 6) + 0.0
               END, 0.0) AS f
           FROM j WHERE support > 0),
         mac AS (
           SELECT cast(count(*) AS bigint) AS n_classes,
             floor(cast(sum(cast(p AS decimal(18,6))) AS double)
               / cast(count(*) AS double) * 1000000.0 + 0.5) / 1000000.0
               + 0.0 AS macro_precision,
             floor(cast(sum(cast(r AS decimal(18,6))) AS double)
               / cast(count(*) AS double) * 1000000.0 + 0.5) / 1000000.0
               + 0.0 AS macro_recall,
             floor(cast(sum(cast(f AS decimal(18,6))) AS double)
               / cast(count(*) AS double) * 1000000.0 + 0.5) / 1000000.0
               + 0.0 AS macro_f1
           FROM pc),
         mic AS (
           SELECT cast(sum(support) AS bigint) AS n_docs,
             cast(sum(true_positives) AS bigint) AS tps
           FROM j)
         SELECT mic.n_docs, mac.n_classes,
           round(cast(mic.tps AS double) / cast(mic.n_docs AS double), 6)
             + 0.0 AS micro_accuracy,
           mac.macro_precision, mac.macro_recall, mac.macro_f1
         FROM mac CROSS JOIN mic"""),

    // ---- EXT: BPE merge learning (tokenizer training primitive) ----
    Gate("q391_bpe_merges", (s, dir) => {
      // Sennrich-style greedy BPE over the word-frequency TYPE table:
      // pair counts weighted by corpus frequency, argmax with
      // (count desc, left, right) tie-break, merges applied as exact
      // left-to-right non-overlapping pairing (window-algebra island
      // parity — naive string replace diverges on same-char runs). The
      // state is Heaps-bounded (types, never corpus rows); the oracle
      // unrolls all 6 steps as CTE chains (the q332/q375 generated-oracle
      // discipline).
      val wf = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .select(lower(col("tok")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      TextOps.bpeLearn(wf, steps = 6)
    },
      oracle = BpeOracleSql),

    // ---- EXT: temperature-based source mixing weights ----
    Gate("q392_mix_weights", (s, dir) => {
      // pretraining data mixing: sample sources ∝ n^α (α = 0.5, the
      // multilingual-temperature convention) so small sources are
      // up-weighted without letting any source dominate. Per-source
      // sqrt-mass is 6-dp rounded THEN exact-decimal summed (q88's
      // reduction-order-free contract); effective epochs at a budget of
      // half the corpus tokens shows which sources would repeat.
      val src = Tables.documents(s, dir)
        .select(col("source"), size(TextOps.tokens(col("text"))).as("__nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nt").cast("long")).as("n_tokens"))
        .withColumn("__s",
          round(sqrt(col("n_tokens").cast("double")), 6).cast("decimal(28,6)"))
      val tot = src.agg(sum(col("__s")).as("__tot"),
        sum(col("n_tokens")).as("__ttok"))
      src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (round(col("__s").cast("double") / col("__tot").cast("double"), 6)
            + lit(0.0d)).as("weight"),
          (round((col("__s").cast("double") / col("__tot").cast("double")) *
            (col("__ttok").cast("double") / lit(2.0d)) /
            col("n_tokens").cast("double"), 6) + lit(0.0d)).as("eff_epochs"))
    },
      oracle = """WITH src AS (SELECT source, cast(count(*) AS bigint) AS n_docs,
             cast(sum(len(string_split(text, ' '))) AS bigint) AS n_tokens
           FROM documents GROUP BY 1),
         s2 AS (SELECT *, cast(round(sqrt(cast(n_tokens AS double)), 6)
             AS decimal(28,6)) AS s
           FROM src),
         t AS (SELECT cast(sum(s) AS decimal(38,6)) AS tot,
             cast(sum(n_tokens) AS bigint) AS ttok
           FROM s2)
         SELECT source, n_docs, n_tokens,
           round(cast(s AS double) / cast(tot AS double), 6) + 0.0 AS weight,
           round((cast(s AS double) / cast(tot AS double))
             * (cast(ttok AS double) / 2.0)
             / cast(n_tokens AS double), 6) + 0.0 AS eff_epochs
         FROM s2 CROSS JOIN t"""),

    // ---- EXT: duplicated 8-gram span coverage (exact-substring audit) ----
    Gate("q393_dup_ngram_coverage", (s, dir) => {
      // the Lee-et-al. "Deduplicating Training Data" repeated-substring
      // metric: the share of token positions covered by any 8-gram that
      // appears in ≥ 2 documents. One shuffle on the gram hash finds the
      // duplicated grams; coverage is a per-doc rolling max over the
      // 8-position window (no interval machinery, no join explosion) —
      // exactly the shape that survives a corpus 100× larger.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      val withG = toks.withColumn("ng",
        when(lead(col("tok"), 7).over(w).isNotNull,
          concat_ws(" ", (0 to 7).map(i =>
            if (i == 0) col("tok") else lead(col("tok"), i).over(w)): _*)))
      val dup = withG.filter(col("ng").isNotNull)
        .groupBy(col("ng")).agg(countDistinct(col("doc_id")).as("__nd"))
        .filter(col("__nd") >= 2).select(col("ng").as("__dng"))
      withG.join(dup, col("ng") === col("__dng"), "left")
        .withColumn("__d", when(col("__dng").isNotNull, 1).otherwise(0))
        .withColumn("__cov", max(col("__d")).over(w.rowsBetween(-7, 0)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("__cov")).cast("long").as("n_dup_tokens"))
        .select(col("source"), col("n_tokens"), col("n_dup_tokens"),
          (round(col("n_dup_tokens").cast("double") /
            col("n_tokens").cast("double"), 6) + lit(0.0d))
            .as("dup_token_share"))
    },
      oracle = """WITH toks AS (SELECT doc_id, source, cast(t.i AS int) AS pos, t.tok
           FROM (SELECT doc_id, source, string_split(text, ' ') AS l
             FROM documents),
           LATERAL (SELECT unnest(l) AS tok,
             unnest(range(1, len(l)+1)) AS i) AS t),
         g AS (SELECT doc_id, source, pos,
             CASE WHEN lead(tok, 7) OVER w IS NOT NULL THEN
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w,
                 lead(tok, 3) OVER w, lead(tok, 4) OVER w, lead(tok, 5) OVER w,
                 lead(tok, 6) OVER w, lead(tok, 7) OVER w) END AS ng
           FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         dup AS (SELECT ng FROM g WHERE ng IS NOT NULL
           GROUP BY ng HAVING count(DISTINCT doc_id) >= 2),
         f AS (SELECT g.doc_id, g.source, g.pos,
             CASE WHEN dup.ng IS NOT NULL THEN 1 ELSE 0 END AS d
           FROM g LEFT JOIN dup ON g.ng = dup.ng),
         c AS (SELECT source, max(d) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
           FROM f)
         SELECT source, cast(count(*) AS bigint) AS n_tokens,
           cast(sum(cov) AS bigint) AS n_dup_tokens,
           round(cast(sum(cov) AS double) / cast(count(*) AS double), 6)
             + 0.0 AS dup_token_share
         FROM c GROUP BY 1"""),

    // ---- EXT: tokenizer fertility / compression ratio ----
    Gate("q394_tokenizer_fertility", (s, dir) =>
      // tokenizer evaluation: subword-per-word fertility and chars-per-
      // subword compression — the cheap health check run before committing
      // a tokenizer to a corpus. Runs over customer names (mixed
      // letter/digit/punct tokens — the documents table is pure lowercase
      // words where fertility is trivially 1) per market segment. Exact
      // integer sums, two mirrored divisions at the end.
      Tables.customer(s, dir)
        .select(col("c_mktsegment"),
          size(TextOps.tokens(col("c_name"))).cast("long").as("__ws"),
          size(TextOps.bpeishTokens(col("c_name"))).cast("long").as("__bp"),
          length(col("c_name")).cast("long").as("__ch"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"), sum(col("__ws")).as("ws_tokens"),
          sum(col("__bp")).as("subword_tokens"), sum(col("__ch")).as("chars"))
        .select(col("c_mktsegment"), col("n_rows"), col("ws_tokens"),
          col("subword_tokens"), col("chars"),
          (round(col("subword_tokens").cast("double") /
            col("ws_tokens").cast("double"), 6) + lit(0.0d)).as("fertility"),
          (round(col("chars").cast("double") /
            col("subword_tokens").cast("double"), 6) + lit(0.0d))
            .as("chars_per_subword")),
      oracle = """WITH d AS (SELECT c_mktsegment,
             cast(len(string_split(c_name, ' ')) AS bigint) AS ws,
             cast(len(list_filter(
               regexp_extract_all(c_name, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9]'),
               x -> trim(x) != '')) AS bigint) AS bp,
             cast(length(c_name) AS bigint) AS ch
           FROM customer)
         SELECT c_mktsegment, cast(count(*) AS bigint) AS n_rows,
           cast(sum(ws) AS bigint) AS ws_tokens,
           cast(sum(bp) AS bigint) AS subword_tokens,
           cast(sum(ch) AS bigint) AS chars,
           round(cast(sum(bp) AS double) / cast(sum(ws) AS double), 6)
             + 0.0 AS fertility,
           round(cast(sum(ch) AS double) / cast(sum(bp) AS double), 6)
             + 0.0 AS chars_per_subword
         FROM d GROUP BY 1"""),

    // ---- EXT: BPE compression curve (merges vs corpus subword count) ----
    Gate("q396_bpe_compression", (s, dir) => {
      // the tokenizer-budget diagnostic over q391's learner: corpus
      // subword count after k = 0..6 merges (Σ freq × symbols-per-word) —
      // how much each merge buys. Same Heaps-bounded state chain; each
      // curve point is one sum over a checkpointed vocab-char table.
      val wf = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .select(lower(col("tok")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      TextOps.bpeCompressionCurve(wf, steps = 6)
    },
      oracle = BpeCurveOracleSql),

    // ---- EXT: cross-snapshot n-gram novelty (corpus freshness) ----
    Gate("q398_ngram_novelty", (s, dir) => {
      // crawl-freshness audit: treating doc_id % 4 as the crawl-snapshot
      // id (the suite's deterministic synthetic-arm convention, q329),
      // the share of each snapshot's distinct 8-grams first seen in that
      // snapshot. Gram-hash shuffles only; first-seen is a per-gram min.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("snap"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("ng",
          when(lead(col("tok"), 7).over(w).isNotNull,
            concat_ws(" ", (0 to 7).map(i =>
              if (i == 0) col("tok") else lead(col("tok"), i).over(w)): _*)))
        .filter(col("ng").isNotNull)
        .select(col("snap"), col("ng")).distinct()
      grams
        .withColumn("__first",
          min(col("snap")).over(Window.partitionBy(col("ng"))))
        .groupBy(col("snap").as("snapshot"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("__first") === col("snap"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("snapshot"), col("n_grams"), col("n_novel"),
          (round(col("n_novel").cast("double") /
            col("n_grams").cast("double"), 6) + lit(0.0d))
            .as("novelty_rate"))
    },
      oracle = """WITH toks AS (SELECT doc_id, cast(doc_id % 4 AS int) AS snap,
             cast(t.i AS int) AS pos, t.tok
           FROM (SELECT doc_id, string_split(text, ' ') AS l
             FROM documents),
           LATERAL (SELECT unnest(l) AS tok,
             unnest(range(1, len(l)+1)) AS i) AS t),
         g AS (SELECT snap,
             CASE WHEN lead(tok, 7) OVER w IS NOT NULL THEN
               concat_ws(' ', tok, lead(tok, 1) OVER w, lead(tok, 2) OVER w,
                 lead(tok, 3) OVER w, lead(tok, 4) OVER w, lead(tok, 5) OVER w,
                 lead(tok, 6) OVER w, lead(tok, 7) OVER w) END AS ng
           FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         gs AS (SELECT DISTINCT snap, ng FROM g WHERE ng IS NOT NULL),
         f AS (SELECT *, min(snap) OVER (PARTITION BY ng) AS fs FROM gs)
         SELECT snap AS snapshot, cast(count(*) AS bigint) AS n_grams,
           cast(sum(CASE WHEN fs = snap THEN 1 ELSE 0 END) AS bigint)
             AS n_novel,
           round(cast(sum(CASE WHEN fs = snap THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) + 0.0 AS novelty_rate
         FROM f GROUP BY 1"""),

    // ---- EXT: quality-threshold yield sweep ----
    Gate("q399_quality_yield", (s, dir) => {
      // curation tuning: how many docs/tokens survive a stopword-ratio
      // floor of k/20 for k = 0..4, per source — the parameter-sweep
      // companion to q211's fixed filter chain. The cut is exact integer
      // algebra (20·n_stop ≥ k·n_tokens — the q243 boundary lesson), so
      // no double threshold can straddle engines.
      val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it",
        "that", "for")
      val t = TextOps.tokens(col("text"))
      val d = Tables.documents(s, dir)
        .select(col("source"), size(t).cast("long").as("__nt"),
          size(filter(t, x => x.isInCollection(stop))).cast("long")
            .as("__ns"))
      d.crossJoin(broadcast(s.range(0, 5).select(col("id").as("k"))))
        .filter(col("__ns") * 20L >= col("k") * col("__nt"))
        .groupBy(col("source"), col("k"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
        .select(col("source"), col("k").cast("int").as("k20"),
          col("n_docs"), col("n_tokens"))
    },
      oracle = """WITH d AS (SELECT source,
             cast(len(string_split(text, ' ')) AS bigint) AS nt,
             cast(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
               AS bigint) AS ns
           FROM documents)
         SELECT source, cast(kk.k AS int) AS k20,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(nt) AS bigint) AS n_tokens
         FROM d, LATERAL (SELECT unnest(range(0, 5)) AS k) AS kk
         WHERE ns * 20 >= kk.k * nt
         GROUP BY 1, 2"""),

    // ---- EXT: padding-vs-packing efficiency curve ----
    Gate("q406_packing_efficiency", (s, dir) => {
      // the context-length economics behind q92's packer: at L ∈ {128,
      // 256, 512}, padded batching needs Σ⌈n/L⌉ sequences and wastes the
      // remainder of each, while stream packing needs ⌈Σn/L⌉. All exact
      // integer algebra (ceil via (n + L − 1) div L — no doubles until the
      // final share).
      val d = Tables.documents(s, dir)
        .select(size(TextOps.tokens(col("text"))).cast("long").as("__nt"))
        .filter(col("__nt") > 0)
      val ls = s.range(0, 3).select(
        element_at(array(lit(128L), lit(256L), lit(512L)),
          col("id").cast("int") + 1).as("ctx_len"))
      d.crossJoin(broadcast(ls))
        .groupBy(col("ctx_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("total_tokens"),
          sum(expr("(__nt + ctx_len - 1) div ctx_len")).as("n_seqs_padded"))
        .select(col("ctx_len"), col("n_docs"), col("total_tokens"),
          col("n_seqs_padded"),
          expr("(total_tokens + ctx_len - 1) div ctx_len")
            .as("n_seqs_packed"),
          (round((col("n_seqs_padded") * col("ctx_len") -
            col("total_tokens")).cast("double") /
            (col("n_seqs_padded") * col("ctx_len")).cast("double"), 6)
            + lit(0.0d)).as("padding_share"))
    },
      oracle = """WITH d AS (SELECT cast(len(string_split(text, ' ')) AS bigint) AS nt
           FROM documents WHERE len(string_split(text, ' ')) > 0),
         ls AS (SELECT cast(ll.l AS bigint) AS ctx_len
           FROM (SELECT unnest([128, 256, 512]) AS l) AS ll),
         g AS (SELECT ctx_len, cast(count(*) AS bigint) AS n_docs,
             cast(sum(nt) AS bigint) AS total_tokens,
             cast(sum((nt + ctx_len - 1) // ctx_len) AS bigint)
               AS n_seqs_padded
           FROM d CROSS JOIN ls GROUP BY 1)
         SELECT ctx_len, n_docs, total_tokens, n_seqs_padded,
           cast((total_tokens + ctx_len - 1) // ctx_len AS bigint)
             AS n_seqs_packed,
           round(cast(n_seqs_padded * ctx_len - total_tokens AS double)
             / cast(n_seqs_padded * ctx_len AS double), 6) + 0.0
             AS padding_share
         FROM g"""),

    // ---- EXT: hapax legomena share per source ----
    Gate("q408_hapax_share", (s, dir) =>
      // vocabulary-health diagnostic: the share of each source's word
      // TYPES seen exactly once there — high hapax share flags noisy or
      // fragmentary text. Two hash aggregates, exact integers.
      Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("__c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("vocab"), col("n_hapax"),
          (round(col("n_hapax").cast("double") / col("vocab").cast("double"),
            6) + lit(0.0d)).as("hapax_share")),
      oracle = """WITH w AS (SELECT source, t.w
           FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(w)
           WHERE t.w != ''),
         g AS (SELECT source, w, cast(count(*) AS bigint) AS c
           FROM w GROUP BY 1, 2)
         SELECT source, cast(count(*) AS bigint) AS vocab,
           cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS bigint)
             AS n_hapax,
           round(cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) + 0.0 AS hapax_share
         FROM g GROUP BY 1"""),

    // ---- EXT: Chao1 vocabulary-richness estimate ----
    Gate("q409_chao1_richness", (s, dir) =>
      // how many word types does each source REALLY have, including the
      // unseen ones? Chao1 = V + F1²/(2·F2) from the hapax (F1) and
      // dis-legomena (F2) counts — the species-richness estimator that
      // pairs with the q351 Heaps growth curve and q361 Good-Turing
      // unseen mass. Two hash aggregates; NULL-guarded when F2 = 0.
      Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("__c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
          sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
        .select(col("source"), col("vocab"), col("f1"), col("f2"),
          when(col("f2") > 0,
            round(col("vocab").cast("double") +
              col("f1").cast("double") * col("f1").cast("double") /
              (lit(2.0d) * col("f2").cast("double")), 2) + lit(0.0d))
            .as("chao1_estimate")),
      oracle = """WITH w AS (SELECT source, t.w
           FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(w)
           WHERE t.w != ''),
         g AS (SELECT source, w, cast(count(*) AS bigint) AS c
           FROM w GROUP BY 1, 2)
         SELECT source, cast(count(*) AS bigint) AS vocab,
           cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS bigint) AS f1,
           cast(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS bigint) AS f2,
           CASE WHEN sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0 THEN
             round(cast(count(*) AS double)
               + cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS double)
               * cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS double)
               / (2.0 * cast(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                 AS double)), 2) + 0.0 END AS chao1_estimate
         FROM g GROUP BY 1"""),

    // ---- EXT: largest-remainder token-budget apportionment ----
    Gate("q422_token_apportionment", (s, dir) => {
      // Hamilton (largest-remainder) apportionment of a FIXED training-token
      // budget across sources — the integral companion to q392's real-valued
      // mixing weights: floor shares by exact integer division, then the
      // B − Σfloor leftover units go to the largest remainders
      // (ties broken by source name). Σalloc == B exactly, by construction.
      // Scale: the rank window runs over the source table (dimension-sized
      // by definition); the corpus contributes one hash aggregate.
      // B·tokens stays in int64 here; at larger budgets widen to decimal.
      import org.apache.spark.sql.expressions.Window
      val B = 1000000L
      val src = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(size(graft.operators.TextOps.tokens(col("text")))
          .cast("long")).as("tokens"))
      val tot = src.agg(sum(col("tokens")).as("__t"))
      val based = src.crossJoin(broadcast(tot))
        .withColumn("base_alloc", expr(s"($B * tokens) div __t"))
        .withColumn("__rem",
          expr(s"$B * tokens - (($B * tokens) div __t) * __t"))
      val seats = based.agg((lit(B) - sum(col("base_alloc"))).as("__seats"))
      based.crossJoin(broadcast(seats))
        .withColumn("__rk",
          row_number().over(Window.orderBy(col("__rem").desc, col("source"))))
        .withColumn("extra",
          when(col("__rk") <= col("__seats"), 1L).otherwise(0L))
        .select(col("source"), col("tokens"), col("base_alloc"),
          col("extra"), (col("base_alloc") + col("extra")).as("alloc"))
    },
      oracle = """WITH src AS (SELECT source,
             cast(sum(len(string_split(text, ' '))) AS bigint) AS tokens
           FROM documents GROUP BY 1),
         t AS (SELECT cast(sum(tokens) AS bigint) AS tt FROM src),
         b AS (SELECT source, tokens,
             (1000000 * tokens) // tt AS base_alloc,
             1000000 * tokens - ((1000000 * tokens) // tt) * tt AS rem
           FROM src CROSS JOIN t),
         st AS (SELECT 1000000 - cast(sum(base_alloc) AS bigint) AS seats
           FROM b),
         r AS (SELECT *,
             row_number() OVER (ORDER BY rem DESC, source) AS rk
           FROM b)
         SELECT source, tokens, cast(base_alloc AS bigint) AS base_alloc,
           cast(CASE WHEN rk <= (SELECT seats FROM st)
             THEN 1 ELSE 0 END AS bigint) AS extra,
           cast(base_alloc + CASE WHEN rk <= (SELECT seats FROM st)
             THEN 1 ELSE 0 END AS bigint) AS alloc
         FROM r"""),

    // ---- EXT: dataset card (corpus release summary) ----
    Gate("q432_dataset_card", (s, dir) => {
      // the one-row artifact a training-data release ships: corpus size,
      // composition, duplication and diversity — each field mirrors a
      // gate family elsewhere in the suite (q35 bag fingerprints, q392
      // token convention, q162's pinned per-term entropy rounding). Two
      // scans (token/fingerprint pass + language pass), everything else
      // is scalar algebra over broadcast aggregates.
      val d = Tables.documents(s, dir)
        .withColumn("__tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("__fp", md5(array_join(array_sort(array_distinct(
          split(col("text"), " "))), " ")))
      val base = d.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("__tok")).as("n_tokens"),
        countDistinct(col("__fp")).as("__nfp"))
      val langs = d.groupBy(col("lang")).agg(count(lit(1)).as("__c"))
      val ent = langs.crossJoin(broadcast(base.select(col("n_docs")
          .as("__n"))))
        .agg(sum(round(-(col("__c").cast("double") /
            col("__n").cast("double")) *
          log(col("__c").cast("double") / col("__n").cast("double")), 6)
          .cast("decimal(18,6)")).cast("double").as("lang_entropy"))
      base.crossJoin(broadcast(ent))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("n_tokens"),
          (round(lit(1.0d) - col("__nfp").cast("double") /
            col("n_docs").cast("double"), 6) + lit(0.0d))
            .as("bag_dup_rate"),
          expr("n_tokens div n_docs").as("mean_doc_tokens"),
          col("lang_entropy"))
    },
      oracle = """WITH d AS (SELECT source, lang,
             len(string_split(text, ' ')) AS tok,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS fp
           FROM documents),
         b AS (SELECT cast(count(*) AS bigint) AS n_docs,
             cast(count(DISTINCT source) AS bigint) AS n_sources,
             cast(count(DISTINCT lang) AS bigint) AS n_langs,
             cast(sum(tok) AS bigint) AS n_tokens,
             cast(count(DISTINCT fp) AS bigint) AS nfp
           FROM d),
         lg AS (SELECT lang, count(*) AS c FROM d GROUP BY 1),
         e AS (SELECT cast(sum(cast(round(
               -(cast(c AS double) / cast(b.n_docs AS double)) *
               ln(cast(c AS double) / cast(b.n_docs AS double)), 6)
             AS decimal(18,6))) AS double) AS lang_entropy
           FROM lg CROSS JOIN b)
         SELECT n_docs, n_sources, n_langs, n_tokens,
           round(1.0 - cast(nfp AS double) / cast(n_docs AS double), 6)
             + 0.0 AS bag_dup_rate,
           n_tokens // n_docs AS mean_doc_tokens,
           lang_entropy
         FROM b CROSS JOIN e"""),

    // ---- EXT: corpus boilerplate removal (C4-style shared-span drop) ----
    Gate("q435_boilerplate_removal", (s, dir) => {
      // sub-document dedup, the TRANSFORM q393's coverage audit measures:
      // documents split into 5-token chunks (the line analog for the
      // synthetic corpus), chunks appearing in ≥ 10 DISTINCT documents are
      // boilerplate, and each document is re-emitted without them. The
      // chunk table is corpus-token-sized (one shuffle on the chunk hash
      // computes document frequency); reassembly is a key-partitioned
      // ordered aggregation — document identity via md5 of the cleaned
      // text so the artifact stays narrow.
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("__p", "__w")))
        .withColumn("__chunk", expr("__p div 5"))
      val chunks = toks.groupBy(col("doc_id"), col("__chunk"))
        .agg(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(__p, __w))), t -> t.__w)"))
          .as("__ctext"))
      val df = chunks.groupBy(col("__ctext"))
        .agg(countDistinct(col("doc_id")).as("__df"))
      chunks.join(df, Seq("__ctext"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__df") >= 10, 1L).otherwise(0L)).as("n_removed"),
          md5(concat_ws(" ", expr("transform(array_sort(" +
            "collect_list(CASE WHEN __df < 10 THEN struct(__chunk, __ctext) END))," +
            " t -> t.__ctext)"))).as("cleaned_md5"))
    },
      oracle = """WITH x AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents),
         toks AS (SELECT doc_id, (dd.p - 1) // 5 AS chunk, dd.p AS p, dd.w
           FROM x, LATERAL (SELECT unnest(generate_series(1, len(ws)))
             AS p, unnest(ws) AS w) AS dd),
         chunks AS (SELECT doc_id, chunk,
             string_agg(w, ' ' ORDER BY p) AS ctext
           FROM toks GROUP BY 1, 2),
         dfq AS (SELECT ctext, count(DISTINCT doc_id) AS df
           FROM chunks GROUP BY 1)
         SELECT doc_id, cast(count(*) AS bigint) AS n_chunks,
           cast(sum(CASE WHEN df >= 10 THEN 1 ELSE 0 END) AS bigint)
             AS n_removed,
           md5(coalesce(string_agg(CASE WHEN df < 10 THEN ctext END,
             ' ' ORDER BY chunk), '')) AS cleaned_md5
         FROM chunks JOIN dfq USING (ctext) GROUP BY 1"""),

    // ---- EXT: DoReMi-style domain reweighting (one MW update) ----
    Gate("q446_domain_reweight", (s, dir) =>
      // data-mixture tuning: per-source mean unigram surprisal (the q88
      // loss proxy) drives one multiplicative-weights update
      // w ∝ exp(η·(loss − mean loss)) — up-weight domains the reference
      // model finds hard, the DoReMi recipe's inner step. All boundary
      // math in 1e6-scaled integers (half-away floors both sides).
      graft.operators.TextOps.domainReweight(
        Tables.documents(s, dir), "source", "text", eta = 1.0),
      // DoReMi: q88's token-surprisal CTEs at the source grain; every
      // boundary value fixed in 1e6-scaled integers via mirrored half-away
      // floors, so the MW update is exact-integer until the final quotient
      oracle = """WITH tok AS (SELECT source, t AS term FROM (
             SELECT source, unnest(string_split(text, ' ')) AS t
             FROM documents) x
           WHERE t <> ''),
         c AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT sum(c) AS n_total FROM c),
         s AS (SELECT tok.source,
             cast(round(-ln(cast(c.c AS double) / tot.n_total), 6)
               AS decimal(18,6)) AS s
           FROM tok JOIN c ON tok.term = c.term CROSS JOIN tot),
         loss AS (SELECT source, count(*) AS n_tokens,
             cast(floor(cast(sum(s) AS double) / count(*) * 1000000.0 + 0.5)
               AS bigint) AS lk
           FROM s GROUP BY 1),
         m AS (SELECT sum(lk) AS lsum, count(*) AS ns FROM loss),
         w AS (SELECT source, n_tokens, lk,
             cast(floor(exp(1.0 * (cast(lk AS double)
               - cast(m.lsum AS double) / m.ns) / 1000000.0) * 1000000.0
               + 0.5) AS bigint) AS wk
           FROM loss CROSS JOIN m),
         z AS (SELECT sum(wk) AS z FROM w)
         SELECT source, n_tokens,
           cast(lk AS double) / 1000000.0 AS mean_surprisal,
           floor(cast(wk AS double) / cast(z.z AS double) * 1000000.0 + 0.5)
             / 1000000.0 AS weight
         FROM w CROSS JOIN z"""),

    // ---- EXT: unigram-LM Viterbi segmentation (SentencePiece decode) ----
    Gate("q450_viterbi_segment", (s, dir) =>
      // the tokenizer family's decode half (BPE merge learning is q391):
      // min-surprisal segmentation over a corpus-derived 512-piece
      // vocabulary, reported as the fertility curve per word length
      graft.operators.TextOps.viterbiSegment(
        Tables.documents(s, dir), "text",
        vocabSize = 512, maxLen = 12, maxPiece = 4),
      oracle = viterbiOracleSql(512, 12, 4, "20.000000")),

    // ---- EXT: interpolated Kneser-Ney bigram surprisal ----
    Gate("q496_kneser_ney", (s, dir) =>
      // the Chen-Goodman-winning smoother beside q119's add-k: D=3/4
      // absolute discount + continuation-probability backoff, the whole
      // per-bigram probability ONE integer rational so -ln sees the same
      // double in both engines
      graft.operators.TextOps.kneserNeySurprisal(
        Tables.documents(s, dir), "doc_id", "text"),
      // Kneser-Ney: the q119 CTE skeleton + continuation counts; P as one
      // integer rational (max(4c12-3,0)·Ntot + 3·N1f·Nc) / (4c1·Ntot)
      oracle = """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         nn AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) >= 2),
         bg AS (SELECT doc_id, toks[i] AS t1, toks[i + 1] AS t2
           FROM (SELECT doc_id, toks, unnest(range(1, n)) AS i FROM nn) x),
         c12 AS (SELECT t1, t2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         c1 AS (SELECT t1, count(*) AS c1 FROM bg GROUP BY 1),
         n1f AS (SELECT t1, count(*) AS n1f FROM c12 GROUP BY 1),
         nc AS (SELECT t2, count(*) AS nc FROM c12 GROUP BY 1),
         nt AS (SELECT count(*) AS ntot FROM c12),
         s AS (SELECT bg.doc_id,
             cast(round(-ln(
               cast(greatest(4 * c12.c12 - 3, 0) * nt.ntot
                 + 3 * n1f.n1f * nc.nc AS double) /
               cast(4 * c1.c1 * nt.ntot AS double)), 6)
               AS decimal(18,6)) AS s
           FROM bg JOIN c12 USING (t1, t2) JOIN c1 USING (t1)
             JOIN n1f USING (t1) JOIN nc USING (t2) CROSS JOIN nt)
         SELECT doc_id, cast(sum(s) AS double) / count(*) AS mean_kn_surprisal,
           count(*) AS n_bigrams
         FROM s GROUP BY doc_id"""),

    // ---- EXT: signed hashing-trick n-gram vectorizer ----
    Gate("q503_hashed_ngram_vector", (s, dir) => {
      // the vocabulary-free text→vector bridge (feature hashing,
      // Weinberger et al.): every nonzero component of every document's
      // 64-dim signed bigram-count vector, hash-verified cell by cell
      // against the oracle's md5 bucket+sign recomputation
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextOps.hashedNgramVector(
            TextOps.tokens(col("text")), dim = 64, n = 2))
            .as(Seq("idx", "weight")))
        .filter(col("weight") =!= 0.0d)
    },
      // hashing-trick vectorizer: md5 bucket + sign per bigram, signed
      // integer counts (the tokenHash '0x'||substr(md5…) contract)
      oracle = """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         g AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                 FROM d) x),
         h AS (SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 15))::bigint % 64 AS idx,
             1 - 2 * (('0x' || substr(md5(gram), 16, 1))::int % 2) AS sgn
           FROM g)
         SELECT doc_id, cast(idx AS int) AS idx,
           cast(sum(sgn) AS double) AS weight
         FROM h GROUP BY 1, 2 HAVING sum(sgn) <> 0"""),
  )
}
