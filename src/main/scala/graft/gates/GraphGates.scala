package graft
package gates

import org.apache.spark.sql.functions._

/** Graph analytics over the customer-supplier purchase graph: BFS,
  * PageRank, label propagation, shortest paths, k-core, HITS and structural
  * statistics. */
object GraphGates {
  /** Generated DuckDB oracle for q111: five unrolled PageRank iterations
    * over the undirected customer↔supplier graph. Float literals are cast
    * to double explicitly — DuckDB evaluates bare `1 - 0.85` in EXACT
    * decimal (0.15), while Spark's `lit(1.0 - 0.85)` is the IEEE double
    * 0.15000000000000002; the casts force the identical IEEE operations. */
  private val PageRankOracleSql: String = {
    val pairSql =
      """SELECT DISTINCT 'c' || cast(o_custkey AS varchar) AS src,
                         's' || cast(l_suppkey AS varchar) AS dst
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""
    val base =
      s"""WITH ed AS (SELECT src, dst FROM ($pairSql) p
            UNION ALL
            SELECT dst AS src, src AS dst FROM ($pairSql) p2),
          deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
          nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) u),
          st AS (SELECT cast(count(*) AS double) AS n FROM nodes),
          r0 AS (SELECT node, cast(1.0 AS double) / st.n AS r FROM nodes, st)"""
    val iterSql = (1 to 5).map { k =>
      s""",
          inf$k AS (SELECT e.dst AS node,
               cast(sum(cast(round(r.r / d.deg, 12) AS decimal(38,12))) AS double) AS inflow
             FROM ed e JOIN r${k - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
             GROUP BY 1),
          r$k AS (SELECT n.node,
               round((cast(1 AS double) - cast(0.85 AS double)) / st.n
                 + cast(0.85 AS double) * coalesce(i.inflow, cast(0 AS double)), 12) AS r
             FROM nodes n CROSS JOIN st LEFT JOIN inf$k i ON n.node = i.node)"""
    }.mkString
    base + iterSql + "\n          SELECT node, r FROM r5"
  }

  /** Generated DuckDB oracle for q296: six unrolled k-core peel rounds over
    * the same undirected customer↔supplier graph as q111 — each round keeps
    * the nodes whose degree WITHIN the surviving subgraph is ≥ k. Pure
    * integer counting, so the Spark loop and this unrolled SQL agree
    * bit-for-bit (the PageRank unrolled-iteration discipline). */
  private val KCoreOracleSql: String = {
    val rounds = 6
    val k = 5
    val base =
      """WITH pairs AS (SELECT DISTINCT 'c' || cast(o_custkey AS varchar) AS src,
               's' || cast(l_suppkey AS varchar) AS dst
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS MATERIALIZED (SELECT src, dst FROM pairs
            UNION ALL SELECT dst AS src, src AS dst FROM pairs),
          n0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges)"""
    val iterSql = (1 to rounds).map { r =>
      s""",
          d$r AS MATERIALIZED (SELECT e.src AS v, cast(count(*) AS bigint) AS c
             FROM edges e
             JOIN n${r - 1} a ON e.src = a.v
             JOIN n${r - 1} b ON e.dst = b.v
             GROUP BY 1),
          n$r AS MATERIALIZED (SELECT v FROM d$r WHERE c >= $k)"""
    }.mkString
    base + iterSql +
      s"\n          SELECT v AS node, c AS degree FROM d$rounds WHERE c >= $k"
  }

  /** Generated DuckDB oracle for q327: three unrolled HITS rounds
    * (authority-from-hubs then hubs-from-authorities, max-normalized and
    * 12-dp-rounded between steps) plus the final authority pass — the
    * PageRank unrolled-iteration discipline on the bipartite graph. */
  private val HitsOracleSql: String = {
    val iters = 3
    val base =
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT 'c' || cast(o_custkey AS varchar) AS src,
               's' || cast(l_suppkey AS varchar) AS dst
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          h0 AS MATERIALIZED (SELECT DISTINCT src AS node,
              cast(1.0 AS decimal(26,12)) AS h FROM pairs)"""
    def aStep(k: Int): String =
      s""",
          a${k}r AS MATERIALIZED (SELECT dst, sum(h) AS a FROM pairs
            JOIN h${k - 1} ON src = node GROUP BY 1),
          a$k AS MATERIALIZED (SELECT dst AS node,
              cast(round(cast(a AS double)
                / cast((SELECT max(a) FROM a${k}r) AS double), 12)
                AS decimal(26,12)) AS a
            FROM a${k}r)"""
    def hStep(k: Int): String =
      s""",
          h${k}r AS MATERIALIZED (SELECT src, sum(a) AS h FROM pairs
            JOIN a$k ON dst = node GROUP BY 1),
          h$k AS MATERIALIZED (SELECT src AS node,
              cast(round(cast(h AS double)
                / cast((SELECT max(h) FROM h${k}r) AS double), 12)
                AS decimal(26,12)) AS h
            FROM h${k}r)"""
    val body = (1 to iters).map(k => aStep(k) + hStep(k)).mkString
    val fin = aStep(iters + 1)
    s"""$base$body$fin
          SELECT node, 'hub' AS kind, cast(h AS double) AS score FROM h$iters
          UNION ALL
          SELECT node, 'authority' AS kind, cast(a AS double) AS score
          FROM a${iters + 1}"""
  }

  /** Round-13 (narrower types): the customer↔supplier graph
    * gates carry node ids as PACKED LONGS through the iterative operators
    * — customer k ↦ 2k, supplier k ↦ 2k+1 — and map back to the declared
    * "c&lt;k&gt;"/"s&lt;k&gt;" strings only in the final node-sized select.
    * String node keys measured ~3× the CPU of longs in every pin build /
    * per-round join / hash aggregate at sf0.1 (string hashing + comparison
    * on 1.17 M cached edge rows per round; OPTIMIZATION_r13.md phase 2,
    * the per-round attribution). The packing is a bijection and every
    * iterative aggregate (decimal sum, min, count) is keyed by EQUALITY
    * only, so grouping by the long key produces the identical groups and
    * identical exact values — results are bit-for-bit the
    * strings-throughout ones (oracle-verified per gate).
    * shiftright/bitwiseAND keep the unpack exact integer math.
    *
    * Caution: that argument holds only while no aggregate VALUE is a node
    * id. A gate whose aggregate values are node ids must not move to
    * packed-long keys without re-deriving its oracle. The min labels of
    * labelPropagation (and Dedup.connectedComponents) are the example:
    * lexicographically "c10" < "c9", while the packed 20 > 18 picks c9, so
    * the chosen representative would change silently. A shortestPaths
    * gate is exposed the same way when it picks seeds by id value (q191
    * keeps node % 97 === 0). */
  private def csNodeStr(n: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(when(n.bitwiseAND(lit(1L)) === 0, lit("c")).otherwise(lit("s")),
      shiftright(n, 1).cast("string"))

  private def cNode(custkey: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = custkey.cast("long") * 2L

  private def sNode(suppkey: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = suppkey.cast("long") * 2L + 1L

  val gates: Seq[Gate] = Seq(
    // ---- EXT: frontier BFS — shortest-hop reachability from a seed set ----
    Gate("q145_bfs_hops", (s, dir) => {
      // same customer↔supplier bipartite graph as q111; seeds = 5 flagged
      // customers, 3 hops (c → s → c → s): "which entities sit within k
      // hops of a flagged account" — the impact-radius query
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      // packed-long node ids through the operator (the csNodeStr note)
      val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(cNode(col("o_custkey")).as("src"),
          sNode(col("l_suppkey")).as("dst")).distinct()
      // symmetrize in ONE pass (round-12): union(pairs,
      // pairs.swapped) executed the lineitem⋈orders join + distinct once
      // per branch inside bfsHops' edge pin; explode emits both directions
      // from a single scan — identical edge multiset
      val edges = pairs.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      val seeds = Tables.customer(s, dir).filter(col("c_custkey") <= 5)
        .select(cNode(col("c_custkey")).as("node"))
      graft.operators.Graph.bfsHops(edges, seeds, maxHops = 3)
        .select(csNodeStr(col("node")).as("node"), col("hops"))
    },
      // BFS: recursive CTE over the same undirected bipartite graph; UNION
      // (not UNION ALL) dedups (node, hops) states, hops < 3 bounds recursion,
      // min(hops) per node = shortest distance — exactly the frontier
      // invariant on the Spark side
      oracle = """WITH RECURSIVE
         p AS (SELECT DISTINCT 'c' || cast(o_custkey AS varchar) AS src,
                 's' || cast(l_suppkey AS varchar) AS dst
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ed AS (SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p),
         bfs(node, hops) AS (
           SELECT 'c' || cast(c_custkey AS varchar) AS node, 0 AS hops
           FROM customer WHERE c_custkey <= 5
           UNION
           SELECT e.dst, b.hops + 1 FROM bfs b JOIN ed e ON e.src = b.node
           WHERE b.hops < 3)
         SELECT node, cast(min(hops) AS int) AS hops FROM bfs GROUP BY node"""),

    // ---- EXT: degree distribution of the customer⋈supplier graph ----
    Gate("q168_degree_dist", (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      // packed-long node ids (the csNodeStr note) — the output is a
      // degree histogram, key-representation-free, so no final map
      val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(cNode(col("o_custkey")).as("src"),
          sNode(col("l_suppkey")).as("dst")).distinct()
      // one-pass symmetrize (round-12; the q145 explode note)
      val edges = pairs.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    },
      // degree distribution over the undirected bipartite graph
      oracle = """WITH pairs AS (SELECT DISTINCT 'c' || o_custkey AS src,
             's' || l_suppkey AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM pairs
           UNION ALL SELECT dst AS src, src AS dst FROM pairs),
         deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1)
         SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1"""),

    // ---- G: bounded-round min-label propagation (connected components) ----
    Gate("q185_label_propagation", (s, dir) => {
      val b = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("it")).distinct()
      val p = b.join(b.select(col("ok"), col("it").as("jt")), Seq("ok"))
        .filter(col("it") < col("jt"))
        .groupBy(col("it"), col("jt")).agg(count(lit(1)).as("n_co"))
        .filter(col("n_co") >= 2)
      // one-pass symmetrize (round-12; the q145 explode note — the
      // copurchase self-join ran once per union branch before)
      val edges = p.select(explode(array(
          struct(col("it").as("src"), col("jt").as("dst")),
          struct(col("jt").as("src"), col("it").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      graft.operators.Graph.labelPropagation(edges, rounds = 10)
    },
      // label propagation: the oracle chains the SAME 10 synchronized
      // min-label rounds the engine runs — equality independent of diameter
      oracle = """WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
             l_partkey AS it FROM lineitem),
         p AS MATERIALIZED (SELECT a.it AS i, c.it AS j
           FROM b a JOIN b c ON a.ok = c.ok
             AND a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS MATERIALIZED (SELECT i AS src, j AS dst FROM p
           UNION ALL SELECT j AS src, i AS dst FROM p),
         l0 AS MATERIALIZED (SELECT node, node AS lbl
           FROM (SELECT DISTINCT src AS node FROM e) n),
         l1 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l0 UNION ALL
             SELECT e.dst, l0.lbl FROM l0 JOIN e ON e.src = l0.node) u
           GROUP BY node),
         l2 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l1 UNION ALL
             SELECT e.dst, l1.lbl FROM l1 JOIN e ON e.src = l1.node) u
           GROUP BY node),
         l3 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l2 UNION ALL
             SELECT e.dst, l2.lbl FROM l2 JOIN e ON e.src = l2.node) u
           GROUP BY node),
         l4 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l3 UNION ALL
             SELECT e.dst, l3.lbl FROM l3 JOIN e ON e.src = l3.node) u
           GROUP BY node),
         l5 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l4 UNION ALL
             SELECT e.dst, l4.lbl FROM l4 JOIN e ON e.src = l4.node) u
           GROUP BY node),
         l6 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l5 UNION ALL
             SELECT e.dst, l5.lbl FROM l5 JOIN e ON e.src = l5.node) u
           GROUP BY node),
         l7 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l6 UNION ALL
             SELECT e.dst, l6.lbl FROM l6 JOIN e ON e.src = l6.node) u
           GROUP BY node),
         l8 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l7 UNION ALL
             SELECT e.dst, l7.lbl FROM l7 JOIN e ON e.src = l7.node) u
           GROUP BY node),
         l9 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l8 UNION ALL
             SELECT e.dst, l8.lbl FROM l8 JOIN e ON e.src = l8.node) u
           GROUP BY node),
         l10 AS MATERIALIZED (SELECT node, min(lbl) AS lbl
           FROM (SELECT node, lbl FROM l9 UNION ALL
             SELECT e.dst, l9.lbl FROM l9 JOIN e ON e.src = l9.node) u
           GROUP BY node)
         SELECT node, lbl FROM l10"""),

    // ---- G: bounded-round multi-source shortest paths (Bellman-Ford) ----
    Gate("q191_shortest_paths", (s, dir) => {
      // copurchase graph, integer edge cost = 1000 div n_co (cheaper =
      // stronger tie); seeds = every 97th part key
      val b = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("it")).distinct()
      // pinned (round-12): the copurchase self-join+agg fed
      // THREE executions before — once per union branch inside
      // shortestPaths' edge pin, plus once more for the seed derivation;
      // the lazy pin (copurchase-pair-sized) plus the one-pass explode
      // symmetrize (the q145 note) make it exactly one execution
      val p = b.join(b.select(col("ok"), col("it").as("jt")), Seq("ok"))
        .filter(col("it") < col("jt"))
        .groupBy(col("it"), col("jt")).agg(count(lit(1)).as("n_co"))
        .filter(col("n_co") >= 2)
        .withColumn("w", expr("1000L div n_co"))
        .localCheckpoint(eager = false)
      val edges = p.select(explode(array(
          struct(col("it").as("src"), col("jt").as("dst"), col("w")),
          struct(col("jt").as("src"), col("it").as("dst"), col("w")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"),
          col("__e.w").as("w"))
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 97 === 0)
      graft.operators.Graph.shortestPaths(edges, seeds, rounds = 6)
    },
      // shortest paths: the oracle chains the SAME 6 relaxation rounds
      // (integer costs -> exact); MATERIALIZED stops exponential CTE inlining
      oracle = """WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
             l_partkey AS it FROM lineitem),
         p AS MATERIALIZED (SELECT a.it AS i, c.it AS j,
             1000 // count(*) AS w
           FROM b a JOIN b c ON a.ok = c.ok AND a.it < c.it
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS MATERIALIZED (SELECT i AS src, j AS dst, w FROM p
           UNION ALL SELECT j AS src, i AS dst, w FROM p),
         d0 AS MATERIALIZED (SELECT node, cast(0 AS bigint) AS dist FROM
           (SELECT DISTINCT src AS node FROM e) n WHERE node % 97 = 0),
         d1 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d0 UNION ALL
           SELECT e.dst, d0.dist + e.w FROM d0 JOIN e ON e.src = d0.node) u
           GROUP BY node),
         d2 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d1 UNION ALL
           SELECT e.dst, d1.dist + e.w FROM d1 JOIN e ON e.src = d1.node) u
           GROUP BY node),
         d3 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d2 UNION ALL
           SELECT e.dst, d2.dist + e.w FROM d2 JOIN e ON e.src = d2.node) u
           GROUP BY node),
         d4 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d3 UNION ALL
           SELECT e.dst, d3.dist + e.w FROM d3 JOIN e ON e.src = d3.node) u
           GROUP BY node),
         d5 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d4 UNION ALL
           SELECT e.dst, d4.dist + e.w FROM d4 JOIN e ON e.src = d4.node) u
           GROUP BY node),
         d6 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d5 UNION ALL
           SELECT e.dst, d5.dist + e.w FROM d5 JOIN e ON e.src = d5.node) u
           GROUP BY node)
         SELECT node, dist FROM d6"""),

    // ---- EXT: per-node triangle counts (degree-oriented wedges) ----
    Gate("q120_triangle_counts", (s, dir) => {
      // supplier co-occurrence graph: an edge between two suppliers that
      // serve the same order (q111's bipartite graph has no triangles by
      // construction; co-occurrence projections are where triads live)
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
      val pairs = li.select(col("ok"), col("sk").as("src"))
        .join(li.select(col("ok"), col("sk").as("dst")), Seq("ok"))
        .filter(col("src") < col("dst"))
        .select("src", "dst")
      graft.operators.Graph.triangleCounts(pairs)
    },
      // triangle counts: same canonicalization, degree orientation ((d, id)
      // lexicographic), ordered wedge self-join, closure equi-join — each
      // triangle found once, every node credited three times
      oracle = """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
           FROM lineitem WHERE l_orderkey % 10 = 0),
         und AS (SELECT DISTINCT x.sk AS a, y.sk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
         deg AS (SELECT v, count(*) AS d FROM (
             SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) z GROUP BY 1),
         o AS (SELECT
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.a ELSE u.b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.b ELSE u.a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN db.d ELSE da.d END AS dd
           FROM und u JOIN deg da ON u.a = da.v JOIN deg db ON u.b = db.v),
         w AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w2
           FROM o e1 JOIN o e2 ON e1.src = e2.src
            AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))),
         tr AS (SELECT w.u, w.v, w.w2 FROM w JOIN o e3 ON w.v = e3.src AND w.w2 = e3.dst),
         n AS (SELECT unnest([u, v, w2]) AS node FROM tr),
         t AS (SELECT node, count(*) AS triangles FROM n GROUP BY 1)
         SELECT deg.v AS node, deg.d AS degree,
           cast(coalesce(t.triangles, 0) AS bigint) AS triangles
         FROM deg LEFT JOIN t ON deg.v = t.node"""),

    // ---- EXT: iterative PageRank over the customer<->supplier graph ----
    Gate("q111_pagerank", (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      // packed-long node ids through the operator, strings only in the
      // final node-sized select (the csNodeStr note — ~3× CPU on every
      // pin build / round join / agg)
      val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(cNode(col("o_custkey")).as("src"),
          sNode(col("l_suppkey")).as("dst")).distinct()
      // one-pass explode symmetrize (round-13): pageRank now unpersists
      // its pins at exit (self-contained invocations — verdict Next #1),
      // so there is no cross-iteration plan-cache reuse left for the
      // union form to protect; per-invocation the explode builds the
      // identical edge multiset in a single execution of the
      // lineitem⋈orders pipeline (A/B-measured this round, see
      // OPTIMIZATION_r13.md)
      val edges = pairs.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      graft.operators.Graph.pageRank(edges, iters = 5, d = 0.85)
        .select(csNodeStr(col("node")).as("node"), col("r"))
    },
      oracle = PageRankOracleSql),

    // ---- EXT: fixed-round k-core peel on the customer↔supplier graph ----
    Gate("q296_kcore_peel", (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      // packed-long node ids through the operator (the csNodeStr note)
      val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(cNode(col("o_custkey")).as("src"),
          sNode(col("l_suppkey")).as("dst")).distinct()
      // one-pass explode symmetrize (round-13 — the q111 note: kCorePeel
      // unpersists its edge pin at exit now, so no cross-iteration reuse
      // remains to protect; one execution of the pair pipeline per
      // invocation)
      val edges = pairs.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      graft.operators.Graph.kCorePeel(edges, k = 5, rounds = 6)
        .select(csNodeStr(col("node")).as("node"), col("degree"))
    },
      oracle = KCoreOracleSql),

    // ---- EXT: HITS hubs & authorities on the buyer→supplier graph ----
    Gate("q327_hits", (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      // packed-long node ids through the operator (the csNodeStr note)
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(cNode(col("o_custkey")).as("src"),
          sNode(col("l_suppkey")).as("dst"))
      graft.operators.Graph.hits(edges, iters = 3)
        .select(csNodeStr(col("node")).as("node"), col("kind"), col("score"))
    },
      oracle = HitsOracleSql),

    // ---- EXT: degree assortativity of the purchase graph ----
    Gate("q352_assortativity", (s, dir) => {
      // do high-degree customers buy from high-degree suppliers? Pearson
      // correlation of endpoint degrees over the distinct customer→
      // supplier edge set (q111's graph) — exact integer moments with
      // decimal(38,0) products, one double division at the end.
      val e = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s2"))
        .distinct()
      val dc = e.groupBy(col("c")).agg(count(lit(1)).as("__x"))
      val ds = e.groupBy(col("s2")).agg(count(lit(1)).as("__y"))
      e.join(dc, Seq("c")).join(ds, Seq("s2"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
          sum(col("__x").cast("decimal(18,0)") *
            col("__y").cast("decimal(19,0)")).as("__sxy"),
          sum(col("__x").cast("decimal(18,0)") *
            col("__x").cast("decimal(19,0)")).as("__sxx"),
          sum(col("__y").cast("decimal(18,0)") *
            col("__y").cast("decimal(19,0)")).as("__syy"))
        .select(col("n_edges"),
          (round(col("__sx").cast("double") /
            col("n_edges").cast("double"), 6) + lit(0.0d))
            .as("mean_deg_cust"),
          (round(col("__sy").cast("double") /
            col("n_edges").cast("double"), 6) + lit(0.0d))
            .as("mean_deg_supp"),
          (round((col("n_edges").cast("double") *
            col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy").cast("double")) /
            sqrt((col("n_edges").cast("double") *
              col("__sxx").cast("double") -
              col("__sx").cast("double") * col("__sx").cast("double")) *
              (col("n_edges").cast("double") *
                col("__syy").cast("double") -
                col("__sy").cast("double") * col("__sy").cast("double"))),
            6) + lit(0.0d)).as("assortativity"))
    },
      // assortativity: exact integer degree moments over the distinct edge
      // set, hugeint products, one double division
      oracle = """WITH e AS (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS s
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         dc AS (SELECT c, cast(count(*) AS bigint) AS degc FROM e
           GROUP BY 1),
         ds AS (SELECT s, cast(count(*) AS bigint) AS degs FROM e
           GROUP BY 1),
         j AS (SELECT degc AS x, degs AS y
           FROM e JOIN dc USING (c) JOIN ds USING (s)),
         m AS (
           SELECT cast(count(*) AS bigint) AS n,
             cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
             sum(cast(x AS hugeint) * y) AS sxy,
             sum(cast(x AS hugeint) * x) AS sxx,
             sum(cast(y AS hugeint) * y) AS syy
           FROM j)
         SELECT n AS n_edges,
           round(cast(sx AS double) / cast(n AS double), 6) + 0.0
             AS mean_deg_cust,
           round(cast(sy AS double) / cast(n AS double), 6) + 0.0
             AS mean_deg_supp,
           round((cast(n AS double) * cast(sxy AS double)
               - cast(sx AS double) * cast(sy AS double))
             / sqrt((cast(n AS double) * cast(sxx AS double)
                 - cast(sx AS double) * cast(sx AS double))
               * (cast(n AS double) * cast(syy AS double)
                 - cast(sy AS double) * cast(sy AS double))), 6) + 0.0
             AS assortativity
         FROM m"""),

    // ---- EXT: global + mean-local clustering coefficient ----
    Gate("q353_clustering_coeff", (s, dir) => {
      // the triad-closure scalars over q120's supplier co-occurrence
      // graph: global C = 3T/W from exact integer wedge/triangle counts,
      // mean local C from 6-dp rounded per-node ratios exactly summed —
      // all on triangleCounts' per-node output (the oriented-wedge join,
      // never an all-pairs pass).
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val pairs = li.select(col("ok"), col("sk").as("src"))
        .join(li.select(col("ok"), col("sk").as("dst")), Seq("ok"))
        .filter(col("src") < col("dst"))
        .select("src", "dst")
      val tc = graft.operators.Graph.triangleCounts(pairs)
      tc.agg(count(lit(1)).as("n_nodes"),
          sum((col("degree") * (col("degree") - lit(1)))
            .cast("decimal(38,0)")).cast("long").as("__dd2"),
          sum(col("triangles")).as("__tri3"),
          sum(when(col("degree") >= 2,
            round((col("triangles") * 2).cast("double") /
              (col("degree") * (col("degree") - lit(1))).cast("double"), 6)
              .cast("decimal(18,6)"))).as("__lcs"),
          sum(when(col("degree") >= 2, 1L).otherwise(0L)).as("__nge2"))
        .select(col("n_nodes"),
          expr("__dd2 div 2").as("n_wedges"),
          expr("__tri3 div 3").as("total_triangles"),
          (round(col("__tri3").cast("double") /
            col("__dd2").cast("double") * lit(2.0d), 6) + lit(0.0d))
            .as("global_cc"),
          (round(col("__lcs").cast("double") /
            col("__nge2").cast("double"), 6) + lit(0.0d))
            .as("avg_local_cc"))
    },
      // clustering: q120's oriented-wedge triangle CTEs + the closure
      // aggregate (global 3T/W, 6-dp rounded local ratios exactly summed)
      oracle = """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
           FROM lineitem WHERE l_orderkey % 10 = 0),
         und AS (SELECT DISTINCT x.sk AS a, y.sk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
         deg AS (SELECT v, count(*) AS d FROM (
             SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) z
           GROUP BY 1),
         o AS (SELECT
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
               THEN u.a ELSE u.b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
               THEN u.b ELSE u.a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
               THEN db.d ELSE da.d END AS dd
           FROM und u JOIN deg da ON u.a = da.v JOIN deg db
             ON u.b = db.v),
         w AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w2
           FROM o e1 JOIN o e2 ON e1.src = e2.src
            AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))),
         tr AS (SELECT w.u, w.v, w.w2 FROM w JOIN o e3
           ON w.v = e3.src AND w.w2 = e3.dst),
         n AS (SELECT unnest([u, v, w2]) AS node FROM tr),
         t AS (SELECT node, count(*) AS triangles FROM n GROUP BY 1),
         pn AS (SELECT deg.v AS node, cast(deg.d AS bigint) AS degree,
             cast(coalesce(t.triangles, 0) AS bigint) AS tri
           FROM deg LEFT JOIN t ON deg.v = t.node),
         agg AS (
           SELECT cast(count(*) AS bigint) AS n_nodes,
             cast(sum(degree * (degree - 1)) AS bigint) AS dd2,
             cast(sum(tri) AS bigint) AS tri3,
             sum(CASE WHEN degree >= 2 THEN
               cast(round(cast(2 * tri AS double)
                 / cast(degree * (degree - 1) AS double), 6)
                 AS decimal(18,6)) END) AS lc_sum,
             cast(count(CASE WHEN degree >= 2 THEN 1 END) AS bigint)
               AS n_ge2
           FROM pn)
         SELECT n_nodes, dd2 // 2 AS n_wedges, tri3 // 3
             AS total_triangles,
           round(cast(tri3 AS double) / cast(dd2 AS double) * 2.0, 6)
             + 0.0 AS global_cc,
           round(cast(lc_sum AS double) / cast(n_ge2 AS double), 6) + 0.0
             AS avg_local_cc
         FROM agg"""),

    // ---- EXT: BFS reach profile + harmonic coverage ----
    Gate("q371_reach_profile", (s, dir) => {
      // the impact-radius readout over q145's bipartite purchase graph:
      // nodes first reached at each hop, cumulative coverage fraction,
      // and the seed set's harmonic reach Σ 1/d — the level-synchronous
      // frontier BFS (a lineage cut per round) plus bounded per-hop
      // aggregates.
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      // pinned: edges feed BOTH bfsHops (which persists its own repartition
      // of them) and the node-count normalizer below — without the pin the
      // li⋈orders join + distinct runs twice
      // packed-long node ids end-to-end (the csNodeStr note) — no node id
      // reaches the output here (hop-level aggregates only), so no final
      // string map is needed; counts/min-hops are key-representation-free
      val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(cNode(col("o_custkey")).as("src"),
          sNode(col("l_suppkey")).as("dst")).distinct()
        .localCheckpoint(eager = false)
      // one-pass symmetrize over the pinned pairs (round-12; the q145
      // explode note — each consumer now scans the pinned blocks once)
      val edges = pairs.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      val seeds = Tables.customer(s, dir).filter(col("c_custkey") <= 5)
        .select(cNode(col("c_custkey")).as("node"))
      val dist = graft.operators.Graph.bfsHops(edges, seeds, maxHops = 4)
      val nv = edges.agg(countDistinct(col("src")).as("__nv"))
      val lvl = dist.groupBy(col("hops")).agg(count(lit(1)).as("n_nodes"))
      val wc = Window.orderBy(col("hops"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val h = dist.filter(col("hops") > 0)
        .agg((round(sum(round(lit(1.0d) / col("hops").cast("double"), 9)
          .cast("decimal(18,9)")).cast("double"), 6) + lit(0.0d))
          .as("harmonic_sum"))
      lvl.withColumn("cum_reached", sum(col("n_nodes")).over(wc))
        .crossJoin(broadcast(nv)).crossJoin(broadcast(h))
        .select(col("hops"), col("n_nodes"), col("cum_reached"),
          (round(col("cum_reached").cast("double") /
            col("__nv").cast("double"), 6) + lit(0.0d)).as("frac_reached"),
          col("harmonic_sum"))
    },
      // reach profile: q145's recursive BFS + per-hop coverage aggregates
      // and the 9-dp rounded harmonic sum
      oracle = """WITH RECURSIVE
         p AS (SELECT DISTINCT 'c' || cast(o_custkey AS varchar) AS src,
             's' || cast(l_suppkey AS varchar) AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ed AS (SELECT src, dst FROM p UNION ALL
           SELECT dst AS src, src AS dst FROM p),
         allv AS (SELECT cast(count(DISTINCT src) AS bigint) AS nv
           FROM ed),
         bfs(node, hops) AS (
           SELECT 'c' || cast(c_custkey AS varchar) AS node, 0 AS hops
           FROM customer WHERE c_custkey <= 5
           UNION
           SELECT e.dst, b.hops + 1 FROM bfs b JOIN ed e ON e.src = b.node
           WHERE b.hops < 4),
         d AS (SELECT node, cast(min(hops) AS int) AS hops FROM bfs
           GROUP BY node),
         lvl AS (SELECT hops, cast(count(*) AS bigint) AS n_nodes FROM d
           GROUP BY 1),
         cum AS (SELECT hops, n_nodes,
             cast(sum(n_nodes) OVER (ORDER BY hops) AS bigint)
               AS cum_reached
           FROM lvl),
         h AS (SELECT round(cast(sum(cast(round(1.0 / cast(hops AS double),
               9) AS decimal(18,9))) AS double), 6) + 0.0 AS harmonic_sum
           FROM d WHERE hops > 0)
         SELECT cum.hops, cum.n_nodes, cum.cum_reached,
           round(cast(cum.cum_reached AS double) / cast(allv.nv AS double),
             6) + 0.0 AS frac_reached,
           h.harmonic_sum
         FROM cum CROSS JOIN allv CROSS JOIN h"""),

    // ---- EXT: time-respecting (temporal) reachability ----
    Gate("q424_temporal_reachability", (s, dir) => {
      // earliest-arrival reachability over a TEMPORAL graph — q145's BFS
      // answers "how far"; this answers "how soon": an edge stamped with
      // month m is traversable only at m ≥ the arrival time at its tail
      // (Pan & Saramäki temporal-path semantics), so reachability depends
      // on edge ORDER in time, not just topology. Min-arrival relaxation
      // is sound because earlier arrival never disables an edge (the
      // condition is monotone in arrival), so each round folds the
      // frontier with groupBy-min — state stays one row per node, never
      // one per path (the oracle enumerates paths; the engine must not).
      // 3 rounds of equi-join + hash agg, lineage cut per round.
      val ord = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"),
        ((year(col("o_orderdate")) - 1995) * 12 +
          month(col("o_orderdate")) - 1).as("m"))
      // packed-long node ids through the relaxation (the csNodeStr note)
      val half = Tables.lineitem(s, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(cNode(col("o_custkey")).as("src"),
          sNode(col("l_suppkey")).as("dst"), col("m"))
        .distinct()
      // one-pass symmetrize (round-12; the q145 explode note): the former
      // union executed the lineitem⋈orders+distinct once per branch when
      // the checkpoint materialized
      val edges = half.select(explode(array(
          struct(col("src"), col("dst"), col("m")),
          struct(col("dst").as("src"), col("src").as("dst"), col("m"))))
          .as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"),
          col("__e.m").as("m"))
        .localCheckpoint(false)
      var state = Tables.customer(s, dir).filter(col("c_custkey") <= 2)
        .select(cNode(col("c_custkey")).as("node"),
          lit(0).as("arr"))
      for (_ <- 1 to 3) {
        val nxt = state.join(edges,
            state("node") === edges("src") && edges("m") >= state("arr"))
          .select(edges("dst").as("node"), edges("m").as("arr"))
        state = state.union(nxt).groupBy(col("node"))
          .agg(min(col("arr")).as("arr")).localCheckpoint(false)
      }
      state.select(csNodeStr(col("node")).as("node"), col("arr").cast("int")
        .as("first_reach_month"))
    },
      // the oracle enumerates temporal paths (recursive CTE, deduped states);
      // the engine must NOT — it folds to min-arrival per node each round.
      oracle = """WITH RECURSIVE
         p AS (SELECT DISTINCT 'c' || cast(o_custkey AS varchar) AS src,
                 's' || cast(l_suppkey AS varchar) AS dst,
                 (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
                   AS m
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ed AS (SELECT src, dst, m FROM p
                UNION ALL SELECT dst, src, m FROM p),
         tr(node, arr, hops) AS (
           SELECT 'c' || cast(c_custkey AS varchar),
             cast(0 AS bigint), 0
           FROM customer WHERE c_custkey <= 2
           UNION
           SELECT e.dst, e.m, t.hops + 1
           FROM tr t JOIN ed e ON e.src = t.node AND e.m >= t.arr
           WHERE t.hops < 3)
         SELECT node, cast(min(arr) AS int) AS first_reach_month
         FROM tr GROUP BY 1"""),

    // ---- EXT: hierarchical path aggregation (critical path to root) ----
    Gate("q431_path_aggregation", (s, dir) => {
      // DAG scheduling analytics WITHOUT iteration: orders form a binary
      // in-tree (parent(k) = k >> 1, the synthetic-arm convention), each
      // node costing its max ship delay; the critical-path cost from a
      // node to the root is the sum of costs along its ancestor chain.
      // Because heap ancestors are CLOSED-FORM (k >> j, j = 0..20), the
      // whole path aggregation is one explode + ONE equi-join + one hash
      // aggregate — the O(n log n) enumeration replaces the log-round
      // pointer-doubling loop entirely; no iteration state at any scale.
      // depth(k) = len(bin(k)) − 1, exact integer algebra on both sides.
      val dur = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderkey") >= 1)
        .groupBy(col("o_orderkey").as("node"))
        .agg(max(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date"))).as("dur"))
      val anc = dur
        .select(col("node"), explode(sequence(lit(0), lit(20))).as("j"))
        .withColumn("anc", expr("shiftright(node, j)"))
        .filter(col("anc") >= 1)
      anc.join(dur.select(col("node").as("anc"), col("dur").as("adur")),
          Seq("anc"))
        .groupBy(col("node"))
        .agg(sum(col("adur")).as("path_cost"))
        .withColumn("depth", (length(bin(col("node"))) - 1).cast("int"))
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("path_cost")).as("total_path_cost"),
          max(col("path_cost")).as("max_path_cost"))
    },
      oracle = """WITH dur AS (SELECT o_orderkey AS node,
             max(date_diff('day', cast(o_orderdate AS date),
               cast(l_shipdate AS date))) AS dur
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderkey >= 1 GROUP BY 1),
         anc AS (SELECT node, j, node >> j AS anc
           FROM dur, (SELECT unnest(range(0, 21)) AS j) js
           WHERE (node >> j) >= 1),
         pc AS (SELECT a.node, cast(sum(d2.dur) AS bigint) AS path_cost
           FROM anc a JOIN dur d2 ON d2.node = a.anc GROUP BY 1)
         SELECT cast(length(bin(node)) - 1 AS int) AS depth,
           cast(count(*) AS bigint) AS n_nodes,
           cast(sum(path_cost) AS bigint) AS total_path_cost,
           cast(max(path_cost) AS bigint) AS max_path_cost
         FROM pc GROUP BY 1"""),
  )
}
