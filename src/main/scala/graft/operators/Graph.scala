package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY.md §2.12 (EXT) — iterative graph analytics beyond the dedup
  * family's connected components: PageRank as the representative
  * fixed-point computation (influence/centrality over entity graphs —
  * supplier importance, document citation weight, user interaction hubs).
  *
  * Scale shape: each iteration is one equi-join (edges ⋈ ranks on src) +
  * one hash aggregate (inflow per dst) — the textbook distributed PageRank
  * step. Every iterative operator here runs the [[Iterate]] lifecycle:
  * static tables are pinned once, pre-partitioned on their join keys; loop
  * state is `localCheckpoint`-cut at the operator's cadence (without it
  * iteration k's plan re-executes all k-1 predecessors); exit materializes
  * the result and releases everything else.
  */
object Graph {

  /** Fixed-iteration PageRank over a directed edge list (src, dst) —
    * supply both directions for an undirected walk. Dangling nodes
    * contribute nothing (their mass leaks, the simplest standard variant);
    * every node receives the (1−d)/N teleport term each round.
    *
    * Determinism contract (the q88/q96 summation rule): each edge's
    * contribution r(src)/deg(src) is rounded to 12 dp and summed as an
    * EXACT decimal — double addition is reduction-order-dependent, and an
    * iterative computation would amplify a 1-ulp divergence exponentially
    * across rounds. The teleport+damping combine is plain double arithmetic
    * (same IEEE expression shape in any engine), rounded to 12 dp so each
    * round starts from an identical representable value. */
  def pageRank(edges: DataFrame, iters: Int = 5, d: Double = 0.85): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(d > 0 && d < 1, "damping must be in (0,1)")
    val it = new Iterate("pageRank result")
    // The static tables (edges, degrees, nodes) are pinned; their plans are
    // shallow and static, so keeping lineage (unlike ranks) costs nothing.
    // round-13 (guide §1.2/§2.3): compute each node's contribution ONCE
    // per round, not once per edge. c = round(r/deg, 12)::decimal(38,12)
    // depends only on the SOURCE node, yet the former shape evaluated it
    // per edge row — Round + the decimal cast each allocate BigDecimals,
    // so |E| × iters BigDecimal round-trips dominated the rounds' CPU
    // (OPTIMIZATION_r13.md phase 2, item 2: q111 steady 166 → 42-72
    // CPU-s at sf0.1). The node-sized c-table (deg ⋈ ranks, |V| rows) now
    // carries the READY decimal onto the edge join; the per-edge work is a
    // hash probe + exact decimal sum. The sum is over the identical
    // decimal multiset — exact decimal addition is
    // reduction-order-independent, so the result is bit-identical to the
    // per-edge form.
    // The edge pin is sorted: every round's sort-merge join streams it in
    // place (the former ed = base ⋈ deg pin was sorted as an SMJ
    // byproduct; keeping that property costs one sort at build)
    val e = it.pinOn(edges.select(col("src"), col("dst")), "src")
    // node-sized degree table off the pinned edges — the agg inherits the
    // pin's src-partitioning (no exchange)
    val deg = it.pin(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    // one cached scan emitting both endpoints (round-13): the former
    // union(select src, select dst) scanned the edge pin twice
    val nodes = it.pin(e.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct())
    // one materialization job fills the edge pin and nodes; deg fills off
    // e's cache without an exchange (round-13 job-count trim)
    nodes.count(): Unit
    deg.count(): Unit
    val nc = broadcast(nodes.agg(count(lit(1)).cast("double").as("n_nodes")))
    val ranks0 = nodes.crossJoin(nc)
      .select(col("node"), (lit(1.0d) / col("n_nodes")).as("r"))
    // rounds chain LAZILY (each ranks appears once in the next round's
    // plan — no exponential growth, and no per-round materialization
    // barrier; unlike connectedComponents there is no per-iteration
    // action forcing one). The periodic EAGER cut bounds how many join+agg
    // rounds any single action can re-execute; every-2-rounds keeps the
    // worst-case recompute cliff at 2 rounds (measured: every-4 let one
    // evicted block re-run a 4-round chain, spiking a single iteration
    // 3-7x).
    val ranks = it.rounds(ranks0, iters, cutEvery = 2) { ranks =>
      // per-node contribution (|V| rows): the only place Round/decimal
      // casts run — 1600 evaluations per round instead of 1.17 M at sf0.1
      val ctbl = deg.join(ranks, deg("src") === ranks("node"))
        .select(col("src"),
          round(col("r") / col("deg"), 12).cast("decimal(38,12)").as("c"))
      val contrib = e.join(ctbl, "src")
        .select(col("dst").as("node"), col("c"))
      val inflow = contrib.groupBy(col("node"))
        .agg(sum(col("c")).cast("double").as("inflow"))
      nodes.crossJoin(nc)
        .join(inflow, Seq("node"), "left")
        .select(col("node"),
          round(lit(1.0d - d) / col("n_nodes")
            + lit(d) * coalesce(col("inflow"), lit(0.0d)), 12).as("r"))
    }
    it.finish(ranks)
  }

  /** Shortest-hop distances from a seed set over a directed edge list —
    * the reachability/impact query over entity graphs (which suppliers sit
    * within k hops of a flagged customer; which files descend from a
    * corrupted upload). Frontier-based BFS, the scale-right shape: round k
    * joins ONLY the newly-reached frontier against the edge table, so total
    * work is O(Σ frontier-adjacent edges) = O(|E|) across all rounds, not
    * O(k·|E|) — a full `dist ⋈ edges` per round would rescan settled nodes.
    *
    * Scale shape: edges are pre-partitioned on src and pinned once (the
    * pageRank discipline); each round is one equi-join + distinct + anti-join
    * against the accumulated distance table, with eager localCheckpoint cuts
    * so round k's plan never re-executes rounds 1..k-1. Output: (node, hops)
    * for every node reachable within maxHops, hops = minimum distance. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val it = new Iterate("bfsHops result")
    val e = it.pinOn(edges.select(col("src"), col("dst")), "src")
    e.count(): Unit
    var dist = it.cut(seeds.select(col("node")).distinct()
      .select(col("node"), lit(0).cast("int").as("hops")))
    var frontier = dist
    var k = 1
    var frontierSize = frontier.count()
    while (k <= maxHops && frontierSize > 0) {
      // neighbors of the CURRENT frontier only; distinct before the
      // anti-join bounds the candidate set by |V|, not by edge multiplicity
      val candidates = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
      frontier = it.cut(candidates.join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(k).cast("int").as("hops")))
      // dist IS re-checkpointed per round deliberately: a lazy union of
      // the pinned frontiers was tried in round 12 and measured SLOWER
      // (q371 3.3 → 5.0 s, q145 2.8 → 3.2 s) — the per-round anti-join
      // build side then scans k separate 32-partition frames instead of
      // one compact RDD, and the extra task count outweighs the saved
      // materialization job
      dist = it.cut(dist.union(frontier))
      frontierSize = frontier.count()
      k += 1
    }
    // dist is the last cut, so the result is already materialized
    it.finish(dist, materialize = false)
  }

  /** Per-node triangle counts over an undirected edge list — the clustering
    * signal of the entity graph (a supplier/user embedded in many closed
    * triads is a hub of a tightly-knit group, where PageRank only measures
    * flow). Classic degree-oriented wedge counting:
    *
    *   1. canonicalize to distinct a<b edges;
    *   2. orient every edge from the (degree, id)-SMALLER endpoint to the
    *      larger — a total order, so each triangle has exactly ONE node
    *      with out-edges to the other two;
    *   3. wedges = self-join of oriented edges on the source, ordered so
    *      each unordered {v,w} appears once; a wedge closes iff the
    *      oriented edge v→w exists (equi-join, no θ-join).
    *
    * Scale shape: the orientation bounds every node's out-degree by
    * O(√|E|) on any graph (the arboricity argument behind all large-scale
    * triangle engines), so the wedge self-join — the only superlinear step
    * — is Σ outdeg², minimized exactly by the degree orientation. All
    * joins are shuffled equi-joins on node keys; nothing is broadcast,
    * nothing is quadratic in nodes. Output: (node, degree, triangles),
    * zero-triangle nodes included. */
  /** Bounded-round min-label propagation over an UNDIRECTED edge list
    * (caller supplies both directions) — after `rounds` synchronized
    * rounds every node holds the smallest node id within `rounds` hops;
    * once `rounds` ≥ graph diameter this IS the connected-components
    * labeling (the general-graph sibling of the dedup closure's min-label
    * clustering, Dedup.scala). Fixed rounds keep the computation exactly
    * oracle-expressible (the oracle chains the same K rounds); callers
    * wanting guaranteed convergence compare round k to k−1 and iterate.
    *
    * Scale shape: each round is one src-partitioned equi-join + one hash
    * agg (min is associative — map-side partial); edges pre-partitioned
    * on src and pinned once (the pageRank static-table discipline);
    * labels localCheckpoint-cut every 2 rounds to bound the recompute
    * cliff. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    // Self-loop augmentation (round-13, guide §2.4): the min-label update
    // is new(v) = min(lbl(v), min over incoming lbl(u)) — pinning a
    // self-loop (v,v) per node folds the keep-own-label branch INTO the
    // edge join, so the loop state is referenced ONCE per round (the
    // former shape read lbl twice: push join + unionAll, which both
    // forced an eager node-sized checkpoint EVERY round and scanned an
    // extra union branch). One reference per round means rounds chain
    // lazily without doubling — a cut every 2 rounds, the pageRank
    // discipline — and each round is exactly one join + one agg over the
    // pinned (edges ∪ self-loops) table. min over the augmented in-edges
    // is the identical fixpoint (self-loop carries lbl(v) itself).
    require(rounds >= 1, "need at least one round")
    val it = new Iterate("labelPropagation result")
    val base = edges.select(col("src"), col("dst")).repartition(col("src"))
    // self-loops for EVERY endpoint (src ∪ dst — callers supply symmetric
    // lists, but the augmentation must not assume it); both references to
    // `base` share the one repartition exchange via ReuseExchange, so the
    // upstream edge pipeline still executes once at pin build
    val loops = base.select(explode(array(col("src"), col("dst"))).as("n"))
      .distinct()
      .select(col("n").as("src"), col("n").as("dst"))
    val e = it.pinOn(base.unionAll(loops), "src")
    e.count(): Unit
    // seed the labels from the pinned self-loops, the node set the loop
    // derivation already computed: a filter over the pin, not a distinct
    // over all |E|+|V| rows. An input self-loop repeats its node's row,
    // which round 1's min aggregate absorbs.
    val lbl0 = e.filter(col("src") === col("dst"))
      .select(col("src").as("node"), col("src").as("lbl"))
    val lbl = it.rounds(lbl0, rounds, cutEvery = 2) { lbl =>
      e.join(lbl, e("src") === lbl("node"))
        .select(col("dst").as("node"), col("lbl"))
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
    }
    it.finish(lbl)
  }

  /** Bounded-round multi-source Bellman-Ford over a weighted edge list
    * (src, dst, w — integer weights keep every distance EXACT): after
    * `rounds` relaxations each reachable node holds the cheapest cost to
    * its nearest seed within `rounds` hops — the nearest-facility /
    * influence-radius primitive. Fixed rounds keep it oracle-expressible
    * (the [[labelPropagation]] contract); `rounds` ≥ the weighted-path
    * hop diameter makes it the true shortest-path fixpoint.
    *
    * Scale shape: per round ONE src-partitioned equi-join + one
    * mergeable-min hash agg; edges pinned once (static-table
    * discipline); a lineage cut every 2 rounds (the labelPropagation
    * cadence). Unreached nodes are absent (no ∞ sentinel rows). */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    // Self-loop augmentation (round-13 — the labelPropagation note): a
    // zero-weight self-loop per node folds the keep-own-distance branch
    // into the relax join, so dist is referenced ONCE per round (one join
    // + one mergeable-min agg; no unionAll branch, no per-round eager
    // checkpoint). min(dist(v)+0, relaxed) is the identical fixpoint.
    // Self-loops cover every endpoint AND every seed — a seed with no
    // edges must survive the rounds exactly as the union form kept it.
    require(rounds >= 1, "need at least one round")
    val it = new Iterate("shortestPaths result")
    // one lazy cut of the seeds projection feeds both the self-loops and
    // the initial distances, so the seeds plan runs once: the pin build
    // fills the cut, and round 1 reads it back
    val s = it.cut(seeds.select(col("node")), eager = false)
    val base = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
    val zeroW = lit(0L).cast(base.schema.apply("w").dataType)
    val loops = base.select(explode(array(col("src"), col("dst"))).as("n"))
      .unionAll(s.select(col("node").as("n")))
      .distinct()
      .select(col("n").as("src"), col("n").as("dst"), zeroW.as("w"))
    val e = it.pinOn(base.unionAll(loops), "src")
    e.count(): Unit
    val dist0 = s.select(col("node"), lit(0L).as("dist"))
    val dist = it.rounds(dist0, rounds, cutEvery = 2) { dist =>
      e.join(dist, e("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
    it.finish(dist)
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
    val e1 = oriented.select(col("src").as("u"), col("dst").as("v"), col("dd").as("dv"))
    val e2 = oriented.select(col("src").as("u"), col("dst").as("w"), col("dd").as("dw"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val tris = wedges.join(oriented.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.select(col("v").as("node"), col("d").as("degree"))
      .join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Fixed-round k-core peel — `rounds` synchronous rounds of "drop every
    * node whose degree within the surviving subgraph is < k", returning the
    * survivors with their within-subgraph degree. The k-core is the
    * classic density filter (spam/bot rings, cohesive communities survive;
    * tendrils peel off); a FIXED round count makes the gate deterministic
    * and oracle-mirrorable (the PageRank unrolled-iteration discipline) —
    * on this fixture the peel converges well before the default rounds, so
    * the result IS the true k-core.
    *
    * Scale shape: the symmetric edge list is pre-partitioned on src and
    * pinned once (the q111 static-table discipline); each round is one
    * broadcast-or-shuffle semi-join of edges against the shrinking node
    * set + one map-side-combinable count aggregate. The node set is
    * localCheckpoint-cut every round so round r's plan never replays
    * rounds 1..r−1. Degrees are exact integers end-to-end — nothing to
    * diverge between engines. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(rounds >= 1, "need at least one peel round")
    val it = new Iterate("kCorePeel result")
    val e = it.pinOn(edges.select(col("src"), col("dst")), "src", sorted = false)
    e.count(): Unit
    var deg: DataFrame = null
    // a cut EVERY round (round-13): alive is referenced TWICE per round
    // (one broadcast per semi-join side, and the two broadcasts don't
    // ReuseExchange — their projections differ), so every uncut round's
    // edge-aggregate re-executes once per broadcast build; an eager
    // node-sized cut per round keeps each peel round to exactly one pass
    // over the pinned edges
    it.rounds(e.select(col("src").as("node")).distinct(), rounds, cutEvery = 1) { alive =>
      // the node set is dimension-sized (≤ |V|, shrinking every round):
      // broadcast both semi-join sides so the pinned src-partitioned edge
      // table streams in place — per round ZERO shuffles on the edge side,
      // only the (node, degree) aggregate moves
      deg = e
        .join(broadcast(alive.select(col("node").as("src"))), Seq("src"), "left_semi")
        .join(broadcast(alive.select(col("node").as("dst"))), Seq("dst"), "left_semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= k)
      deg.select(col("node"))
    }: Unit
    it.finish(deg.select(col("node"), col("degree")))
  }

  /** Fixed-iteration HITS (hubs & authorities) over a directed edge list —
    * the bipartite companion to q111's PageRank: a node is a good
    * AUTHORITY if good hubs point at it and vice versa, the natural read
    * on buyer→supplier / query→document graphs where the two roles are
    * asymmetric (PageRank's single score conflates them). Each round is
    * two edge⋈score equi-joins + two mergeable hash aggregates; scores
    * max-normalize so the iteration is scale-free.
    *
    * Determinism (the q111 contract): scores are rounded to 12 dp between
    * rounds and per-edge contributions sum as EXACT decimals (a raw
    * double Σ is reduction-order-dependent and iteration amplifies it);
    * the max-normalizer is an exact decimal max. Edges are pre-partitioned
    * on both roles and pinned once. */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val it = new Iterate("hits result")
    // the iteration joins alternate between the src role (authority pass)
    // and the dst role (hub pass) — ONE partitioning can't serve both, so
    // pin one copy per role (q111's static-table discipline doubled) and
    // per round only the node-sized score table moves
    // distinct AFTER the role repartition (round-13, guide §2.4): hash
    // partitioning on src satisfies the dedup aggregate's clustered
    // distribution on (src, dst) — all copies of a pair share a src — so
    // the distinct piggybacks on the role exchange instead of paying its
    // own (3 exchanges → 2 in the pin build, same distinct edge set)
    val eSrc = it.pin(edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct()
      .sortWithinPartitions(col("src")))
    // the dst-role copy derives from the src copy's cache (round-12,
    // guide §1.2): building both pins from `base` executed the upstream
    // edge build + distinct twice; reading eSrc's cached blocks makes the
    // second pin one reshuffle of the edge list, not a recompute. One
    // materialization job fills BOTH pins (round-13 job-count trim).
    val eDst = it.pinOn(eSrc, "dst")
    eDst.count(): Unit
    val D = "decimal(26,12)"
    var hub = eSrc.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1.0d).cast(D))
    // every raw score table is referenced TWICE (once by its max, once by
    // the normalize) — an eager node-sized cut per half-round keeps the
    // DAG from doubling every half-round (without it the final pass
    // recomputes the base join 2^(2·iters) times; measured 28 s → 2 s at
    // sf0.1). Round-13: the max-normalizer reads the CHECKPOINTED raw
    // scores through a broadcast max aggregate instead of a global window
    // — the former single-partition window exchange serialized every
    // half-round through one task twice (gather + redistribute); the
    // broadcast max is exactly the same decimal max over the same rows,
    // and the cut makes the double reference free. The per-round hub
    // checkpoint is subsumed by the normalize's own cut.
    def normalize(raw: DataFrame, keyCol: String, valCol: String,
                  out: String): DataFrame = {
      val r = it.cut(raw)
      val mx = broadcast(r.agg(max(col(valCol)).as("__m")))
      r.crossJoin(mx).select(col(keyCol).as("node"),
        round(col(valCol).cast("double") / col("__m").cast("double"), 12)
          .cast(D).as(out))
    }
    def authFrom(h: DataFrame, out: String): DataFrame =
      normalize(eSrc.join(h, eSrc("src") === h("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("__a")), "dst", "__a", out)
    (1 to iters).foreach { _ =>
      val auth = authFrom(hub, "a")
      hub = normalize(eDst.join(auth, eDst("dst") === auth("node"))
        .groupBy(col("src")).agg(sum(col("a")).as("__h")), "src", "__h", "h")
    }
    // final authority pass from the converged hubs, then both roles out
    val auth = authFrom(hub, "score")
    it.finish(hub.select(col("node"), lit("hub").as("kind"),
        col("h").cast("double").as("score"))
      .unionByName(auth.select(col("node"), lit("authority").as("kind"),
        col("score").cast("double").as("score"))))
  }
}
