package graft
package gates

import org.apache.spark.sql.functions._
import Gate.D

/** Spatial: bbox and grid joins, point-in-polygon, exact polygon overlap
  * (holes, MultiPolygons), radius joins, geohash and trajectory gates. */
object SpatialGates {
  /** Generated geohash-6 encoder as ONE SQL scalar expression, shared
    * verbatim by the Spark side (`expr`) and the DuckDB oracle except
    * for the integer-division spelling (`div` vs `//`, the only operator
    * the engines name differently). Integer inputs make every step exact:
    * 15-bit lat/lon cells, 30 generated interleave terms in pure
    * div/mod/multiply algebra (no shift operators — Spark and DuckDB
    * disagree on those), base32 chars via substr on the standard
    * alphabet. */
  private def geohashSqlExpr(lon: String, lat: String,
                             intDiv: String): String = {
    val xi = s"((($lon) + 180) * 32768 $intDiv 360)"
    val yi = s"((($lat) + 90) * 32768 $intDiv 180)"
    val bits = (0 until 15).map { b =>
      val pow = 1L << b
      s"(($xi $intDiv $pow) % 2) * ${1L << (2 * b + 1)}" +
        s" + (($yi $intDiv $pow) % 2) * ${1L << (2 * b)}"
    }.mkString(" + ")
    val chars = (0 until 6).map { k =>
      val shift = 1L << (25 - 5 * k)
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz'," +
        s" cast((($bits) $intDiv $shift) % 32 AS int) + 1, 1)"
    }.mkString(", ")
    s"concat($chars)"
  }

  /** Test hook: the Spark-side geohash expression text (SpcWaveSpec's
    * anchor-cell checks). */
  private[graft] def geohashExprForTest(lon: String, lat: String): String =
    geohashSqlExpr(lon, lat, "div")

  /** The fixed AOI pentagon shared by q43 and q70 (an arbitrary convex-ish
    * ring in lon/lat, integer vertices so all derived arithmetic is exact). */
  private val AoiPentagon: Seq[(Double, Double)] =
    Seq((0.0, 0.0), (120.0, 10.0), (140.0, 80.0), (-30.0, 70.0), (-100.0, 20.0))

  /** Interior ring (hole) strictly inside [[AoiPentagon]] for q114's
    * hole-aware overlap gate — big enough that some per-customer triangle
    * footprints fall entirely inside it (those must NOT overlap the AOI
    * region). Integer vertices keep the arithmetic engine-exact. */
  private val AoiHole: Seq[(Double, Double)] =
    Seq((10.0, 15.0), (90.0, 15.0), (90.0, 60.0), (10.0, 60.0))

  /** Generated DuckDB oracle for q70: the polygon-overlap verdict unrolled to
    * scalar SQL — 15 proper-segment-crossing terms (3 triangle edges × 5 AOI
    * edges, strict orientation-sign tests) plus two ray-cast containment
    * probes (triangle vertex A in the AOI; AOI vertex 0 in the triangle),
    * term-for-term the same arithmetic as the native
    * [[graft.functions.PolygonsOverlap]] kernel. Programmatic generation
    * (instead of a hand-written 20-term SQL literal) keeps oracle and engine
    * in lockstep if the fixture polygons change. */
  private def q70OracleSql: String = {
    val pent = AoiPentagon
    // triangle vertices as SQL expressions over the CTE columns
    val tri = Seq(("ax", "ay"), ("(ax + 40)", "(ay + 11)"), ("(ax + 17)", "(ay + 33)"))
    def num(d: Double): String = if (d == d.floor) f"$d%.1f" else d.toString
    // cross(o, d, p) = (dx-ox)*(py-oy) - (dy-oy)*(px-ox), operands as SQL text
    def cross(ox: String, oy: String, dx: String, dy: String,
              px: String, py: String): String =
      s"(($dx - $ox) * ($py - $oy) - ($dy - $oy) * ($px - $ox))"
    // proper crossing of triangle edge (p1,p2) × AOI edge (q1,q2)
    def properCross(p1: (String, String), p2: (String, String),
                    q1: (Double, Double), q2: (Double, Double)): String = {
      val (q1x, q1y) = (num(q1._1), num(q1._2))
      val (q2x, q2y) = (num(q2._1), num(q2._2))
      val d1 = cross(q1x, q1y, q2x, q2y, p1._1, p1._2)
      val d2 = cross(q1x, q1y, q2x, q2y, p2._1, p2._2)
      val d3 = cross(p1._1, p1._2, p2._1, p2._2, q1x, q1y)
      val d4 = cross(p1._1, p1._2, p2._1, p2._2, q2x, q2y)
      s"((($d1 > 0 AND $d2 < 0) OR ($d1 < 0 AND $d2 > 0)) AND (($d3 > 0 AND $d4 < 0) OR ($d3 < 0 AND $d4 > 0)))"
    }
    val triEdges = tri.indices.map(i => (tri((i + tri.size - 1) % tri.size), tri(i)))
    val pentEdges = pent.indices.map(i => (pent((i + pent.size - 1) % pent.size), pent(i)))
    val crossings = (for {
      (p1, p2) <- triEdges
      (q1, q2) <- pentEdges
    } yield properCross(p1, p2, q1, q2)).mkString("(", "\n OR ", ")")
    // ray-cast of point (px,py) against the fixed pentagon: the q43 unroll,
    // edge (pi, pj) with j = i-1 wrapping — identical to the kernel's loop
    def pointInPent(px: String, py: String): String =
      pent.indices.map { i =>
        val (xi, yi) = pent(i); val (xj, yj) = pent((i + pent.size - 1) % pent.size)
        s"(CASE WHEN ((${num(yi)} > $py) != (${num(yj)} > $py)) AND $px < (${num(xj)} - ${num(xi)}) * ($py - ${num(yi)}) / (${num(yj)} - ${num(yi)}) + ${num(xi)} THEN 1 ELSE 0 END)"
      }.mkString("((", "\n + ", s") % 2 = 1)")
    // ray-cast of a fixed pentagon vertex against the triangle (column exprs)
    def pointInTri(px: String, py: String): String =
      tri.indices.map { i =>
        val (xi, yi) = tri(i); val (xj, yj) = tri((i + tri.size - 1) % tri.size)
        s"(CASE WHEN (($yi > $py) != ($yj > $py)) AND $px < ($xj - $xi) * ($py - $yi) / ($yj - $yi) + $xi THEN 1 ELSE 0 END)"
      }.mkString("((", "\n + ", s") % 2 = 1)")
    val aInPent = pointInPent("ax", "ay")
    val p0InTri = pointInTri(num(pent.head._1), num(pent.head._2))
    s"""WITH t AS (SELECT c_custkey,
         cast(c_custkey * 19 % 300 - 160 as double) AS ax,
         cast(c_custkey * 31 % 140 - 75 as double) AS ay
       FROM customer)
       SELECT c_custkey FROM t
       WHERE $crossings
          OR $aInPent
          OR $p0InTri"""
  }

  /** Second, disjoint AOI component for q118's MultiPolygon gate — sits in
    * the triangle coordinate range's south-west corner, far from
    * [[AoiPentagon]]. Integer vertices keep the arithmetic engine-exact. */
  private val AoiQuad: Seq[(Double, Double)] =
    Seq((-160.0, -70.0), (-110.0, -70.0), (-110.0, -30.0), (-160.0, -30.0))

  /** Generated WHERE-clause for "the per-customer triangle overlaps the
    * region of `poly`" (ring 0 exterior, rest holes), unrolled to scalar
    * SQL term-for-term with [[graft.functions.PolygonsOverlapFull]]:
    * proper-crossing terms (3 triangle edges × every ring edge), triangle
    * vertex probes (NOT on any ring edge, ray-cast in the exterior AND NOT
    * in any hole) and ring-vertex probes against the triangle (NOT on any
    * triangle edge, then ray-cast) — including the kernel's on-boundary
    * probe skip; the identical-rings fallback cannot fire for these
    * fixtures and is omitted. Programmatic generation keeps oracle and
    * kernel in lockstep if fixtures change. */
  private def triOverlapsPolySql(poly: Seq[Seq[(Double, Double)]]): String = {
    val tri = Seq(("ax", "ay"), ("(ax + 40)", "(ay + 11)"), ("(ax + 17)", "(ay + 33)"))
    def num(d: Double): String = if (d == d.floor) f"$d%.1f" else d.toString
    def cross(ox: String, oy: String, dx: String, dy: String,
              px: String, py: String): String =
      s"(($dx - $ox) * ($py - $oy) - ($dy - $oy) * ($px - $ox))"
    def properCross(p1: (String, String), p2: (String, String),
                    q1: (Double, Double), q2: (Double, Double)): String = {
      val (q1x, q1y) = (num(q1._1), num(q1._2))
      val (q2x, q2y) = (num(q2._1), num(q2._2))
      val d1 = cross(q1x, q1y, q2x, q2y, p1._1, p1._2)
      val d2 = cross(q1x, q1y, q2x, q2y, p2._1, p2._2)
      val d3 = cross(p1._1, p1._2, p2._1, p2._2, q1x, q1y)
      val d4 = cross(p1._1, p1._2, p2._1, p2._2, q2x, q2y)
      s"((($d1 > 0 AND $d2 < 0) OR ($d1 < 0 AND $d2 > 0)) AND (($d3 > 0 AND $d4 < 0) OR ($d3 < 0 AND $d4 > 0)))"
    }
    val triEdges = tri.indices.map(i => (tri((i + tri.size - 1) % tri.size), tri(i)))
    def ringEdges(r: Seq[(Double, Double)]) =
      r.indices.map(i => (r((i + r.size - 1) % r.size), r(i)))
    val crossings = (for {
      (p1, p2) <- triEdges
      ring <- poly
      (q1, q2) <- ringEdges(ring)
    } yield properCross(p1, p2, q1, q2)).mkString("(", "\n OR ", ")")
    def pointInFixedRing(ring: Seq[(Double, Double)], px: String, py: String): String =
      ring.indices.map { i =>
        val (xi, yi) = ring(i); val (xj, yj) = ring((i + ring.size - 1) % ring.size)
        s"(CASE WHEN ((${num(yi)} > $py) != (${num(yj)} > $py)) AND $px < (${num(xj)} - ${num(xi)}) * ($py - ${num(yi)}) / (${num(yj)} - ${num(yi)}) + ${num(xi)} THEN 1 ELSE 0 END)"
      }.mkString("((", "\n + ", ") % 2 = 1)")
    def pointInTri(px: String, py: String): String =
      tri.indices.map { i =>
        val (xi, yi) = tri(i); val (xj, yj) = tri((i + tri.size - 1) % tri.size)
        s"(CASE WHEN (($yi > $py) != ($yj > $py)) AND $px < ($xj - $xi) * ($py - $yi) / ($yj - $yi) + $xi THEN 1 ELSE 0 END)"
      }.mkString("((", "\n + ", ") % 2 = 1)")
    // point exactly ON an edge: collinear and inside the edge bbox — probe
    // vertices on the other boundary are SKIPPED, the kernel's convention
    def onEdge(px: String, py: String, x1: String, y1: String,
               x2: String, y2: String): String =
      s"(($x2 - $x1) * ($py - $y1) - ($y2 - $y1) * ($px - $x1) = 0" +
        s" AND $px >= least($x1, $x2) AND $px <= greatest($x1, $x2)" +
        s" AND $py >= least($y1, $y2) AND $py <= greatest($y1, $y2))"
    def onFixedRings(px: String, py: String): String =
      poly.flatMap(ringEdges).map { case (q1, q2) =>
        onEdge(px, py, num(q1._1), num(q1._2), num(q2._1), num(q2._2))
      }.mkString("(", "\n OR ", ")")
    def onTriEdges(px: String, py: String): String =
      triEdges.map { case (p1, p2) =>
        onEdge(px, py, p1._1, p1._2, p2._1, p2._2)
      }.mkString("(", "\n OR ", ")")
    val triProbes = tri.map { case (px, py) =>
      val inRegion = (s"${pointInFixedRing(poly.head, px, py)}" +:
        poly.tail.map(h => s"NOT ${pointInFixedRing(h, px, py)}")).mkString(" AND ")
      s"(NOT ${onFixedRings(px, py)} AND $inRegion)"
    }.mkString("(", "\n OR ", ")")
    val ringProbes = poly.flatten.map { case (x, y) =>
      s"(NOT ${onTriEdges(num(x), num(y))} AND ${pointInTri(num(x), num(y))})"
    }.mkString("(", "\n OR ", ")")
    s"($crossings\n OR $triProbes\n OR $ringProbes)"
  }

  private def triangleAoiCte: String =
    """WITH t AS (SELECT c_custkey,
         cast(c_custkey * 19 % 300 - 160 as double) AS ax,
         cast(c_custkey * 31 % 140 - 75 as double) AS ay
       FROM customer)
       SELECT c_custkey FROM t"""

  /** q114 oracle: the hole-aware verdict against the holed pentagon. */
  private def q114OracleSql: String =
    s"""$triangleAoiCte
       WHERE ${triOverlapsPolySql(Seq(AoiPentagon, AoiHole))}"""

  /** q118 oracle: MultiPolygon = holed pentagon ∪ disjoint quad; a union of
    * polygons overlaps iff SOME component does — the exists() composition
    * [[graft.operators.Spatial.multiPolygonsOverlap]] evaluates. */
  private def q118OracleSql: String =
    s"""$triangleAoiCte
       WHERE ${triOverlapsPolySql(Seq(AoiPentagon, AoiHole))}
          OR ${triOverlapsPolySql(Seq(AoiQuad))}"""

  val gates: Seq[Gate] = Seq(
    // ---- exact polygon×polygon overlap (§2.9; the last spatial gap) ----
    Gate("q70_polygon_overlap", (s, dir) => {
      // AOI-polygon × scene-footprint join: per-customer triangle footprints
      // against the fixed pentagon AOI (q43's), through the bbox-prefilter +
      // exact ring-overlap polygonJoin. Integer-derived coordinates keep the
      // arithmetic engine-exact; the oracle unrolls the identical
      // proper-crossing and ray-cast terms (generated, see q70OracleSql).
      val t = Tables.customer(s, dir).select(col("c_custkey"),
          (col("c_custkey") * 19 % 300 - 160).cast("double").as("ax"),
          (col("c_custkey") * 31 % 140 - 75).cast("double").as("ay"))
        .withColumn("ring", array(
          array(col("ax"), col("ay")),
          array(col("ax") + 40, col("ay") + 11),
          array(col("ax") + 17, col("ay") + 33)))
        .withColumn("bbox", struct(
          col("ax").as("min_lon"), col("ay").as("min_lat"),
          (col("ax") + 40).as("max_lon"), (col("ay") + 33).as("max_lat")))
      val aoi = s.range(1).select(
        array(AoiPentagon.map { case (x, y) =>
          array(lit(x), lit(y)) }: _*).as("aoi_ring"),
        struct(lit(-100.0).as("min_lon"), lit(0.0).as("min_lat"),
          lit(140.0).as("max_lon"), lit(80.0).as("max_lat")).as("aoi_bbox"))
      graft.operators.Spatial.polygonJoin(
          t, col("ring"), col("bbox"), aoi, col("aoi_ring"), col("aoi_bbox"))
        .select("c_custkey")
    },
      oracle = q70OracleSql),

    // ---- EXT: grid-density clustering (DBSCAN-lite) ----
    Gate("q243_grid_density_cluster", (s, dir) => {
      // hot regions of the (order-month × price-band) space: cells ≥1.2×
      // the mean cell count are core; 8-connected core cells merge into
      // clusters. Distributed hash agg over the corpus; union-find on the
      // DIMENSION-sized cell table (see Spatial.gridDensityClusters).
      graft.operators.Spatial.gridDensityClusters(
        Tables.orders(s, dir).select(
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("gx"),
          floor(col("o_totalprice") / 50000).cast("long").as("gy")),
        minNum = 12, minDen = 10)
    },
      // grid density clusters: same cell rule; connected components via a
      // recursive reachability CTE over the core-cell adjacency, label = min
      // reachable cell id — integer-exact throughout
      oracle = """WITH RECURSIVE g AS (SELECT
           cast(year(o_orderdate) * 12 + month(o_orderdate) AS bigint)
             AS gx,
           cast(floor(o_totalprice / 50000) AS bigint) AS gy,
           count(*) AS c
           FROM orders GROUP BY 1, 2),
         s AS (SELECT count(*) AS ncells, sum(c) AS total FROM g),
         core AS (SELECT gx, gy, c, gx * 1000 + gy AS id FROM g
           WHERE c * (SELECT ncells FROM s) * 10
             >= 12 * (SELECT total FROM s)),
         e AS (SELECT a.id AS src, b.id AS dst FROM core a JOIN core b
           ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1),
         r AS (SELECT id, id AS lab FROM core
           UNION
           SELECT e.dst, r.lab FROM r JOIN e ON e.src = r.id),
         m AS (SELECT id, min(lab) AS cluster_id FROM r GROUP BY id)
         SELECT cluster_id, cast(count(*) AS bigint) AS n_cells,
           cast(sum(core.c) AS bigint) AS n_points
         FROM m JOIN core USING (id) GROUP BY cluster_id"""),

    // ---- §2.9: radius (distance-within) spatial join ----
    Gate("q140_radius_join", (s, dir) => {
      val pts = Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_custkey") * 7 % 360 - 180).cast("double").as("lon"),
        (col("c_custkey") * 13 % 180 - 90).cast("double").as("lat"))
      val qs = Tables.supplier(s, dir).select(col("s_suppkey"),
        (col("s_suppkey") * 11 % 360 - 180).cast("double").as("qlon"),
        (col("s_suppkey") * 23 % 180 - 90).cast("double").as("qlat"))
      graft.operators.Spatial.radiusJoin(
        pts, "c_custkey", "lon", "lat",
        qs, "s_suppkey", "qlon", "qlat", radiusKm = 500.0)
    },
      // radius join: brute-force haversine oracle (engine side must find the
      // SAME pairs through grid candidates incl. antimeridian wrap); mirrored
      // trig tree, 6-dp rounding before the threshold
      oracle = """WITH pts AS (SELECT c_custkey,
             cast(c_custkey * 7 % 360 - 180 AS double) AS lon,
             cast(c_custkey * 13 % 180 - 90 AS double) AS lat
           FROM customer),
         qs AS (SELECT s_suppkey,
             cast(s_suppkey * 11 % 360 - 180 AS double) AS qlon,
             cast(s_suppkey * 23 % 180 - 90 AS double) AS qlat
           FROM supplier),
         d AS (SELECT s_suppkey, c_custkey,
             round(cast(2 AS double) * cast(6371.0088 AS double) * asin(sqrt(
               sin((radians(qlat) - radians(lat)) / 2) * sin((radians(qlat) - radians(lat)) / 2) +
               cos(radians(lat)) * cos(radians(qlat)) *
               sin((radians(qlon) - radians(lon)) / 2) * sin((radians(qlon) - radians(lon)) / 2))), 6) AS dist_km
           FROM qs CROSS JOIN pts)
         SELECT s_suppkey, c_custkey, dist_km FROM d WHERE dist_km <= 500"""),

    // ---- §2.9: MultiPolygon overlap (exists over component pairs) ----
    Gate("q118_multipolygon_overlap", (s, dir) => {
      // AOI = holed pentagon UNION a disjoint SW quad; triangles are
      // single-component multipolygons through the same exists() kernel
      val t = Tables.customer(s, dir).select(col("c_custkey"),
          (col("c_custkey") * 19 % 300 - 160).cast("double").as("ax"),
          (col("c_custkey") * 31 % 140 - 75).cast("double").as("ay"))
        .withColumn("mtri", array(array(array(
          array(col("ax"), col("ay")),
          array(col("ax") + 40, col("ay") + 11),
          array(col("ax") + 17, col("ay") + 33)))))
      def ringLit(r: Seq[(Double, Double)]) =
        array(r.map { case (x, y) => array(lit(x), lit(y)) }: _*)
      val aoi = array(
        array(ringLit(AoiPentagon), ringLit(AoiHole)),
        array(ringLit(AoiQuad)))
      t.filter(graft.operators.Spatial.multiPolygonsOverlap(col("mtri"), aoi))
        .select("c_custkey")
    },
      oracle = q118OracleSql),

    // ---- §2.9: hole-aware polygon overlap (full GeoJSON nesting) ----
    Gate("q114_polygon_overlap_holes", (s, dir) => {
      // q70's triangle footprints against the pentagon AOI with an interior
      // ring: footprints wholly inside the hole no longer overlap the AOI
      // region. Pure per-row predicate — the join machinery is q70's gate;
      // this one grades the hole-aware kernel.
      val t = Tables.customer(s, dir).select(col("c_custkey"),
          (col("c_custkey") * 19 % 300 - 160).cast("double").as("ax"),
          (col("c_custkey") * 31 % 140 - 75).cast("double").as("ay"))
        .withColumn("tri", array(array(
          array(col("ax"), col("ay")),
          array(col("ax") + 40, col("ay") + 11),
          array(col("ax") + 17, col("ay") + 33))))
      val aoi = array(
        array(AoiPentagon.map { case (x, y) => array(lit(x), lit(y)) }: _*),
        array(AoiHole.map { case (x, y) => array(lit(x), lit(y)) }: _*))
      t.filter(graft.operators.Spatial.polygonsOverlapFull(col("tri"), aoi))
        .select("c_custkey")
    },
      oracle = q114OracleSql),

    // ---- F15: GeoJSON polygon parse → derived bbox ----
    Gate("q77_geojson_bbox", (s, dir) => {
      // per-customer GeoJSON Polygon STRINGS built with %.1f formatting,
      // parsed by the real from_json path (polygonRing), bbox derived by
      // ringBbox; the oracle recomputes the same mins/maxes from the raw
      // arithmetic — if the parse or the bbox fold mis-read a vertex the
      // hash diverges.
      val t = Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_custkey") * 19 % 300 - 160).cast("double").as("ax"),
        (col("c_custkey") * 31 % 140 - 75).cast("double").as("ay"))
      val gj = format_string(
        """{"type":"Polygon","coordinates":[[[%.1f,%.1f],[%.1f,%.1f],[%.1f,%.1f],[%.1f,%.1f]]]}""",
        col("ax"), col("ay"), col("ax") + 40, col("ay") - 11,
        col("ax") - 17, col("ay") + 33, col("ax"), col("ay"))
      val ring = graft.operators.Spatial.polygonRing(gj)
      val bbox = graft.operators.Spatial.ringBbox(ring)
      t.select(col("c_custkey"),
        bbox.getField("min_lon").as("min_lon"),
        bbox.getField("min_lat").as("min_lat"),
        bbox.getField("max_lon").as("max_lon"),
        bbox.getField("max_lat").as("max_lat"))
    },
      // bbox of the parsed GeoJSON ring == mins/maxes of the raw vertex arithmetic
      oracle = """WITH t AS (SELECT c_custkey,
           cast(c_custkey * 19 % 300 - 160 as double) AS ax,
           cast(c_custkey * 31 % 140 - 75 as double) AS ay
         FROM customer)
         SELECT c_custkey,
           least(ax, ax + 40, ax - 17) AS min_lon,
           least(ay, ay - 11, ay + 33) AS min_lat,
           greatest(ax, ax + 40, ax - 17) AS max_lon,
           greatest(ay, ay - 11, ay + 33) AS max_lat
         FROM t"""),

    // ---- EXT: Z-order locality key (spatial layout at scale) ----
    Gate("q98_zorder_key", (s, dir) => {
      // same integer-derived coordinates as the q42/q50 spatial family
      val pts = Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_custkey") * 7 % 360 - 180).cast("double").as("lon"),
        (col("c_custkey") * 13 % 180 - 90).cast("double").as("lat"))
      pts.withColumn("morton",
          graft.operators.Spatial.mortonKey(col("lon"), col("lat"), bits = 16))
        // top-10-bit range bin: the repartitionByRange bucket a writer uses
        .withColumn("zbin", shiftright(col("morton"), 22))
        .select("c_custkey", "morton", "zbin")
    },
      // Z-order key: 16-bit quantized lon/lat, bit-interleave as a sum of
      // disjoint shifted bits over a 16-row series (exact bigint arithmetic)
      oracle = """WITH pts AS (SELECT c_custkey,
             cast(c_custkey * 7 % 360 - 180 AS double) AS lon,
             cast(c_custkey * 13 % 180 - 90 AS double) AS lat FROM customer),
         n AS (SELECT c_custkey,
             least(greatest(cast(floor((lon - (-180.0)) / 360.0 * 65536) AS bigint), 0), 65535) AS nx,
             least(greatest(cast(floor((lat - (-90.0)) / 180.0 * 65536) AS bigint), 0), 65535) AS ny
           FROM pts),
         m AS (SELECT c_custkey,
             cast(sum((((nx >> i) & 1) << (2*i)) + (((ny >> i) & 1) << (2*i + 1))) AS bigint) AS morton
           FROM n, generate_series(0, 15) g(i) GROUP BY 1)
         SELECT c_custkey, morton, morton >> 22 AS zbin FROM m"""),

    // ---- spatial (SURVEY §2.9) ----
    Gate("q42_bbox_join", (s, dir) => {
      // J12: point-in-bbox spatial join, broadcast dim side; integer-derived
      // coordinates so the oracle is exact.
      val boxes = Tables.nation(s, dir).select(col("n_name"), struct(
        (col("n_nationkey") * 29 % 300 - 170).cast("double").as("min_lon"),
        (col("n_nationkey") * 17 % 140 - 80).cast("double").as("min_lat"),
        (col("n_nationkey") * 29 % 300 - 170 + 40).cast("double").as("max_lon"),
        (col("n_nationkey") * 17 % 140 - 80 + 30).cast("double").as("max_lat")).as("bbox"))
      val pts = Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_custkey") * 7 % 360 - 180).cast("double").as("lon"),
        (col("c_custkey") * 13 % 180 - 90).cast("double").as("lat"))
      pts.join(broadcast(boxes),
          graft.operators.Spatial.pointInBbox(col("lon"), col("lat"), col("bbox")))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_points"))
    },
      oracle = """WITH boxes AS (SELECT n_name,
             cast(n_nationkey * 29 % 300 - 170 as double) AS min_lon,
             cast(n_nationkey * 17 % 140 - 80 as double) AS min_lat,
             cast(n_nationkey * 29 % 300 - 170 + 40 as double) AS max_lon,
             cast(n_nationkey * 17 % 140 - 80 + 30 as double) AS max_lat
           FROM nation),
         pts AS (SELECT c_custkey,
             cast(c_custkey * 7 % 360 - 180 as double) AS lon,
             cast(c_custkey * 13 % 180 - 90 as double) AS lat
           FROM customer)
         SELECT n_name, count(*) AS n_points
         FROM pts JOIN boxes
           ON lon BETWEEN min_lon AND max_lon AND lat BETWEEN min_lat AND max_lat
         GROUP BY n_name"""),
    Gate("q43_point_in_polygon", (s, dir) => {
      // Exact ray-casting via the custom Catalyst expression over a fixed
      // pentagon; the oracle unrolls the same 5 edge terms.
      val ring = array(
        array(lit(0.0), lit(0.0)), array(lit(120.0), lit(10.0)),
        array(lit(140.0), lit(80.0)), array(lit(-30.0), lit(70.0)),
        array(lit(-100.0), lit(20.0)))
      Tables.customer(s, dir).select(
        col("c_custkey"),
        (col("c_custkey") * 7 % 360 - 180).cast("double").as("lon"),
        (col("c_custkey") * 13 % 180 - 90).cast("double").as("lat"))
        .withColumn("inside",
          graft.operators.Spatial.pointInPolygon(col("lon"), col("lat"), ring))
        .select("c_custkey", "inside")
    },
      oracle = """WITH pts AS (SELECT c_custkey,
             cast(c_custkey * 7 % 360 - 180 as double) AS lon,
             cast(c_custkey * 13 % 180 - 90 as double) AS lat
           FROM customer)
         SELECT c_custkey,
           ((CASE WHEN ((0.0 > lat) != (20.0 > lat)) AND lon < (-100.0 - 0.0) * (lat - 0.0) / (20.0 - 0.0) + 0.0 THEN 1 ELSE 0 END)
          + (CASE WHEN ((10.0 > lat) != (0.0 > lat)) AND lon < (0.0 - 120.0) * (lat - 10.0) / (0.0 - 10.0) + 120.0 THEN 1 ELSE 0 END)
          + (CASE WHEN ((80.0 > lat) != (10.0 > lat)) AND lon < (120.0 - 140.0) * (lat - 80.0) / (10.0 - 80.0) + 140.0 THEN 1 ELSE 0 END)
          + (CASE WHEN ((70.0 > lat) != (80.0 > lat)) AND lon < (140.0 - (-30.0)) * (lat - 70.0) / (80.0 - 70.0) + (-30.0) THEN 1 ELSE 0 END)
          + (CASE WHEN ((20.0 > lat) != (70.0 > lat)) AND lon < ((-30.0) - (-100.0)) * (lat - 20.0) / (70.0 - 20.0) + (-100.0) THEN 1 ELSE 0 END)
           ) % 2 = 1 AS inside
         FROM pts"""),

    // ---- grid-partitioned (non-broadcast) spatial join ----
    Gate("q50_grid_spatial_join", (s, dir) => {
      val boxes = Tables.nation(s, dir).select(col("n_name"), struct(
        (col("n_nationkey") * 29 % 300 - 170).cast("double").as("min_lon"),
        (col("n_nationkey") * 17 % 140 - 80).cast("double").as("min_lat"),
        (col("n_nationkey") * 29 % 300 - 170 + 40).cast("double").as("max_lon"),
        (col("n_nationkey") * 17 % 140 - 80 + 30).cast("double").as("max_lat")).as("bbox"))
      val pts = Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_custkey") * 7 % 360 - 180).cast("double").as("lon"),
        (col("c_custkey") * 13 % 180 - 90).cast("double").as("lat"))
      graft.operators.Spatial.gridJoin(pts, "lon", "lat", boxes, "bbox", cellDeg = 30.0)
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_points"))
    },
      oracle = """WITH boxes AS (SELECT n_name,
             cast(n_nationkey * 29 % 300 - 170 as double) AS min_lon,
             cast(n_nationkey * 17 % 140 - 80 as double) AS min_lat,
             cast(n_nationkey * 29 % 300 - 170 + 40 as double) AS max_lon,
             cast(n_nationkey * 17 % 140 - 80 + 30 as double) AS max_lat
           FROM nation),
         pts AS (SELECT c_custkey,
             cast(c_custkey * 7 % 360 - 180 as double) AS lon,
             cast(c_custkey * 13 % 180 - 90 as double) AS lat
           FROM customer)
         SELECT n_name, count(*) AS n_points
         FROM pts JOIN boxes
           ON lon BETWEEN min_lon AND max_lon AND lat BETWEEN min_lat AND max_lat
         GROUP BY n_name"""),

    // ---- EXT: trajectory stay-point detection ----
    Gate("q427_staypoints", (s, dir) => {
      // trajectory mining over the event stream: with deterministic
      // synthetic coordinates (the q15 convention), a STAY is a maximal
      // run of ≥ 2 consecutive small movements (Chebyshev distance ≤ 50)
      // along each user's timeline — i.e. ≥ 3 points dwelling in one
      // place. Gaps-and-islands with key-partitioned windows only; all
      // comparisons exact integers. Per-user output: points, stay count,
      // longest dwell.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pts = Tables.events(s, dir)
        .withColumn("x", col("event_id") * 7 % 1000)
        .withColumn("y", col("event_id") * 13 % 1000)
        .withColumn("__near",
          when(greatest(abs(col("x") - lag(col("x"), 1).over(w)),
            abs(col("y") - lag(col("y"), 1).over(w))) <= 50, 1L)
            .otherwise(0L))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__isl", col("__rn") -
          sum(col("__near")).over(w.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
      val runs = pts.filter(col("__near") === 1)
        .groupBy(col("user_id"), col("__isl"))
        .agg(count(lit(1)).as("__len"))
        .filter(col("__len") >= 2)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_stays"),
          (max(col("__len")) + 1).as("longest_stay_points"))
      pts.groupBy(col("user_id")).agg(count(lit(1)).as("n_points"))
        .join(runs, Seq("user_id"), "left")
        .select(col("user_id"), col("n_points"),
          coalesce(col("n_stays"), lit(0L)).as("n_stays"),
          coalesce(col("longest_stay_points"), lit(0L))
            .as("longest_stay_points"))
    },
      oracle = """WITH p AS (SELECT user_id, ts, event_id,
             (event_id * 7) % 1000 AS x, (event_id * 13) % 1000 AS y
           FROM events),
         f AS (SELECT user_id, ts, event_id, x, y,
             CASE WHEN greatest(abs(x - lag(x) OVER w),
                 abs(y - lag(y) OVER w)) <= 50
               THEN 1 ELSE 0 END AS near,
             row_number() OVER w AS rn
           FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (SELECT *, rn - sum(near) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS isl
           FROM f),
         runs AS (SELECT user_id, isl, count(*) AS len
           FROM g WHERE near = 1 GROUP BY 1, 2 HAVING count(*) >= 2),
         agg AS (SELECT user_id, cast(count(*) AS bigint) AS n_stays,
             cast(max(len) + 1 AS bigint) AS longest
           FROM runs GROUP BY 1)
         SELECT p2.user_id, p2.n_points,
           coalesce(agg.n_stays, 0) AS n_stays,
           coalesce(agg.longest, 0) AS longest_stay_points
         FROM (SELECT user_id, cast(count(*) AS bigint) AS n_points
           FROM p GROUP BY 1) p2
         LEFT JOIN agg ON p2.user_id = agg.user_id"""),

    // ---- EXT: geohash encoding (spatial bucketing key) ----
    Gate("q481_geohash", (s, dir) => {
      // the spatial layout key the reference's tile pyramid implies:
      // geohash-6 from the fixture's integer lon/lat — 15-bit cells,
      // interleave, base32 — as ONE generated scalar expression shared
      // verbatim with the oracle (q49 discipline, modulo the `div`//`//`
      // spelling). Grouping by the hash is the geo-shuffle key at
      // 100 TB: co-located cells land in one partition.
      val pts = Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_custkey") * 7 % 360 - 180).cast("long").as("lon"),
        (col("c_custkey") * 13 % 180 - 90).cast("long").as("lat"))
      pts.withColumn("geohash",
          expr(geohashSqlExpr("lon", "lat", "div")))
        .groupBy("geohash")
        .agg(count(lit(1)).as("n_points"),
          min(col("c_custkey")).cast("long").as("sample_custkey"))
    },
      // shared generated geohash expression (// spelling)
      oracle = s"""
      WITH pts AS (SELECT c_custkey,
          cast(c_custkey * 7 % 360 - 180 AS bigint) AS lon,
          cast(c_custkey * 13 % 180 - 90 AS bigint) AS lat
        FROM customer)
      SELECT ${geohashSqlExpr("lon", "lat", "//")} AS geohash,
        count(*) AS n_points,
        cast(min(c_custkey) AS bigint) AS sample_custkey
      FROM pts GROUP BY 1"""),

    // ---- EXT: nearest-facility (Voronoi) assignment ----
    Gate("q482_nearest_station", (s, dir) => {
      // every customer point assigned to its nearest of 8 fixed ground
      // stations (the reference's receiver siting question): exact
      // integer squared distances, argmin with station-id tie-break, one
      // broadcast cross against the 8-row dimension. Flat-earth metric
      // on the synthetic integer grid — the assignment algebra, not
      // geodesy, is the subject.
      import s.implicits._
      val stations = Seq((0L, -120L, 40L), (1L, -60L, -10L),
        (2L, 0L, 50L), (3L, 30L, -25L), (4L, 75L, 20L),
        (5L, 120L, 60L), (6L, 150L, -40L), (7L, -150L, -65L))
        .toDF("station_id", "s_lon", "s_lat")
      val pts = Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_custkey") * 7 % 360 - 180).cast("long").as("lon"),
        (col("c_custkey") * 13 % 180 - 90).cast("long").as("lat"))
      pts.crossJoin(broadcast(stations))
        .withColumn("d2",
          (col("lon") - col("s_lon")) * (col("lon") - col("s_lon"))
          + (col("lat") - col("s_lat")) * (col("lat") - col("s_lat")))
        .groupBy("c_custkey")
        .agg(min(struct(col("d2"), col("station_id"))).as("m"))
        .groupBy(col("m.station_id").as("station_id"))
        .agg(count(lit(1)).as("n_assigned"),
          (floor(sum(col("m.d2")).cast("double") / count(lit(1))
            * 1000000 + 0.5) / 1000000.0).as("mean_d2"))
    },
      // argmin by (d2, station_id) via a per-point window
      oracle = """WITH st AS (SELECT * FROM (VALUES (0, -120, 40), (1, -60, -10),
             (2, 0, 50), (3, 30, -25), (4, 75, 20), (5, 120, 60),
             (6, 150, -40), (7, -150, -65))
           AS t(station_id, s_lon, s_lat)),
         pts AS (SELECT c_custkey,
             cast(c_custkey * 7 % 360 - 180 AS bigint) AS lon,
             cast(c_custkey * 13 % 180 - 90 AS bigint) AS lat
           FROM customer),
         d AS (SELECT c_custkey, station_id,
             (lon - s_lon) * (lon - s_lon)
               + (lat - s_lat) * (lat - s_lat) AS d2,
             row_number() OVER (PARTITION BY c_custkey
               ORDER BY (lon - s_lon) * (lon - s_lon)
                 + (lat - s_lat) * (lat - s_lat), station_id) AS rk
           FROM pts CROSS JOIN st)
         SELECT cast(station_id AS bigint) AS station_id,
           cast(count(*) AS bigint) AS n_assigned,
           floor(cast(sum(d2) AS double) / count(*) * 1000000 + 0.5)
             / 1000000.0 AS mean_d2
         FROM d WHERE rk = 1 GROUP BY 1"""),

    // ---- EXT: kernel density estimate on a fixed grid ----
    Gate("q483_kde_grid", (s, dir) => {
      // Gaussian KDE of order value at 21 grid points: one explode×21
      // conditional aggregate (the q460 shape — grid terms shuffle 21
      // partials per partition, never the corpus). Grid and bandwidth
      // derive from exact integer cents; each row's kernel term is
      // 6dp-floored so the density sums are engine-exact integers.
      val cents = Tables.orders(s, dir)
        .select((col("o_totalprice").cast(D) * 100).cast("long")
          .as("x"))
      val mm = cents.agg(min("x").as("lo"), max("x").as("hi"))
      cents.crossJoin(broadcast(mm))
        .select(col("x"), col("lo"), col("hi"),
          explode(sequence(lit(0), lit(20))).as("k"))
        .withColumn("gk", col("lo").cast("double")
          + col("k").cast("double")
            * (col("hi") - col("lo")).cast("double") / 20.0)
        .withColumn("u", (col("x").cast("double") - col("gk"))
          / ((col("hi") - col("lo")).cast("double") / 10.0))
        .withColumn("t6",
          floor(exp(col("u") * col("u") / -2.0) * 1000000 + 0.5)
            .cast("long"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("t6").as("sum_t6"),
          first(col("gk")).as("gk"))
        .select(col("k"), (col("gk") / 100.0).as("grid_dollars"),
          col("sum_t6"),
          (floor(col("sum_t6").cast("double") / col("n")
            * 1000000 + 0.5) / 1000000.0 / 1000000.0)
            .as("mean_kernel"))
    },
      // per-row 6dp-floored kernel terms, exactly summed
      oracle = """WITH c AS (SELECT cast(cast(o_totalprice AS decimal(18,2)) * 100
             AS bigint) AS x FROM orders),
         mm AS (SELECT min(x) AS lo, max(x) AS hi FROM c),
         e AS (SELECT x, lo, hi,
             unnest(generate_series(0, 20)) AS k
           FROM c CROSS JOIN mm),
         t AS (SELECT k,
             cast(lo AS double) + cast(k AS double)
               * cast(hi - lo AS double) / 20.0 AS gk,
             x, lo, hi
           FROM e),
         u AS (SELECT k, gk,
             cast(floor(exp(
               ((cast(x AS double) - gk)
                 / (cast(hi - lo AS double) / 10.0))
               * ((cast(x AS double) - gk)
                 / (cast(hi - lo AS double) / 10.0))
               / -2.0) * 1000000 + 0.5) AS bigint) AS t6
           FROM t)
         SELECT cast(k AS int) AS k,
           min(gk) / 100.0 AS grid_dollars,
           cast(sum(t6) AS bigint) AS sum_t6,
           floor(cast(sum(t6) AS double) / count(*) * 1000000 + 0.5)
             / 1000000.0 / 1000000.0 AS mean_kernel
         FROM u GROUP BY 1"""),
  )
}
