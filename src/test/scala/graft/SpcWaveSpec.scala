package graft

import org.apache.spark.sql.functions._

/** Brute cross-checks for the SPC / robust-stats wave (q474–q477). */
class SpcWaveSpec extends SparkSuite {

  test("q474 x-bar/R control decisions match a brute fold") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderdate").cast("string"),
        col("o_orderkey").cast("long"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val days = orders.groupBy(_._1).toSeq.map { case (_, os) =>
      os.sortBy(_._2).take(5).map(_._3)
    }.filter(_.length == 5).map(g => (g.sum, g.max - g.min))
    val nd = days.length.toLong
    val tsum = days.map(_._1).sum
    val tr = days.map(_._2).sum
    val nx = days.count { case (s5, _) =>
      math.abs(s5 * nd - tsum) * 200 > tr * 577 }.toLong
    val nr = days.count { case (_, r) => r * nd * 1000 > tr * 2114 }.toLong
    val row = SparkEntry.queries("q474_xbar_r_chart")(spark, sf)
      .collect()(0)
    assert(row.getLong(0) == nd)
    assert(row.getLong(3) == nx && row.getLong(4) == nr)
  }

  test("q475 Tukey fences match a brute quartile fold") {
    val cust = Tables.customer(spark, sf)
      .select(col("c_mktsegment"), col("c_custkey").cast("long"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySeg = cust.groupBy(_._1).toSeq.map { case (seg, cs) =>
      val sorted = cs.sortBy(c => (c._3, c._2)).map(_._3)
      val n = sorted.length
      val q1 = sorted(math.ceil(n / 4.0).toInt - 1)
      val q3 = sorted(math.ceil(n * 3 / 4.0).toInt - 1)
      val lo = sorted.count(x => 2 * x < 2 * q1 - 3 * (q3 - q1)).toLong
      val hi = sorted.count(x => 2 * x > 2 * q3 + 3 * (q3 - q1)).toLong
      seg -> (n.toLong, lo, hi)
    }.toMap
    SparkEntry.queries("q475_tukey_fences")(spark, sf).collect()
      .foreach { r =>
        val (n, lo, hi) = bySeg(r.getString(0))
        assert(r.getLong(1) == n)
        assert(r.getLong(4) == lo && r.getLong(5) == hi)
      }
  }

  test("q476 Grubbs argmax is the true extreme deviant") {
    val cust = Tables.customer(spark, sf)
      .select(col("c_nationkey").cast("long"),
        col("c_custkey").cast("long"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val worst = cust.groupBy(_._1).toSeq.map { case (nk, cs) =>
      val s1 = cs.map(c => BigInt(c._3)).sum
      val n = cs.length
      nk -> cs.maxBy(c => ((BigInt(c._3) * n - s1).abs, c._2))._2
    }.toMap
    SparkEntry.queries("q476_grubbs")(spark, sf)
      .select(col("c_nationkey").cast("long"), col("n"),
        col("worst_custkey").cast("long"), col("g_stat"))
      .collect().foreach { r =>
        assert(r.getLong(2) == worst(r.getLong(0)))
        assert(r.getDouble(3) >= 0.0)
      }
  }

  test("q481 geohash expression hits known anchor cells") {
    // (0,0) lies in the 's' macro-cell (geohash 's00000' at the cell
    // corner); (-180,-90) is the all-zero-bits corner '000000'
    val got = spark.sql(
      "SELECT " + graft.gates.SpatialGates.geohashExprForTest("lon", "lat") +
        " AS gh FROM VALUES (0L, 0L), (-180L, -90L) AS t(lon, lat)")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("s00000", "000000"))
  }

  test("q482 station assignment conserves the customer count") {
    val n = Tables.customer(spark, sf).count()
    val rows = SparkEntry.queries("q482_nearest_station")(spark, sf)
      .collect()
    assert(rows.map(_.getLong(1)).sum == n)
  }

  test("q483 kernel terms are bounded by the kernel maximum") {
    SparkEntry.queries("q483_kde_grid")(spark, sf).collect().foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.000001)
    }
  }

  test("q477 shrinkage lands between the raw rate and the prior") {
    val rows = SparkEntry.queries("q477_eb_shrinkage")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4)))
    val tn = rows.map(_._1).sum
    val prior = rows.map { case (n, raw, _) => raw * n }.sum / tn
    rows.foreach { case (_, raw, shrunk) =>
      val lo = math.min(raw, prior) - 1e-6
      val hi = math.max(raw, prior) + 1e-6
      assert(shrunk >= lo && shrunk <= hi,
        s"shrunk $shrunk outside [$lo, $hi] (raw $raw prior $prior)")
    }
  }
}
