package graft
package gates

import org.apache.spark.sql.functions._
import graft.operators.{Joins, Relational => R}
import Gate.D

/** Joins: dimension, semi/anti, as-of, range, nearest-event and
  * bloom-pruned joins, SCD lookups, CDC/MERGE application, and the TPC-H
  * join shapes. */
object JoinGates {
  val gates: Seq[Gate] = Seq(
    // ---- joins (SURVEY §2.3) ----
    Gate("q16_dim_join", (s, dir) => {
      // J1-J3 shape: fact ⋈ two broadcast dims, then rollup.
      val c = Tables.customer(s, dir).withColumnRenamed("c_nationkey", "n_nationkey")
      val n = Tables.nation(s, dir).withColumnRenamed("n_regionkey", "r_regionkey")
      Joins.dimJoin(Joins.dimJoin(c, n, Seq("n_nationkey")), Tables.region(s, dir), Seq("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
    },
      oracle = """SELECT r_name, n_name, count(*) AS n_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name"""),
    Gate("q17_join_topk_revenue", (s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord  = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1999-01-01"))
      val li   = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1997-01-01"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"))
        .agg(sum(col("l_extendedprice").cast(D) * (lit(1) - col("l_discount").cast(D))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    },
      oracle = """SELECT o_orderkey, cast(o_orderdate as date) AS o_date,
         cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))) as double) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1999-01-01'
           AND l_shipdate > TIMESTAMP '1997-01-01'
         GROUP BY o_orderkey, cast(o_orderdate as date)
         ORDER BY revenue DESC, o_orderkey LIMIT 10"""),
    Gate("q18_semi_join", (s, dir) =>
      Joins.semiJoin(Tables.customer(s, dir),
        Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .select("c_custkey", "c_name"),
      oracle = """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)"""),
    Gate("q19_anti_join", (s, dir) =>
      Joins.antiJoin(Tables.customer(s, dir),
        Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
        .select("c_custkey", "c_name"),
      oracle = """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"""),
    Gate("q20_left_join", (s, dir) => {
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("n_nationkey"), col("c_custkey"))
      Joins.leftJoin(n, c, Seq("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(col("c_custkey")).as("n_customers"))
    },
      oracle = """SELECT n_name, count(c_custkey) AS n_customers
         FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
         GROUP BY n_name"""),
    Gate("q21_explode_join", (s, dir) => {
      // J6/J7 lineage shape: per-order array of part keys, exploded, joined.
      val lineage = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(collect_list(col("l_partkey")).as("part_ids"))
      Joins.explodeJoin(lineage, "part_ids", broadcast(Tables.part(s, dir)), "p_partkey")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"))
    },
      oracle = """SELECT p_brand, count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand"""),

    // ---- J9: audit ⋈ users null-preserving join ----
    Gate("q68_audit_user_join", (s, dir) => {
      val users = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("user_id"), col("c_name"))
      Tables.events(s, dir).join(broadcast(users), Seq("user_id"), "left_outer")
        .groupBy(col("c_name").isNull.as("unknown_user"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    },
      oracle = """SELECT c_name IS NULL AS unknown_user, count(*) AS n,
         count(DISTINCT user_id) AS n_users
         FROM events LEFT JOIN (SELECT c_custkey AS user_id, c_name
                                FROM customer WHERE c_mktsegment = 'BUILDING') u
         USING (user_id)
         GROUP BY 1"""),

    // ---- as-of join (custom operator; DuckDB ASOF JOIN oracle) ----
    Gate("q69_asof_join", (s, dir) => {
      // each event joined to the rate version effective as of its
      // timestamp — 25 keys × 30 daily versions derived deterministically
      // from nation so both engines build the identical rates table
      val ev = Tables.events(s, dir).select(col("event_id"),
        (col("user_id") % 25).as("k"),
        date_trunc("second", col("ts")).as("ets"))
      val rates = Tables.nation(s, dir)
        .select(col("n_nationkey").as("k"),
          explode(sequence(lit(0), lit(29))).as("d"))
        .select(col("k"),
          to_timestamp(date_add(lit("2024-01-01").cast("date"), col("d"))).as("eff"),
          (((col("k") * 31 + col("d") * 7) % 100).cast("double") / 10).as("rate"))
      Joins.asofJoin(ev, rates, "k", "ets", "eff", rightCols = Seq("rate"))
        .select("event_id", "k", "asof_rate")
    },
      oracle = """WITH ev AS (SELECT event_id, user_id % 25 AS k,
                            date_trunc('second', ts) AS ets FROM events),
         rates AS (SELECT n_nationkey AS k,
                     TIMESTAMP '2024-01-01' + d * INTERVAL 1 DAY AS eff,
                     cast((n_nationkey * 31 + d * 7) % 100 as double) / 10 AS rate
                   FROM nation, unnest(generate_series(0, 29)) AS u(d))
         SELECT e.event_id, e.k, r.rate AS asof_rate
         FROM ev e ASOF LEFT JOIN rates r ON e.k = r.k AND e.ets >= r.eff"""),

    // ---- J: multi-dim star joins (TPC-H Q5/Q13 shapes) ----
    Gate("q131_regional_revenue", (s, dir) => {
      // Q5 shape: revenue by nation where customer and supplier share the
      // nation. region⋈nation is a by-NATURE dimension (25×5 rows) →
      // broadcast; customer/supplier/orders scale with data → shuffled
      // equi-joins that AQE may demote to broadcast at small SF.
      val rn = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(rn), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(rn), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(D) *
          (lit(1) - col("l_discount").cast(D))).cast("double").as("revenue"))
    },
      // Q5: local-supplier star join; same decimal-revenue idiom as q17
      oracle = """SELECT n_name,
         cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))) as double) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name"""),
    Gate("q132_custdist", (s, dir) => {
      // Q13 shape: distribution of per-customer order counts, zero-order
      // customers included (left join + count(non-null)); two hash
      // aggregates, the second over a count-cardinality-bounded table.
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      // Q13: zero-order customers kept by the left join + count(non-null)
      oracle = """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN (
             SELECT o_orderkey, o_custkey FROM orders
             WHERE o_orderpriority <> '1-URGENT') o ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY c_count"""),

    // ---- J/A/L: TPC-H Q3 shape — top open orders by revenue ----
    Gate("q146_shipping_priority", (s, dir) => {
      // dim-filtered fact⋈fact⋈fact star, grouped top-k with a total-order
      // tie-break (revenue desc, date, orderkey) so LIMIT is deterministic
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("o_date"), col("o_orderpriority"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1997-01-01"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_date"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast(D) *
          (lit(1) - col("l_discount").cast(D))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_date"), col("l_orderkey"))
        .limit(10)
    },
      // Q3: same decimal-revenue idiom as q131; ORDER BY is a total order
      // (revenue desc, date, orderkey) so the LIMIT is engine-deterministic
      oracle = """SELECT l_orderkey, cast(o_orderdate AS date) AS o_date, o_orderpriority,
           cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-01-01'
           AND l_shipdate > TIMESTAMP '1997-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, o_date, l_orderkey LIMIT 10"""),

    // ---- J/A/L: TPC-H Q10 shape — returned-item revenue by customer ----
    Gate("q147_returned_items", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-07-01"))
        .select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(D) *
          (lit(1) - col("l_discount").cast(D))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      oracle = """SELECT c_custkey, c_name, c_acctbal, n_name,
           cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-07-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    // ---- J/A: TPC-H Q4 shape — late-shipment order-priority rollup ----
    Gate("q153_priority_check", (s, dir) => {
      // EXISTS rewritten as a left-semi equi-join on the order key with a
      // residual date predicate — the semi-join stops at the first witness
      // line and never multiplies rows
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("interval 60 days"),
          "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    },
      // Q4 shape: EXISTS with a correlated date predicate
      oracle = """SELECT o_orderpriority, count(*) AS n_orders FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
           AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1"""),

    // ---- A: TPC-H Q12 shape — priority mix per line status (cond. agg) ----
    Gate("q154_priority_mix", (s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01") &&
          col("l_shipdate") < lit("1999-01-01"))
        .select("l_orderkey", "l_linestatus")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
    },
      // Q12 shape: two-way conditional counts; cast(sum AS bigint) because
      // DuckDB widens sum(int) past int64
      oracle = """SELECT l_linestatus,
           cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
           cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS bigint) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1998-01-01'
           AND l_shipdate < TIMESTAMP '1999-01-01'
         GROUP BY 1"""),

    // ---- A/J: TPC-H Q17 shape — small-quantity-line revenue ----
    Gate("q155_small_qty_revenue", (s, dir) => {
      // correlated avg subquery as a pre-agg join; the 0.2·avg threshold is
      // compared EXACTLY: qty < 0.2·(sum/n) ⇔ 5·n·qty < sum — all decimal,
      // no division, no float threshold to diverge on
      val l = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast(D).as("qty"),
          col("l_extendedprice").cast(D).as("price"))
      val pa = l.groupBy("l_partkey")
        .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("sum_qty"))
      l.join(pa, Seq("l_partkey"))
        .filter(col("qty") * lit(5) * col("n_lines") < col("sum_qty"))
        .agg(count(lit(1)).as("n_small"),
          (sum(col("price")).cast("double") / lit(7.0)).as("avg_yearly"))
    },
      // Q17 shape: qty < 0.2·avg as the exact decimal inequality 5·n·qty < sum
      oracle = """WITH l AS (SELECT l_partkey,
             cast(l_quantity AS decimal(18,2)) AS qty,
             cast(l_extendedprice AS decimal(18,2)) AS price FROM lineitem),
         pa AS (SELECT l_partkey, count(*) AS n_lines, sum(qty) AS sum_qty
           FROM l GROUP BY 1)
         SELECT count(*) AS n_small,
           cast(sum(price) AS double) / cast(7.0 AS double) AS avg_yearly
         FROM l JOIN pa USING (l_partkey)
         WHERE qty * 5 * n_lines < sum_qty"""),

    // ---- A/J: TPC-H Q18 shape — large-volume orders ----
    Gate("q156_big_orders", (s, dir) => {
      // HAVING sum(qty) ≥ 300 bounds the probe side to a handful of orders
      // BEFORE the two dimension joins — AQE broadcasts the survivors
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity").cast(D).as("qty"))
      val big = l.groupBy("l_orderkey").agg(sum(col("qty")).as("sq"))
        .filter(col("sq") >= 300)
        .select(col("l_orderkey"), col("sq").cast("double").as("sum_qty"))
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"),
          col("sum_qty"))
    },
      // Q18 shape: HAVING-filtered order rollup joined back to its dimensions
      oracle = """WITH big AS (SELECT l_orderkey,
             cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty
           FROM lineitem GROUP BY 1
           HAVING sum(cast(l_quantity AS decimal(18,2))) >= 300)
         SELECT c_name, c_custkey, o_orderkey,
           cast(o_orderdate AS date) AS o_date, o_totalprice, sum_qty
         FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey"""),

    // ---- J: TPC-H Q21 shape — the only-late supplier on multi-supplier
    // orders (semi + anti probes against the same derived late-set) ----
    Gate("q157_waiting_supplier", (s, dir) => {
      val lo = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          (col("l_shipdate") > col("o_orderdate") + expr("interval 60 days"))
            .as("late"))
      val all = lo.select("ok", "sk").distinct()
      val lateS = lo.filter(col("late")).select("ok", "sk").distinct()
      val others = all.select(col("ok").as("ok2"), col("sk").as("sk2"))
      val lateOthers = lateS.select(col("ok").as("ok3"), col("sk").as("sk3"))
      lateS
        .join(others,
          col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
        .join(lateOthers,
          col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
        .join(Tables.supplier(s, dir), col("sk") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
    },
      // Q21 shape: distinct late-(order,supplier) pairs, EXISTS another
      // supplier on the order, NOT EXISTS another LATE supplier
      oracle = """WITH lo AS (SELECT l_orderkey AS ok, l_suppkey AS sk,
             l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         lateS AS (SELECT DISTINCT ok, sk FROM lo WHERE late),
         lone AS (SELECT * FROM lateS t
           WHERE EXISTS (SELECT 1 FROM lo WHERE lo.ok = t.ok AND lo.sk <> t.sk)
             AND NOT EXISTS (SELECT 1 FROM lo
               WHERE lo.ok = t.ok AND lo.sk <> t.sk AND lo.late))
         SELECT s_name, count(*) AS numwait
         FROM lone JOIN supplier ON sk = s_suppkey GROUP BY 1"""),

    // ---- A/J: TPC-H Q22 shape — dormant above-average-balance value ----
    Gate("q158_dormant_value", (s, dir) => {
      // the global-average threshold is a ONE-ROW aggregate — broadcast by
      // nature (the allowed class); bal > avg compared exactly as
      // bal·n > sum (no decimal division, whose rounding differs by engine)
      val c = Tables.customer(s, dir)
      val thr = c.filter(col("c_acctbal") > 0)
        .agg(count(lit(1)).as("n_pos"),
          sum(col("c_acctbal").cast(D)).as("sum_bal"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2001-01-01")).select("o_custkey")
      c.crossJoin(broadcast(thr))
        .filter(col("c_acctbal").cast(D) * col("n_pos") > col("sum_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(D)).cast("double").as("total_bal"))
    },
      // Q22 shape: bal > global positive avg as the exact inequality
      // bal·n > sum; dormancy = no orders since the cutoff
      oracle = """WITH thr AS (SELECT count(*) AS n_pos,
             sum(cast(c_acctbal AS decimal(18,2))) AS sum_bal
           FROM customer WHERE c_acctbal > 0)
         SELECT c_nationkey, count(*) AS n_cust,
           cast(sum(cast(c_acctbal AS decimal(18,2))) AS double) AS total_bal
         FROM customer, thr
         WHERE cast(c_acctbal AS decimal(18,2)) * n_pos > sum_bal
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
             AND o_orderdate >= TIMESTAMP '2001-01-01')
         GROUP BY 1"""),

    // ---- J/W: TPC-H Q2 shape — cheapest observed supplier per part ----
    Gate("q166_cheapest_supplier", (s, dir) => {
      // correlated-min as a per-part top-1 window (parts bound the
      // partitions). The unit price is built as an exact integer-cents
      // rational and divided ONCE as doubles — bit-identical across
      // engines, unlike round(p/q, 6) whose half-boundary behavior diverges
      // (found at sf0.1: repeating-binary quotients landing on the 5)
      import org.apache.spark.sql.expressions.Window
      val u = Tables.lineitem(s, dir).filter(col("l_quantity") > 0)
        .select(col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100, 0).cast("long").cast("double") /
            round(col("l_quantity") * 100, 0).cast("long").cast("double"))
            .as("unit"))
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("unit").asc, col("l_suppkey").asc)
      u.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .join(broadcast(Tables.supplier(s, dir)
          .select("s_suppkey", "s_name")), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"), col("s_name"), col("unit"))
    },
      // Q2 shape: per-part top-1 on (exact integer-cents unit price, suppkey)
      oracle = """WITH u AS (SELECT l_partkey, l_suppkey,
             cast(cast(round(l_extendedprice * 100) AS bigint) AS double) /
               cast(cast(round(l_quantity * 100) AS bigint) AS double) AS unit
           FROM lineitem WHERE l_quantity > 0),
         r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
             ORDER BY unit, l_suppkey) AS rn FROM u)
         SELECT l_partkey, s_name, unit FROM r
         JOIN supplier ON l_suppkey = s_suppkey WHERE rn = 1"""),

    // ---- EXT: CDC apply (batch MERGE of an I/U/D change log) ----
    Gate("q170_cdc_apply", (s, dir) => {
      val snap = Tables.customer(s, dir)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("value"))
      val log = Tables.events(s, dir).select(
        col("user_id").as("key"), col("ts"), col("value"), col("event_id"),
        when(graft.operators.Sampling.hashBucket(col("event_id"), 3) === 0, "U")
          .when(graft.operators.Sampling.hashBucket(col("event_id"), 3) === 1, "I")
          .otherwise("D").as("op"))
      graft.operators.Joins.applyCdc(snap, log, "key", "value",
        col("ts"), col("event_id"))
    },
      // CDC apply: latest op per key over the log; D kills, I/U replaces,
      // untouched snapshot rows carry with src='base'
      oracle = """WITH log AS (SELECT user_id AS key, ts, value, event_id,
             CASE ('0x' || substr(md5(cast(event_id AS varchar)), 1, 8))::bigint % 3
               WHEN 0 THEN 'U' WHEN 1 THEN 'I' ELSE 'D' END AS op
           FROM events),
         latest AS (SELECT key, op, value FROM (SELECT *, row_number() OVER (
             PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn FROM log)
           WHERE rn = 1)
         SELECT c_custkey AS key, c_acctbal AS value, 'base' AS src
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM latest WHERE latest.key = c_custkey)
         UNION ALL
         SELECT key, value, 'cdc' FROM latest WHERE op <> 'D'"""),

    // ---- J/A: TPC-H Q7 shape — nation-pair trade volume by year ----
    Gate("q174_volume_shipping", (s, dir) => {
      // both nation dims filtered to the two trading partners BEFORE the
      // fact joins (25-row by-NATURE broadcasts); the directed-pair
      // predicate reduces to supp ≠ cust after the restriction
      val ns = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4"))
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val nc = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4"))
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          (col("l_extendedprice").cast(D) *
            (lit(1) - col("l_discount").cast(D))).as("vol"))
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        .join(broadcast(ns), col("s_nationkey") === col("sk"))
      val cu = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        .join(broadcast(nc), col("c_nationkey") === col("ck"))
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      l.join(su, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("vol")).cast("double").as("revenue"))
    },
      // Q7: nation-pair volume; same decimal-revenue idiom as q17/q131
      oracle = """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           cast(extract(year FROM l_shipdate) AS int) AS l_year,
           cast(sum(cast(l_extendedprice AS decimal(18,2)) *
             (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ns ON s_nationkey = ns.n_nationkey
         JOIN nation nc ON c_nationkey = nc.n_nationkey
         WHERE ns.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
           AND nc.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
           AND ns.n_name <> nc.n_name
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3"""),

    // ---- J/A: TPC-H Q8 shape — nation market share within a region ----
    Gate("q175_market_share", (s, dir) => {
      val rn = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("rk"))
      val cu = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        .join(broadcast(rn), col("c_nationkey") === col("rk"))
      val p = Tables.part(s, dir)
        .filter(col("p_type") === "ECONOMY").select("p_partkey")
      val ns = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        .join(broadcast(ns), col("s_nationkey") === col("sk"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice").cast(D) *
            (lit(1) - col("l_discount").cast(D))).as("vol"))
      // share = one division of two exact-decimal sums cast to double —
      // bit-identical across engines with no rounding step
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_5", col("vol"))
            .otherwise(lit(0).cast(D))).cast("double").as("nation_vol"),
          sum(col("vol")).cast("double").as("total_vol"))
        .select(col("o_year"),
          (col("nation_vol") / col("total_vol")).as("mkt_share"))
    },
      // Q8: market share = one division of two exact-decimal sums as doubles
      oracle = """SELECT cast(extract(year FROM o_orderdate) AS int) AS o_year,
           cast(sum(CASE WHEN ns.n_name = 'NATION_5'
               THEN cast(l_extendedprice AS decimal(18,2)) *
                 (1 - cast(l_discount AS decimal(18,2)))
               ELSE cast(0 AS decimal(18,2)) END) AS double) /
           cast(sum(cast(l_extendedprice AS decimal(18,2)) *
             (1 - cast(l_discount AS decimal(18,2)))) AS double) AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ncust ON c_nationkey = ncust.n_nationkey
         JOIN region ON ncust.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ns ON s_nationkey = ns.n_nationkey
         WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1"""),

    // ---- J/A: TPC-H Q9 shape — product-line profit by nation and year ----
    Gate("q176_product_profit", (s, dir) => {
      // adapted: no partsupp table in the corpus, so unit cost is modeled
      // as 10% of p_retailprice — revenue and cost are SEPARATE exact
      // decimal sums (a fused rev−0.1·retail·qty decimal term would
      // overflow precision 38 and round differently per engine); they
      // combine as doubles in one mirrored parse tree at the end
      val p = Tables.part(s, dir)
        .filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val ns = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sk"), col("n_name"))
      val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        .join(broadcast(ns), col("s_nationkey") === col("sk"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      Tables.lineitem(s, dir)
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("o_year"))
        .agg(
          sum(col("l_extendedprice").cast(D) *
            (lit(1) - col("l_discount").cast(D))).cast("double").as("rev"),
          sum(col("p_retailprice").cast(D) *
            col("l_quantity").cast(D)).cast("double").as("retail"))
        .select(col("n_name"), col("o_year"),
          (col("rev") - col("retail") * lit(0.1).cast("double")).as("profit"))
    },
      // Q9 adapted: rev and retail-cost as SEPARATE exact-decimal sums,
      // combined once as doubles (fused term would overflow decimal-38)
      oracle = """SELECT n_name, cast(extract(year FROM o_orderdate) AS int) AS o_year,
           cast(sum(cast(l_extendedprice AS decimal(18,2)) *
             (1 - cast(l_discount AS decimal(18,2)))) AS double) -
           cast(sum(cast(p_retailprice AS decimal(18,2)) *
             cast(l_quantity AS decimal(18,2))) AS double) *
             cast(0.1 AS double) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2"""),

    // ---- A: TPC-H Q14 shape — promo revenue share by month ----
    Gate("q177_promo_share", (s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice").cast(D) *
              (lit(1) - col("l_discount").cast(D)))
            .otherwise(lit(0).cast(D))).cast("double").as("promo_rev"),
          sum(col("l_extendedprice").cast(D) *
            (lit(1) - col("l_discount").cast(D))).cast("double").as("total_rev"))
        .select(col("month"),
          (col("promo_rev") / col("total_rev") * lit(100.0).cast("double"))
            .as("promo_pct"))
    },
      // Q14: promo share per month — division then ×100, mirrored tree
      oracle = """SELECT date_trunc('month', l_shipdate) AS month,
           cast(sum(CASE WHEN p_type = 'PROMO'
               THEN cast(l_extendedprice AS decimal(18,2)) *
                 (1 - cast(l_discount AS decimal(18,2)))
               ELSE cast(0 AS decimal(18,2)) END) AS double) /
           cast(sum(cast(l_extendedprice AS decimal(18,2)) *
             (1 - cast(l_discount AS decimal(18,2)))) AS double) *
             cast(100.0 AS double) AS promo_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1"""),

    // ---- J/A: TPC-H Q16 shape — supplier diversity per part profile ----
    Gate("q178_supplier_diversity", (s, dir) => {
      // count(DISTINCT supp) per (brand,type,size) from the observed
      // lineitem pairs; "complaint" suppliers (negative balance) removed
      // by anti-join BEFORE the distinct expansion
      val p = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 15, 20, 25, 30, 35))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      // Q16: distinct suppliers per part profile, complaints anti-joined
      oracle = """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND p_size IN (1, 5, 9, 15, 20, 25, 30, 35)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3"""),

    // ---- J/L: TPC-H Q20 shape — high-volume suppliers of a part family ----
    Gate("q179_part_family_suppliers", (s, dir) => {
      // nested-aggregate semi-join: per (part,supp) shipped quantity over
      // the window, HAVING over the agg, then DISTINCT suppliers via
      // semi-join (adapted: shipped-qty threshold stands in for the
      // partsupp availqty comparison — no partsupp table in the corpus)
      val p = Tables.part(s, dir)
        .filter(col("p_name").like("small%")).select("p_partkey")
      val pairs = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(D)).as("qty"))
      val tot = pairs.agg(sum(col("qty")).as("tq"), count(lit(1)).as("np"))
      // SF-robust relative threshold: qty > 2× the family's mean pair
      // quantity, compared exactly as qty·np > 2·tq (integer multiplies
      // of exact decimals — no division, no absolute constant that goes
      // vacuous at a different scale)
      val heavy = pairs.crossJoin(broadcast(tot))
        .filter(col("qty") * col("np") > col("tq") * 2)
        .select("l_suppkey")
      Tables.supplier(s, dir)
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
    },
      // Q20 adapted: nested agg, relative 2×-mean HAVING, suppliers via semi
      oracle = """WITH pairs AS (SELECT l_partkey, l_suppkey,
             sum(cast(l_quantity AS decimal(18,2))) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE 'small%'
             AND l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY 1, 2),
         heavy AS (SELECT DISTINCT l_suppkey FROM pairs
           CROSS JOIN (SELECT sum(qty) AS tq, count(*) AS np FROM pairs) t
           WHERE qty * np > tq * 2)
         SELECT s_suppkey, s_name, s_nationkey FROM supplier
         JOIN heavy ON s_suppkey = l_suppkey"""),

    // ---- A: TPC-H Q11 shape — parts above a global revenue fraction ----
    Gate("q180_important_parts", (s, dir) => {
      // scalar-subquery threshold: the one-row global total is broadcast
      // by NATURE; the fraction compare is exact-decimal sum·1000 > total
      // (integer multiply, no decimal division whose scale differs by
      // engine)
      val rev = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(D) *
          (lit(1) - col("l_discount").cast(D))).as("rev"))
      // SF-robust: parts above 1.3× the MEAN part revenue (the corpus has
      // no heavy head, so a fixed global fraction goes empty at larger
      // SF); 1.3× as the exact integer compare rev·n·10 > 13·total
      val tot = rev.agg(sum(col("rev")).as("total"), count(lit(1)).as("np"))
      rev.crossJoin(broadcast(tot))
        .filter(col("rev") * col("np") * 10 > col("total") * 13)
        .select(col("l_partkey"), col("rev").cast("double").as("part_value"))
    },
      // Q11 analog: exact-decimal 1.3×-mean compare as integer multiplies
      oracle = """WITH rev AS (SELECT l_partkey,
             sum(cast(l_extendedprice AS decimal(18,2)) *
               (1 - cast(l_discount AS decimal(18,2)))) AS rev
           FROM lineitem GROUP BY 1)
         SELECT l_partkey, cast(rev AS double) AS part_value
         FROM rev CROSS JOIN
           (SELECT sum(rev) AS total, count(*) AS np FROM rev) t
         WHERE rev * np * 10 > total * 13"""),

    // ---- J: SCD2 point-in-time lookup (status stream ⋈ fact stream) ----
    Gate("q192_scd2_lookup", (s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = R.scd2(ev.filter(col("event_type") =!= "purchase"),
          "user_id", "ts", "event_type", tieBreak = col("event_id"))
        .select(col("user_id"), col("event_type").as("status"),
          col("valid_from"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Joins.asofJoin(facts, dim, "user_id", "ts", "valid_from", Seq("status"))
    },
      // SCD2 lookup: native ASOF JOIN against run starts (ranges are
      // consecutive, so latest-start-at-or-before IS the validity lookup);
      // no (user, ts) ties in the status stream (verified per SF)
      oracle = """WITH st AS (SELECT user_id, event_type, ts, event_id FROM events
           WHERE event_type <> 'purchase'),
         o AS (SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev
           FROM st),
         dim AS (SELECT user_id, event_type AS status, ts AS valid_from
           FROM o WHERE prev IS NULL OR prev IS DISTINCT FROM event_type),
         f AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase')
         SELECT f.event_id, f.user_id, f.ts, d.status AS asof_status
         FROM f ASOF LEFT JOIN dim d
           ON f.user_id = d.user_id AND f.ts >= d.valid_from"""),

    // ---- J: bloom-pruned semi-join (prune + exact verify) ----
    Gate("q195_bloom_semi_join", (s, dir) =>
      graft.operators.Joins.bloomPruneSemiJoin(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_suppkey"),
        "l_suppkey",
        Tables.supplier(s, dir).filter(col("s_suppkey") % 11 === 0),
        "s_suppkey", mBits = 4096, kHashes = 3),
      // bloom semi-join: bloom filters have no false negatives and the
      // engine exact-verifies, so the oracle is the plain semi-join
      oracle = """SELECT l_orderkey, l_linenumber, l_suppkey FROM lineitem
         WHERE l_suppkey IN
           (SELECT s_suppkey FROM supplier WHERE s_suppkey % 11 = 0)"""),

    // ---- J: golden-record two-source merge (survivorship) ----
    Gate("q198_golden_record", (s, dir) => {
      val a = Tables.customer(s, dir)
      // feed B: every 10th customer re-arrives with a new balance but a
      // NULL segment (falls through to A), plus genuinely new entities
      val updates = a.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100).as("c_acctbal"),
          lit(null).cast("string").as("c_mktsegment"))
      val arrivals = a.filter(col("c_custkey") % 250 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          concat(lit("new_"), col("c_name")).as("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
      graft.operators.Joins.goldenRecord(a, updates.unionByName(arrivals),
        "c_custkey", Seq("c_name", "c_acctbal", "c_mktsegment"))
    },
      // golden record: full-outer coalesce with per-column survivorship
      oracle = """WITH b AS (
           SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
             cast(NULL AS varchar) AS c_mktsegment
           FROM customer WHERE c_custkey % 10 = 0
           UNION ALL
           SELECT c_custkey + 1000000, 'new_' || c_name, c_acctbal,
             c_mktsegment
           FROM customer WHERE c_custkey % 250 = 0)
         SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey,
           coalesce(b.c_name, a.c_name) AS c_name,
           coalesce(b.c_acctbal, a.c_acctbal) AS c_acctbal,
           coalesce(b.c_mktsegment, a.c_mktsegment) AS c_mktsegment,
           CASE WHEN b.c_custkey IS NULL THEN 'a_only'
                WHEN a.c_custkey IS NULL THEN 'b_only'
                ELSE 'merged' END AS src
         FROM customer a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey"""),

    // ---- J: nearest-event join (closest by |Δt|, tie to earlier) ----
    Gate("q209_nearest_join", (s, dir) => {
      // align each purchase to its NEAREST click either side within 1 day:
      // backward as-of (max ts ≤ t) + forward as-of (min ts > t) via ONE
      // key-partitioned pass each, then pick the closer (tie -> earlier)
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("__cts"),
          col("event_id").as("__cid"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("__pts"))
      val horizon = 86400000000L
      val wB = Window.partitionBy(col("user_id")).orderBy(col("__t").asc)
        .rangeBetween(-horizon, 0)
      val wF = Window.partitionBy(col("user_id")).orderBy(col("__t").asc)
        .rangeBetween(0, horizon)
      val u = buys.select(col("event_id"), col("user_id"), col("ts"),
          col("__pts").as("__t"), lit(null).cast("long").as("__cts"),
          lit(null).cast("long").as("__cid"), lit(1).as("__isbuy"))
        .unionByName(clicks.select(lit(null).cast("long").as("event_id"),
          col("user_id"), lit(null).cast("timestamp").as("ts"),
          col("__cts").as("__t"), col("__cts"), col("__cid"),
          lit(0).as("__isbuy")))
      val back = max(when(col("__isbuy") === 0,
        struct(col("__cts").as("t"), col("__cid").as("id")))).over(wB)
      val fwd = min(when(col("__isbuy") === 0,
        struct(col("__cts").as("t"), col("__cid").as("id")))).over(wF)
      u.withColumn("__b", back).withColumn("__f", fwd)
        .filter(col("__isbuy") === 1)
        .withColumn("__db", col("__t") - col("__b.t"))
        .withColumn("__df", col("__f.t") - col("__t"))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("__b").isNull && col("__f").isNull, lit(null).cast("long"))
            .when(col("__f").isNull, col("__b.id"))
            .when(col("__b").isNull, col("__f.id"))
            .when(col("__db") <= col("__df"), col("__b.id"))
            .otherwise(col("__f.id")).as("nearest_click_id"))
    },
      // nearest join: correlated nearest-either-side probe, tie to earlier
      oracle = """SELECT p.event_id, p.user_id, p.ts,
           (SELECT c.event_id FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 86400000000
            ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
              epoch_us(c.ts) ASC LIMIT 1) AS nearest_click_id
         FROM events p WHERE p.event_type = 'purchase'"""),

    // ---- A: TPC-H Q6 shape — forecast revenue from a discount band ----
    Gate("q225_forecast_revenue", (s, dir) => {
      // the canonical scan-dominant aggregate: one predicate over the fact
      // table, zero joins, single-row partial+final agg. At 100 TB this is
      // pure scan bandwidth — the three filters and the 3-column projection
      // must reach the parquet reader (PushedFilters/ReadSchema audited in
      // PLANS.md); revenue is an exact decimal sum cast to double last.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount").between(0.04, 0.08) &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast(D) * col("l_discount").cast(D))
            .cast("double").as("revenue"))
    },
      // TPC-H Q6: exact decimal(18,2) product sum, double cast last
      oracle = """SELECT count(*) AS n_lines,
         cast(sum(cast(l_extendedprice AS decimal(18,2)) *
                  cast(l_discount AS decimal(18,2))) AS double) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.04 AND 0.08 AND l_quantity < 24"""),

    // ---- J/A: TPC-H Q15 shape — top supplier(s) by quarterly revenue ----
    Gate("q226_top_supplier", (s, dir) => {
      // two-pass argmax: aggregate once per supplier, reduce to the single
      // max row, then equi-join back on the EXACT decimal revenue (never a
      // global window sort). Spark's ReuseExchange collapses the two uses
      // of `rev` into one shuffle; `best` is a 1-row broadcast.
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast(D) *
          (lit(1) - col("l_discount").cast(D))).as("r"))
      val best = rev.agg(max(col("r")).as("rmax"))
      rev.join(broadcast(best), col("r") === col("rmax"))
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("r").cast("double").as("total_revenue"))
    },
      // TPC-H Q15: argmax join on the EXACT decimal revenue (ties kept)
      oracle = """WITH rev AS (
           SELECT l_suppkey,
             sum(cast(l_extendedprice AS decimal(18,2)) *
                 (1 - cast(l_discount AS decimal(18,2)))) AS r
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, cast(r AS double) AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE r = (SELECT max(r) FROM rev)"""),

    // ---- J/A: TPC-H Q19 shape — disjunctive brand/size/qty revenue ----
    Gate("q227_disjunctive_revenue", (s, dir) => {
      // the classic Q19 rewrite: the OR-of-ANDs stays a RESIDUAL filter on
      // an equi-hash-join (never a nested-loop θ-join), and the disjunction's
      // union bounds (3 brands, size ≤ 35, qty ∈ [1,30]) are factored out and
      // pushed to each scan so both sides prune before the shuffle.
      val p = Tables.part(s, dir)
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34") &&
          col("p_size").between(1, 35))
        .select("p_partkey", "p_brand", "p_size")
      val l = Tables.lineitem(s, dir)
        .filter(col("l_quantity").between(1, 30))
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice").cast(D) *
            (lit(1) - col("l_discount").cast(D))).as("vol"))
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(count(lit(1)).as("n_lines"),
          sum(col("vol")).cast("double").as("revenue"))
    },
      // TPC-H Q19: OR-of-ANDs residual over the part equi-join
      oracle = """SELECT count(*) AS n_lines,
         cast(sum(cast(l_extendedprice AS decimal(18,2)) *
                  (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                AND l_quantity BETWEEN 20 AND 30)"""),

    // ---- EXT: MERGE INTO apply (insert/update/delete classification) ----
    Gate("q255_merge_apply", (s, dir) => {
      // the lakehouse MERGE statement as one full-outer join + CASE: a
      // deterministic change batch (updates %7, tombstones %13 — taking
      // precedence, inserts keys+1e9) applied to orders; output = resulting
      // table rows tagged with the action that produced them (deletes
      // excluded, as MERGE leaves them). One shuffle on the merge key.
      val t = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val src = Tables.orders(s, dir).select(col("o_orderkey"))
        .filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 13 === 0, "D").otherwise("U").as("op"),
          lit("X").as("new_status"))
        .unionAll(Tables.orders(s, dir)
          .filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 1000000000L).as("k"),
            lit("I").as("op"), lit("N").as("new_status")))
      t.join(src, col("o_orderkey") === col("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(
          coalesce(col("o_orderkey"), col("k")).as("o_orderkey"),
          when(col("op") === "U" || col("op") === "I", col("new_status"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("op") === "U", "update")
            .when(col("op") === "I", "insert")
            .otherwise("noop").as("action"))
    },
      // merge apply: mirrored full-outer + CASE classification
      oracle = """WITH src AS (SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
           'X' AS new_status
           FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 13 = 0
           UNION ALL
           SELECT o_orderkey + 1000000000 AS k, 'I' AS op, 'N' AS new_status
           FROM orders WHERE o_orderkey % 11 = 0)
         SELECT coalesce(t.o_orderkey, s.k) AS o_orderkey,
           CASE WHEN s.op IN ('U', 'I') THEN s.new_status
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.op = 'U' THEN 'update'
                WHEN s.op = 'I' THEN 'insert'
                ELSE 'noop' END AS action
         FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.k
         WHERE s.op IS NULL OR s.op <> 'D'"""),

    // ---- EXT: join-skew profile (pre-flight cardinality planning) ----
    Gate("q260_join_skew_profile", (s, dir) => {
      // what a planner computes BEFORE a big join: per-key output
      // contribution a_k·b_k from the two key histograms (never the join
      // itself), the total predicted size, and the heaviest keys — the
      // evidence that decides salting. Integer-exact; top-10 tie-broken on
      // key.
      val e = Tables.events(s, dir)
      val a = e.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(count(lit(1)).as("na"))
      val b = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("nb"))
      val contrib = a.join(b, Seq("user_id"))
        .select(col("user_id"), (col("na") * col("nb")).as("pairs"))
      val tot = contrib.agg(sum(col("pairs")).as("__t"))
      contrib.crossJoin(broadcast(tot))
        .orderBy(col("pairs").desc, col("user_id"))
        .limit(10)
        .select(col("user_id"), col("pairs"),
          col("__t").as("total_predicted_pairs"))
    },
      // join-skew profile: mirrored histogram product + top-10 by (pairs
      // desc, key)
      oracle = """WITH a AS (SELECT user_id, count(*) AS na FROM events
           WHERE event_type = 'click' GROUP BY 1),
         b AS (SELECT user_id, count(*) AS nb FROM events
           WHERE event_type = 'purchase' GROUP BY 1),
         c AS (SELECT a.user_id, na * nb AS pairs
           FROM a JOIN b USING (user_id)),
         t AS (SELECT sum(pairs) AS tp FROM c)
         SELECT user_id, cast(pairs AS bigint) AS pairs,
           cast((SELECT tp FROM t) AS bigint) AS total_predicted_pairs
         FROM c ORDER BY pairs DESC, user_id LIMIT 10"""),

    // ---- EXT: null-safe equi-join (<=>) ----
    Gate("q271_null_safe_join", (s, dir) => {
      // reconciliation joins must pair NULL keys too — plain equality
      // silently drops them. Sides pre-aggregate per key (histogram
      // discipline), then one null-safe hash join; the NULL group pairs
      // like any other key.
      val e = Tables.events(s, dir)
        .select(nullif(col("event_type"), lit("view")).as("k"),
          col("event_id"))
      val a = e.filter(col("event_id") % 2 === 0)
        .groupBy(col("k")).agg(count(lit(1)).as("na"))
      val b = e.filter(col("event_id") % 2 === 1)
        .groupBy(col("k")).agg(count(lit(1)).as("nb"))
      a.join(b, a("k") <=> b("k"))
        .select(a("k").as("k"), col("na"), col("nb"),
          (col("na") * col("nb")).as("n_pairs"))
    },
      // null-safe join: IS NOT DISTINCT FROM pairs the NULL group too
      oracle = """WITH e AS (SELECT nullif(event_type, 'view') AS k, event_id
           FROM events),
         a AS (SELECT k, count(*) AS na FROM e
           WHERE event_id % 2 = 0 GROUP BY k),
         b AS (SELECT k, count(*) AS nb FROM e
           WHERE event_id % 2 = 1 GROUP BY k)
         SELECT a.k, cast(na AS bigint) AS na, cast(nb AS bigint) AS nb,
           cast(na * nb AS bigint) AS n_pairs
         FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k"""),

    // ---- S6: copy-on-write row update (upsert) ----
    Gate("q73_upsert", (s, dir) => {
      // the reference's field-wise UPDATE (crud.py:52-68) over a snapshot:
      // every 10th order gets its status rewritten; the merged view must be
      // base-with-updates-applied, which the oracle states as two UNION'd
      // complements.
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val updates = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("X"))
      Joins.upsert(base, updates, Seq("o_orderkey"))
    },
      // copy-on-write upsert = the two complements, stated directly
      oracle = """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey % 10 <> 0
         UNION ALL
         SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus FROM orders WHERE o_orderkey % 10 = 0"""),

    // ---- range (interval) join: bucketized equi-join, never a θ-join ----
    Gate("q105_range_join", (s, dir) => {
      // 100 hourly intervals every 2h from the event log's first midnight;
      // count events + distinct users per interval
      val ev = Tables.events(s, dir).withColumn("es", col("ts").cast("long"))
      val anchor = ev.agg(floor(min(col("es")) / 86400L).cast("long").as("__d"))
      val iv = s.range(100).select(col("id").as("interval_id"))
        .crossJoin(broadcast(anchor))
        .withColumn("start_s", col("__d") * 86400L + col("interval_id") * 7200L)
        .withColumn("end_s", col("start_s") + 3600L)
        .drop("__d")
      Joins.rangeJoin(ev, "es", iv, "start_s", "end_s", bucketSeconds = 3600L)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nu"))
    },
      // range join: the oracle is the plain inequality join (the bucketized
      // equi-join is internal to the operator and result-identical)
      oracle = """WITH a AS (SELECT cast(floor(min(cast(floor(epoch(ts)) AS bigint)) / 86400) AS bigint) AS d
                    FROM events),
         iv AS (SELECT i AS interval_id, d*86400 + i*7200 AS start_s,
                       d*86400 + i*7200 + 3600 AS end_s
                FROM generate_series(0, 99) g(i), a),
         j AS (SELECT iv.interval_id, e.user_id
               FROM events e JOIN iv
                 ON cast(floor(epoch(e.ts)) AS bigint) >= iv.start_s
                AND cast(floor(epoch(e.ts)) AS bigint) < iv.end_s)
         SELECT interval_id, count(*) AS n, count(DISTINCT user_id) AS nu
         FROM j GROUP BY 1"""),

    // ---- EXT: join-cardinality estimator audit (optimizer literacy) ----
    Gate("q315_join_card_estimate", (s, dir) => {
      // |R ⋈ R on k| exactly = Σ c(k)² vs the textbook uniform estimate
      // n²/d — the statistic behind every optimizer's join reorder; the
      // ratio IS the key-skew penalty the estimate misses
      val freq = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("__c"))
      freq.agg(
          sum(col("__c")).as("n"),
          count(lit(1)).as("n_distinct_keys"),
          sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__exact"))
        .select(col("n"), col("n_distinct_keys"),
          col("__exact").cast("long").as("exact_pairs"),
          (round(col("n").cast("double") * col("n").cast("double") /
            col("n_distinct_keys").cast("double"), 2) + lit(0.0d))
            .as("est_pairs"),
          (round(col("__exact").cast("double") /
            (col("n").cast("double") * col("n").cast("double") /
              col("n_distinct_keys").cast("double")), 6) + lit(0.0d))
            .as("skew_ratio"))
    },
      // join cardinality: exact Σc² vs the uniform n²/d textbook estimate
      oracle = """WITH f AS (SELECT l_partkey, cast(count(*) AS bigint) AS c
           FROM lineitem GROUP BY 1),
         m AS (SELECT cast(sum(c) AS bigint) AS n,
             cast(count(*) AS bigint) AS d,
             sum(cast(c AS hugeint) * c) AS ex FROM f)
         SELECT n, d AS n_distinct_keys, cast(ex AS bigint) AS exact_pairs,
           round(cast(n AS double) * cast(n AS double) / cast(d AS double),
             2) + 0.0 AS est_pairs,
           round(cast(ex AS double) / (cast(n AS double) * cast(n AS double)
             / cast(d AS double)), 6) + 0.0 AS skew_ratio
         FROM m"""),

    // ---- EXT: join-skew audit (exact Gini, no global sort) ----
    Gate("q411_join_skew", (s, dir) => {
      // the pre-salting diagnostic: how skewed is the lineitem→orders join
      // key? Everything derives from the FREQUENCY-OF-FREQUENCIES table
      // (multiplicity c → t keys), which is bounded by the max lines per
      // order, never key-count-sized — so the Gini's rank sums are EXACT
      // integer algebra over a ≤dozens-row table instead of a global sort
      // over millions of keys: keys of multiplicity c occupy a contiguous
      // ascending-rank run [r0, r0+t), contributing c·(t·r0 + t(t−1)/2)
      // to Σ r·c_r; G = (2·Σ r·c_r) / (n·Σc) − (n+1)/n.
      import org.apache.spark.sql.expressions.Window
      val ff = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("__c"))
        .groupBy(col("__c")).agg(count(lit(1)).as("__t"))
      val wc = Window.orderBy(col("__c"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val runs = ff
        .withColumn("__r0", coalesce(sum(col("__t")).over(wc), lit(0L)) + 1L)
        .withColumn("__rsum",
          col("__c") * (col("__t") * col("__r0") +
            expr("__t * (__t - 1) div 2")))
      runs.agg(sum(col("__t")).as("n_keys"),
          sum(col("__c") * col("__t")).as("n_rows"),
          max(col("__c")).as("max_mult"),
          sum(col("__rsum")).as("__s"))
        .select(col("n_keys"), col("n_rows"), col("max_mult"),
          (round(lit(2.0d) * col("__s").cast("double") /
            (col("n_keys").cast("double") * col("n_rows").cast("double")) -
            (col("n_keys") + 1L).cast("double") /
            col("n_keys").cast("double"), 6) + lit(0.0d)).as("gini"))
    },
      oracle = """WITH f AS (SELECT l_orderkey, cast(count(*) AS bigint) AS c
           FROM lineitem GROUP BY 1),
         ff AS (SELECT c, cast(count(*) AS bigint) AS t FROM f GROUP BY 1),
         runs AS (SELECT c, t,
             coalesce(sum(t) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
               AS r0
           FROM ff),
         agg AS (SELECT cast(sum(t) AS bigint) AS n_keys,
             cast(sum(c * t) AS bigint) AS n_rows,
             cast(max(c) AS bigint) AS max_mult,
             cast(sum(c * (t * r0 + t * (t - 1) // 2)) AS bigint) AS s
           FROM runs)
         SELECT n_keys, n_rows, max_mult,
           round(2.0 * cast(s AS double)
             / (cast(n_keys AS double) * cast(n_rows AS double))
             - cast(n_keys + 1 AS double) / cast(n_keys AS double), 6)
             + 0.0 AS gini
         FROM agg"""),

    // ---- EXT: native as-of join (custom LogicalPlan + Strategy + Exec) ----
    Gate("q433_asof_native", (s, dir) => {
      // q69's exact query through the custom-operator VERTICAL
      // (AsofJoinNode → AsofJoinStrategy → AsofJoinExec) instead of the
      // union+window rewrite: one sort per side inside the hash
      // co-partitioning, one forward merge pass with a single row of
      // state, left partitioning/ordering passed through. Same oracle
      // shape as q69 (DuckDB native ASOF LEFT JOIN).
      val ev = Tables.events(s, dir).select(col("event_id"),
        (col("user_id") % 25).as("k"),
        date_trunc("second", col("ts")).as("ets"))
      val rates = Tables.nation(s, dir)
        .select(col("n_nationkey").as("k"),
          explode(sequence(lit(0), lit(29))).as("d"))
        .select(col("k"),
          to_timestamp(date_add(lit("2024-01-01").cast("date"), col("d")))
            .as("eff"),
          (((col("k") * 31 + col("d") * 7) % 100).cast("double") / 10)
            .as("rate"))
      graft.operators.Joins
        .asofJoinNative(ev, rates, "k", "ets", "eff", Seq("rate"))
        .select("event_id", "k", "asof_rate")
    },
      oracle = """WITH ev AS (SELECT event_id, user_id % 25 AS k,
                            date_trunc('second', ts) AS ets FROM events),
         rates AS (SELECT n_nationkey AS k,
                     TIMESTAMP '2024-01-01' + d * INTERVAL 1 DAY AS eff,
                     cast((n_nationkey * 31 + d * 7) % 100 as double) / 10 AS rate
                   FROM nation, unnest(generate_series(0, 29)) AS u(d))
         SELECT e.event_id, e.k, r.rate AS asof_rate
         FROM ev e ASOF LEFT JOIN rates r ON e.k = r.k AND e.ets >= r.eff"""),

    // ---- EXT: snapshot diff (CDC classification) ----
    Gate("q436_snapshot_diff", (s, dir) => {
      // the warehouse diff operator: two snapshots full-outer-joined on
      // the key, every row classified added / removed / changed /
      // unchanged, plus per-column change counts — the summary a CDC
      // pipeline emits per sync. Snapshot B derives deterministically
      // from A (the q200 dimNew convention): every 50th order re-priced,
      // every 97th dropped, synthetic new keys appended. ONE shuffle on
      // the key; comparisons in exact cents.
      val a = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast(D) * 100).cast("long").as("cents"),
        col("o_orderstatus").as("st"))
      val b0 = a.filter(col("k") % 97 =!= 0)
        .withColumn("cents",
          when(col("k") % 50 === 0, col("cents") + 1000L)
            .otherwise(col("cents")))
      val bNew = a.agg(max(col("k")).as("__m"))
        .select(explode(sequence(lit(1), lit(20))).as("__i"),
          col("__m"))
        .select((col("__m") + col("__i")).as("k"),
          (col("__i") * 12345L).as("cents"), lit("O").as("st"))
      val b = b0.unionByName(bNew)
      val j = a.select(col("k"), col("cents").as("ca"), col("st").as("sa"))
        .join(b.select(col("k"), col("cents").as("cb"), col("st").as("sb")),
          Seq("k"), "full_outer")
      j.select(
          when(col("ca").isNull, "added")
            .when(col("cb").isNull, "removed")
            .when(col("ca") =!= col("cb") || col("sa") =!= col("sb"),
              "changed")
            .otherwise("unchanged").as("change_class"),
          when(col("ca").isNotNull && col("cb").isNotNull &&
            col("ca") =!= col("cb"), 1L).otherwise(0L).as("__pc"),
          when(col("ca").isNotNull && col("cb").isNotNull &&
            col("sa") =!= col("sb"), 1L).otherwise(0L).as("__sc"))
        .groupBy(col("change_class"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("__pc")).as("n_price_changes"),
          sum(col("__sc")).as("n_status_changes"))
    },
      oracle = """WITH a AS (SELECT o_orderkey AS k,
             cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
               AS cents,
             o_orderstatus AS st
           FROM orders),
         b0 AS (SELECT k,
             CASE WHEN k % 50 = 0 THEN cents + 1000 ELSE cents END AS cents,
             st
           FROM a WHERE k % 97 <> 0),
         bn AS (SELECT (SELECT max(k) FROM a) + i AS k,
             cast(i * 12345 AS bigint) AS cents, 'O' AS st
           FROM (SELECT unnest(generate_series(1, 20)) AS i)),
         b AS (SELECT * FROM b0 UNION ALL SELECT * FROM bn),
         j AS (SELECT a.cents AS ca, a.st AS sa, b.cents AS cb, b.st AS sb
           FROM a FULL OUTER JOIN b ON a.k = b.k)
         SELECT CASE WHEN ca IS NULL THEN 'added'
                WHEN cb IS NULL THEN 'removed'
                WHEN ca <> cb OR sa <> sb THEN 'changed'
                ELSE 'unchanged' END AS change_class,
           cast(count(*) AS bigint) AS n_rows,
           cast(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
             AND ca <> cb THEN 1 ELSE 0 END) AS bigint)
             AS n_price_changes,
           cast(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
             AND sa <> sb THEN 1 ELSE 0 END) AS bigint)
             AS n_status_changes
         FROM j GROUP BY 1"""),

    // ---- EXT: feature-store point-in-time training matrix ----
    Gate("q437_feature_matrix", (s, dir) => {
      // THE feature-store operator: assemble a leakage-free training
      // matrix — for every label row (purchases = the spine), each
      // feature's value AS OF the label timestamp, never after it. Two
      // feature tables with different keys and version grains: the q69
      // rates dimension (native as-of operator) and a running
      // activity-count feature derived from the event stream itself
      // (union+window as-of) — chaining both engine implementations in
      // one pipeline. Point-in-time is the ≤ convention throughout.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val spine = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          (col("user_id") % 25).as("k"),
          date_trunc("second", col("ts")).as("ets"))
      val rates = Tables.nation(s, dir)
        .select(col("n_nationkey").as("k"),
          explode(sequence(lit(0), lit(29))).as("d"))
        .select(col("k"),
          to_timestamp(date_add(lit("2024-01-01").cast("date"), col("d")))
            .as("eff"),
          (((col("k") * 31 + col("d") * 7) % 100).cast("double") / 10)
            .as("rate"))
      val wCum = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val activity = ev
        .withColumn("__cum", count(lit(1)).over(wCum))
        .groupBy(col("user_id"),
          date_trunc("second", col("ts")).as("vts"))
        .agg(max(col("__cum")).as("cum_events"))
      val f1 = graft.operators.Joins.asofJoinNative(
        spine, rates, "k", "ets", "eff", Seq("rate"))
      graft.operators.Joins.asofJoin(
          f1, activity, "user_id", "ets", "vts", Seq("cum_events"))
        .select(col("event_id"), col("user_id"), col("k"),
          col("asof_rate"), col("asof_cum_events"))
    },
      oracle = """WITH spine AS (SELECT event_id, user_id, user_id % 25 AS k,
             date_trunc('second', ts) AS ets
           FROM events WHERE event_type = 'purchase'),
         rates AS (SELECT n_nationkey AS k,
             TIMESTAMP '2024-01-01' + d * INTERVAL 1 DAY AS eff,
             cast((n_nationkey * 31 + d * 7) % 100 as double) / 10 AS rate
           FROM nation, unnest(generate_series(0, 29)) AS u(d)),
         act0 AS (SELECT user_id, ts, event_id,
             count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM events),
         act AS (SELECT user_id, date_trunc('second', ts) AS vts,
             cast(max(cum) AS bigint) AS cum_events
           FROM act0 GROUP BY 1, 2)
         SELECT s.event_id, s.user_id, s.k, r.rate AS asof_rate,
           a.cum_events AS asof_cum_events
         FROM spine s
         ASOF LEFT JOIN rates r ON s.k = r.k AND s.ets >= r.eff
         ASOF LEFT JOIN act a ON s.user_id = a.user_id
           AND s.ets >= a.vts"""),
  )
}
