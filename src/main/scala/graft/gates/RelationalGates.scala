package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Relational => R}
import graft.functions.Scalars
import Gate.D

/** Filters, lookups, projections, sort/limit/pagination, set operations,
  * scalar functions, the SQL surface, validation and data-quality audits, and
  * layout and encoding advisors. */
object RelationalGates {
  /** One SQL text shared verbatim by the Spark SQL surface (q49) and its
    * DuckDB oracle — revenue per supplier nation in a region and date range
    * (TPC-H Q5 shape over the fixture star schema). */
  private val RegionRevenueSql: String =
    """SELECT n_name,
       cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))) as double) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1999-01-01'
       GROUP BY n_name"""

  /** Shared verbatim by the Spark SQL surface (q317) and its DuckDB
    * oracle: `GROUP BY ALL` — group on every non-aggregate select item,
    * the analyst-ergonomics syntax both engines support natively. */
  private val GroupByAllSql: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
       cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total
       FROM orders GROUP BY ALL"""

  /** Generated DuckDB oracle for q312: the Luhn sum as twelve explicit
    * per-position terms (odd distance from the right doubles, minus 9
    * above 4) — the same expression tree `Scalars.luhnValid` emits. */
  private val LuhnOracleSql: String = {
    val width = 12
    val terms = (1 to width).map { pos =>
      val d = s"cast(substr(acct, $pos, 1) AS int)"
      if ((width - pos) % 2 == 1)
        s"(CASE WHEN $d * 2 > 9 THEN $d * 2 - 9 ELSE $d * 2 END)"
      else d
    }.mkString(" + ")
    s"""WITH nums AS (SELECT c_mktsegment,
            lpad(cast(c_custkey * 37 % 100000000000 AS varchar), 11, '0')
              || cast(c_custkey % 10 AS varchar) AS acct
          FROM customer)
        SELECT c_mktsegment, cast(count(*) AS bigint) AS n,
          cast(sum(CASE WHEN length(acct) = $width
            AND ($terms) % 10 = 0 THEN 1 ELSE 0 END) AS bigint) AS n_valid,
          round(cast(sum(CASE WHEN length(acct) = $width
              AND ($terms) % 10 = 0 THEN 1 ELSE 0 END) AS double)
            / cast(count(*) AS double), 6) + 0.0 AS valid_rate
        FROM nums GROUP BY 1"""
  }

  /** Generated DuckDB oracle for q412: one correlated-EXISTS scorecard row
    * per FK edge, unioned. */
  private val FkScorecardOracleSql: String = {
    val edges = Seq(
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"))
    edges.map { case (n, c, ck, p, pk) =>
      s"""SELECT '$n' AS edge,
           (SELECT cast(count(*) AS bigint) FROM $c) AS child_rows,
           (SELECT cast(count(DISTINCT $ck) AS bigint) FROM $c) AS child_keys,
           (SELECT cast(count(*) AS bigint) FROM $c WHERE NOT EXISTS
             (SELECT 1 FROM $p WHERE $pk = $c.$ck)) AS orphan_rows,
           (SELECT cast(count(*) AS bigint) FROM $p WHERE EXISTS
             (SELECT 1 FROM $c WHERE $ck = $p.$pk)) AS parents_referenced,
           (SELECT cast(count(*) AS bigint) FROM $p) AS parent_rows,
           round(cast((SELECT count(*) FROM $p WHERE EXISTS
             (SELECT 1 FROM $c WHERE $ck = $p.$pk)) AS double)
             / cast((SELECT count(*) FROM $p) AS double), 6) + 0.0
             AS parent_coverage"""
    }.mkString("\n         UNION ALL ")
  }

  /** q420's rule table — the SAME data drives the Spark rule engine and the
    * generated DuckDB oracle, so a rule edit cannot desynchronize the two
    * sides. (rule_id, column, op, arg). */
  private val DqRules: Seq[(String, String, String, String)] = Seq(
    ("r01_status_domain", "o_orderstatus", "in", "O|F|P"),
    ("r02_price_positive", "o_totalprice", "gt", "0"),
    ("r03_priority_format", "o_orderpriority", "regex", "^[1-5]-[A-Z ]+$"),
    ("r04_date_bounds", "o_orderdate", "between", "1995-01-01|1999-12-31"),
    ("r05_custkey_notnull", "o_custkey", "not_null", ""),
    ("r06_key_positive", "o_orderkey", "gt", "0"))

  /** Generated DuckDB oracle for q420: one UNION ALL arm per rule, each the
    * unrolled form of the predicate the Spark engine builds from the same
    * tuple. */
  private val DqRuleOracleSql: String = {
    def cond(column: String, op: String, arg: String): String = op match {
      case "not_null" => s"$column IS NOT NULL"
      case "gt"       => s"$column > $arg"
      case "ge"       => s"$column >= $arg"
      case "in"       =>
        arg.split('|').map(v => s"'$v'").mkString(s"$column IN (", ", ", ")")
      case "regex"    => s"regexp_matches($column, '$arg')"
      case "between"  =>
        val Array(lo, hi) = arg.split('|')
        s"$column BETWEEN '$lo' AND '$hi'"
    }
    DqRules.map { case (id, column, op, arg) =>
      s"""SELECT '$id' AS rule_id, '$column' AS column_name,
           cast(count(*) AS bigint) AS n_checked,
           cast(sum(CASE WHEN NOT coalesce(${cond(column, op, arg)}, FALSE)
             THEN 1 ELSE 0 END) AS bigint) AS n_violations,
           round(cast(sum(CASE WHEN NOT coalesce(${cond(column, op, arg)},
             FALSE) THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) + 0.0 AS violation_rate
         FROM orders"""
    }.mkString("\n         UNION ALL ")
  }

  val gates: Seq[Gate] = Seq(
    // ---- filters / lookups / projections (SURVEY §2.2) ----
    Gate("q02_point_lookup", (s, dir) =>
      R.pointLookup(Tables.customer(s, dir), "c_custkey", 42L)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"),
      oracle = "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = 42"),
    Gate("q03_or_lookup", (s, dir) =>
      Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING" || col("c_acctbal") < 100)
        .select("c_custkey", "c_name", "c_mktsegment"),
      oracle = """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_mktsegment = 'BUILDING' OR c_acctbal < 100"""),
    Gate("q04_multi_filter", (s, dir) =>
      R.multiFilter(Tables.lineitem(s, dir), Seq(
        col("l_shipdate").between(lit("1996-01-01"), lit("1997-12-31")),
        col("l_quantity").between(10, 20),
        R.memberOf(col("l_returnflag"), Seq("A", "R"))))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"),
      oracle = """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
           AND l_quantity BETWEEN 10 AND 20
           AND l_returnflag IN ('A','R')"""),
    Gate("q05_regex_filter", (s, dir) =>
      Tables.part(s, dir)
        .filter(col("p_name").rlike("^(blue|large) .*t$"))
        .select("p_partkey", "p_name", "p_brand"),
      oracle = """SELECT p_partkey, p_name, p_brand FROM part
         WHERE regexp_matches(p_name, '^(blue|large) .*t$')"""),
    Gate("q06_projection_scalar", (s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey"),
        lower(col("c_name")).as("name_lower"),
        length(col("c_name")).as("name_len"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat(col("c_mktsegment"), lit(":"), col("c_name")).as("tagged")),
      oracle = """SELECT c_custkey, lower(c_name) AS name_lower,
         cast(length(c_name) as int) AS name_len,
         substr(c_name, 1, 8) AS name_prefix,
         c_mktsegment || ':' || c_name AS tagged FROM customer"""),

    // ---- sort / limit / pagination (SURVEY §2.5) ----
    Gate("q09_topk", (s, dir) =>
      R.topK(Tables.orders(s, dir), 10, col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      oracle = """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
    Gate("q10_page", (s, dir) =>
      R.page(Tables.customer(s, dir), page = 3, size = 20, col("c_custkey").asc),
      oracle = "SELECT * FROM customer ORDER BY c_custkey LIMIT 20 OFFSET 40"),
    Gate("q11_pagination_meta", (s, dir) =>
      R.paginationMeta(Tables.customer(s, dir), page = 2, size = 100),
      oracle = """SELECT count(*) AS total, 2 AS page, 100 AS size,
         cast(ceil(count(*) / 100.0) as bigint) AS pages,
         2 < cast(ceil(count(*) / 100.0) as bigint) AS has_next,
         true AS has_prev
         FROM customer"""),

    // ---- P4/P6: row-level security + optional filter ----
    Gate("q60_rls_optional_filter", (s, dir) =>
      // the reference's universal read path: non-admin RLS scope, then an
      // optional equality filter only when the caller passed a value
      R.optionalFilter(
        R.forUser(Tables.events(s, dir), "user_id", 42L, "user"),
        "event_type", Some("click"))
        .select("event_id", "user_id", "event_type", "value"),
      oracle = """SELECT event_id, user_id, event_type, value FROM events
         WHERE user_id = 42 AND event_type = 'click'"""),

    // ---- P10: coordinate-range validation ----
    Gate("q62_coord_validation", (s, dir) =>
      // derived coords intentionally spill out of [-180,180]×[-90,90] so
      // both branches of the CHECK predicate carry rows
      Tables.customer(s, dir)
        .select((col("c_custkey") * 7 % 400 - 200).cast("double").as("lon"),
          (col("c_custkey") * 13 % 200 - 100).cast("double").as("lat"))
        .groupBy(R.validCoords(col("lon"), col("lat")).as("valid"))
        .agg(count(lit(1)).as("n")),
      oracle = """WITH pts AS (SELECT cast(c_custkey * 7 % 400 - 200 as double) AS lon,
                             cast(c_custkey * 13 % 200 - 100 as double) AS lat
                      FROM customer)
         SELECT (lat BETWEEN -90 AND 90) AND (lon BETWEEN -180 AND 180) AS valid,
                count(*) AS n
         FROM pts GROUP BY 1"""),

    // ---- P12: UUID-format validation ----
    Gate("q63_uuid_validation", (s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val uuid = concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
        substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12))
      Tables.documents(s, dir)
        .select(when(col("doc_id") % 7 === 0, lit("not-a-uuid"))
          .otherwise(uuid).as("cand"))
        .groupBy(col("cand").rlike(R.UuidRe).as("valid"))
        .agg(count(lit(1)).as("n"))
    },
      oracle = """WITH c AS (SELECT CASE WHEN doc_id % 7 = 0 THEN 'not-a-uuid'
             ELSE substr(md5(cast(doc_id as varchar)), 1, 8) || '-'
               || substr(md5(cast(doc_id as varchar)), 9, 4) || '-'
               || substr(md5(cast(doc_id as varchar)), 13, 4) || '-'
               || substr(md5(cast(doc_id as varchar)), 17, 4) || '-'
               || substr(md5(cast(doc_id as varchar)), 21, 12) END AS cand
           FROM documents)
         SELECT regexp_matches(cand,
           '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$') AS valid,
           count(*) AS n
         FROM c GROUP BY 1"""),

    // ---- F8: exponential-backoff delay series ----
    Gate("q65_backoff", (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_orderkey") % 6).cast("int").as("attempt"))
        .withColumn("delay_s",
          Scalars.backoffDelay(col("attempt"), delay = 1.0, backoff = 2.0)),
      oracle = """SELECT o_orderkey, cast(o_orderkey % 6 as int) AS attempt,
         1.0 * power(2.0, cast(o_orderkey % 6 as int)) AS delay_s
         FROM orders"""),

    // ---- S5: insert-path DDL defaults ----
    Gate("q66_insert_defaults", (s, dir) => {
      // task-insert rows with nulls/missing columns; applyDefaults fills
      // status/progress where null and adds the absent priority column —
      // the DDL-default write path (init.sql:64-65) with deterministic
      // defaults so the gate hashes (uuid/now defaults stay spec-tested).
      val inserts = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"),
        when(col("o_orderkey") % 3 === 0, col("o_orderstatus")).as("status"),
        when(col("o_orderkey") % 2 === 0,
          (col("o_orderkey") % 100).cast("double") / 100).as("progress"))
      Schemas.applyDefaults(inserts, scala.collection.immutable.ListMap(
        "status" -> lit("pending"),
        "progress" -> lit(0.0),
        "priority" -> lit(5)))
    },
      oracle = """SELECT o_orderkey AS id,
         coalesce(CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END, 'pending') AS status,
         coalesce(CASE WHEN o_orderkey % 2 = 0
                       THEN cast(o_orderkey % 100 as double) / 100 END, 0.0) AS progress,
         5 AS priority
         FROM orders"""),

    // ---- W2 scale path: keyset pagination ----
    Gate("q67_keyset_page", (s, dir) =>
      // the 100 TB-safe variant of q10: pushdown range + top-k, no global
      // row_number window
      R.keysetPage(Tables.customer(s, dir), "c_custkey", Some(40L), 20),
      oracle = "SELECT * FROM customer WHERE c_custkey > 40 ORDER BY c_custkey LIMIT 20"),

    // ---- S: anti-entropy bucket checksum diff (table reconciliation) ----
    Gate("q189_checksum_diff", (s, dir) => {
      val a = Tables.lineitem(s, dir)
      // b = a with a deterministic simulated drift: every 997th order's
      // lines get +1 quantity (reconciliation target)
      val b = a.withColumn("l_quantity",
        when(col("l_orderkey") % 997 === 0, col("l_quantity") + 1)
          .otherwise(col("l_quantity")))
      val repr = concat_ws("|",
        col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
        col("l_quantity").cast("string"))
      graft.sources.Sources.checksumDiff(a, b,
        concat_ws("#", col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string")),
        repr, nBuckets = 64)
    },
      // checksum diff: same-construction both sides; bit_xor of a 60-bit md5
      // digest is order-independent, so engine shuffle order cannot matter
      oracle = """WITH a AS (SELECT
             ('0x' || substr(md5(cast(l_orderkey AS varchar) || '#' ||
               cast(l_linenumber AS varchar)), 1, 8))::bigint % 64 AS bucket,
             ('0x' || substr(md5(cast(l_orderkey AS varchar) || '|' ||
               cast(l_linenumber AS varchar) || '|' ||
               cast(l_quantity AS varchar)), 1, 15))::bigint AS h
           FROM lineitem),
         b AS (SELECT
             ('0x' || substr(md5(cast(l_orderkey AS varchar) || '#' ||
               cast(l_linenumber AS varchar)), 1, 8))::bigint % 64 AS bucket,
             ('0x' || substr(md5(cast(l_orderkey AS varchar) || '|' ||
               cast(l_linenumber AS varchar) || '|' ||
               cast(CASE WHEN l_orderkey % 997 = 0 THEN l_quantity + 1
                 ELSE l_quantity END AS varchar)), 1, 15))::bigint AS h
           FROM lineitem),
         ca AS (SELECT bucket, count(*) AS n_a, bit_xor(h) AS sum_a
           FROM a GROUP BY 1),
         cb AS (SELECT bucket, count(*) AS n_b, bit_xor(h) AS sum_b
           FROM b GROUP BY 1)
         SELECT bucket, n_a, sum_a, n_b, sum_b
         FROM ca FULL OUTER JOIN cb USING (bucket)
         WHERE n_a IS NULL OR n_b IS NULL OR n_a <> n_b OR sum_a <> sum_b"""),

    // ---- A: functional-dependency violation detector ----
    Gate("q193_fd_violations", (s, dir) =>
      graft.operators.Analyses.fdViolations(
        Tables.part(s, dir), Seq("p_brand", "p_type"), "p_size"),
      // FD violations: plain grouped count-distinct probe
      oracle = """SELECT p_brand, p_type, count(DISTINCT p_size) AS n_rhs,
           count(*) AS n_rows, min(p_size) AS rhs_min, max(p_size) AS rhs_max
         FROM part GROUP BY 1, 2 HAVING count(DISTINCT p_size) > 1"""),

    // ---- P: multi-rule validation with violation tags ----
    Gate("q208_rule_tags", (s, dir) => {
      // rule-tagged quarantine split: each failing row carries the SORTED
      // list of violated rules (joined to one string for a stable compare)
      val c = Tables.customer(s, dir)
      val viol = array_sort(org.apache.spark.sql.functions.filter(array(
        when(col("c_acctbal") < -500, lit("balance_low")),
        when(col("c_acctbal") > 9000, lit("balance_high")),
        when(!col("c_mktsegment").isin("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY"), lit("bad_segment")),
        when(col("c_custkey") % 1000 === 0, lit("audit_sample"))),
        x => x.isNotNull))
      c.withColumn("violations", concat_ws(",", viol))
        .filter(col("violations") =!= "")
        .select("c_custkey", "c_acctbal", "c_mktsegment", "violations")
    },
      // rule tags: sorted violated-rule list joined to one stable string
      oracle = """SELECT * FROM (
           SELECT c_custkey, c_acctbal, c_mktsegment,
             array_to_string(list_sort(list_filter([
               CASE WHEN c_acctbal < -500 THEN 'balance_low' END,
               CASE WHEN c_acctbal > 9000 THEN 'balance_high' END,
               CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING',
                 'FURNITURE', 'HOUSEHOLD', 'MACHINERY') THEN 'bad_segment' END,
               CASE WHEN c_custkey % 1000 = 0 THEN 'audit_sample' END],
               x -> x IS NOT NULL)), ',') AS violations
           FROM customer) t
         WHERE violations <> ''"""),

    // ---- EXT: referential-integrity orphan audit ----
    Gate("q242_orphan_audit", (s, dir) => {
      // FK health check across the star schema: per relation, child rows
      // whose key has no parent — one left join + agg per relation (parent
      // key sets deduped; AQE broadcasts the small sides). The audit every
      // warehouse load runs before publishing.
      def audit(rel: String, child: DataFrame, key: String,
                parent: DataFrame, pkey: String): DataFrame =
        child.select(col(key).as("k"))
          .join(parent.select(col(pkey).as("k")).distinct()
            .withColumn("__hit", lit(1)), Seq("k"), "left")
          .agg(count(lit(1)).as("n_children"),
            sum(when(col("__hit").isNull, 1L).otherwise(0L))
              .as("n_orphans"))
          .select(lit(rel).as("relation"), col("n_children"),
            col("n_orphans"))
      audit("customer->nation", Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey")
        .unionAll(audit("lineitem->orders", Tables.lineitem(s, dir),
          "l_orderkey", Tables.orders(s, dir), "o_orderkey"))
        .unionAll(audit("lineitem->part", Tables.lineitem(s, dir),
          "l_partkey", Tables.part(s, dir), "p_partkey"))
        .unionAll(audit("orders->customer", Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey"))
        .unionAll(audit("supplier->nation", Tables.supplier(s, dir),
          "s_nationkey", Tables.nation(s, dir), "n_nationkey"))
    },
      // orphan audit: mirrored left-join-against-distinct-parent counts
      oracle = """SELECT 'customer->nation' AS relation,
           cast(count(*) AS bigint) AS n_children,
           cast(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS bigint)
             AS n_orphans
         FROM customer c LEFT JOIN
           (SELECT DISTINCT n_nationkey AS k FROM nation) p
           ON c.c_nationkey = p.k
         UNION ALL
         SELECT 'lineitem->orders', cast(count(*) AS bigint),
           cast(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS bigint)
         FROM lineitem l LEFT JOIN
           (SELECT DISTINCT o_orderkey AS k FROM orders) p
           ON l.l_orderkey = p.k
         UNION ALL
         SELECT 'lineitem->part', cast(count(*) AS bigint),
           cast(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS bigint)
         FROM lineitem l LEFT JOIN
           (SELECT DISTINCT p_partkey AS k FROM part) p
           ON l.l_partkey = p.k
         UNION ALL
         SELECT 'orders->customer', cast(count(*) AS bigint),
           cast(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS bigint)
         FROM orders o LEFT JOIN
           (SELECT DISTINCT c_custkey AS k FROM customer) p
           ON o.o_custkey = p.k
         UNION ALL
         SELECT 'supplier->nation', cast(count(*) AS bigint),
           cast(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS bigint)
         FROM supplier s LEFT JOIN
           (SELECT DISTINCT n_nationkey AS k FROM nation) p
           ON s.s_nationkey = p.k"""),

    // ---- EXT: zone-map build (per-partition pruning index) ----
    Gate("q246_zone_maps", (s, dir) =>
      // the metadata pass a lakehouse layout runs at write time: per
      // ship-month partition, min/max/null-count statistics for the scan
      // planner's min-max pruning. One distributed hash agg; integer/decimal
      // exact throughout.
      Tables.lineitem(s, dir)
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("part"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_orderkey"),
          max(col("l_orderkey")).as("max_orderkey"),
          // lockstep contract: never ship raw DECIMAL to the hasher — finish
          // with round(cast(... as double), 2) like every other money gate.
          round(min(col("l_extendedprice").cast(D)).cast("double"), 2)
            .as("min_price"),
          round(max(col("l_extendedprice").cast(D)).cast("double"), 2)
            .as("max_price"),
          sum(when(col("l_returnflag").isNull, 1L).otherwise(0L))
            .as("null_returnflags")),
      // zone maps: plain mirrored per-partition min/max/null stats
      oracle = """SELECT strftime(l_shipdate, '%Y-%m') AS part,
           cast(count(*) AS bigint) AS n_rows,
           min(l_orderkey) AS min_orderkey,
           max(l_orderkey) AS max_orderkey,
           round(cast(min(cast(l_extendedprice AS decimal(18,2)))
             AS double), 2) AS min_price,
           round(cast(max(cast(l_extendedprice AS decimal(18,2)))
             AS double), 2) AS max_price,
           cast(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
             AS bigint) AS null_returnflags
         FROM lineitem GROUP BY 1"""),

    // ---- EXT: correlated scalar subquery (Catalyst decorrelation) ----
    Gate("q258_correlated_subquery", (s, dir) => {
      // the SQL-surface shape every BI tool emits: a correlated scalar
      // subquery per outer row. Catalyst decorrelates it into ONE aggregate
      // + ONE join (never a per-row re-execution) — the rewrite is what
      // makes this runnable at scale at all. The inner mean is an exact
      // decimal sum with one final division so the > boundary is identical
      // in both engines.
      Tables.registerAll(s, dir)
      s.sql("""SELECT c.c_nationkey, count(*) AS n_above
        FROM customer c
        WHERE c.c_acctbal > (
          SELECT cast(sum(cast(i.c_acctbal AS decimal(18,2))) AS double)
                 / count(*)
          FROM customer i WHERE i.c_nationkey = c.c_nationkey)
        GROUP BY c.c_nationkey""")
    },
      // correlated subquery: near-verbatim — DuckDB decorrelates the same way
      oracle = """SELECT c.c_nationkey, cast(count(*) AS bigint) AS n_above
         FROM customer c
         WHERE c.c_acctbal > (
           SELECT cast(sum(cast(i.c_acctbal AS decimal(18,2))) AS double)
                  / count(*)
           FROM customer i WHERE i.c_nationkey = c.c_nationkey)
         GROUP BY c.c_nationkey"""),

    // ---- EXT: LATERAL correlated subquery (per-row top-n) ----
    Gate("q262_lateral_topn", (s, dir) => {
      // "top 2 orders per customer" stated as a LATERAL subquery — the SQL
      // form analysts write; Catalyst decorrelates the ORDER BY+LIMIT into
      // a window group-limit, never a per-row re-execution. Total order
      // (price desc, orderkey) makes the per-customer cut deterministic.
      Tables.registerAll(s, dir)
      s.sql("""SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l""")
    },
      // lateral top-n: identical LATERAL syntax in DuckDB
      oracle = """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
           WHERE o.o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l"""),

    // ---- EXT: recursive CTE (Spark 4 native SQL recursion) ----
    Gate("q263_recursive_cte", (s, dir) => {
      // the q145 impact-radius BFS, this time as NATIVE SQL recursion
      // (Spark 4 WITH RECURSIVE). Spark requires UNION ALL in the
      // recursive step; the DISTINCT inside the step dedups each frontier
      // LEVEL, so the recursion carries ≤ hops × |nodes| rows — the
      // level-synchronous BFS shape, not path enumeration (which would be
      // combinatorial on this bipartite graph). min(hops) at the end
      // collapses cross-level re-visits.
      Tables.registerAll(s, dir)
      // Round-12 optimization (remove shuffles outright): as plain CTEs,
      // `p`/`ed` inline INTO the recursive step, so UnionLoop re-executed
      // the whole edge build — two lineitem⋈orders joins + two distinct
      // aggregates — at EVERY level (see
      // plans/r12/q263_recursive_cte_before.txt: the loop body holds both
      // joins). The edge list is loop-invariant: build it once per
      // invocation, pin it (lazy localCheckpoint — materializes on the
      // loop's first level), and recurse over the pinned view. The SQL
      // recursion itself — the gate's declared capability — is unchanged,
      // and the result is identical (same edges, same BFS).
      val p263 = s.sql("""SELECT DISTINCT
          'c' || cast(o_custkey AS string) AS src,
          's' || cast(l_suppkey AS string) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey""")
      // one-pass symmetrize (round-12; the q145 explode note): the union
      // form executed the edge SQL once per branch at checkpoint
      // materialization
      p263.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        .localCheckpoint(eager = false)
        .createOrReplaceTempView("q263_ed")
      s.sql("""WITH RECURSIVE
        bfs(node, hops) AS (
          SELECT 'c' || cast(c_custkey AS string) AS node, 0 AS hops
          FROM customer WHERE c_custkey <= 5
          UNION ALL
          SELECT DISTINCT e.dst, b.hops + 1
          FROM bfs b JOIN q263_ed e ON e.src = b.node
          WHERE b.hops < 3)
        SELECT node, cast(min(hops) AS int) AS hops
        FROM bfs GROUP BY node""")
    },
      // recursive BFS: DuckDB uses UNION recursion (its level dedup);
      // min(hops) makes both recursion styles converge to the same result
      oracle = """WITH RECURSIVE
         p AS (SELECT DISTINCT 'c' || cast(o_custkey AS varchar) AS src,
                 's' || cast(l_suppkey AS varchar) AS dst
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ed AS (SELECT src, dst FROM p
                UNION ALL SELECT dst AS src, src AS dst FROM p),
         bfs(node, hops) AS (
           SELECT 'c' || cast(c_custkey AS varchar) AS node, 0 AS hops
           FROM customer WHERE c_custkey <= 5
           UNION
           SELECT e.dst, b.hops + 1 FROM bfs b JOIN ed e ON e.src = b.node
           WHERE b.hops < 3)
         SELECT node, cast(min(hops) AS int) AS hops
         FROM bfs GROUP BY node"""),

    // ---- EXT: VARIANT semi-structured extraction (Spark 4) ----
    Gate("q264_variant_json", (s, dir) => {
      // schema-on-read over the event props payload via the VARIANT type —
      // the open-schema ingestion path (parse once, extract typed fields,
      // aggregate); binary-encoded variant beats per-row JSON re-parsing
      // at scale.
      Tables.registerAll(s, dir)
      s.sql("""SELECT event_type, count(*) AS n,
        sum(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
        count(DISTINCT variant_get(parse_json(props), '$.k', 'long'))
          AS n_distinct_k
        FROM events GROUP BY event_type""")
    },
      // variant extraction: DuckDB's JSON path extraction, same typed field
      oracle = """SELECT event_type, cast(count(*) AS bigint) AS n,
         cast(sum(json_extract(props, '$.k')::bigint) AS bigint) AS sum_k,
         cast(count(DISTINCT json_extract(props, '$.k')::bigint) AS bigint)
           AS n_distinct_k
         FROM events GROUP BY event_type"""),

    // ---- EXT: multiset set-ops (INTERSECT ALL / EXCEPT ALL) ----
    Gate("q270_bag_setops", (s, dir) => {
      // bag semantics matter for reconciliation: INTERSECT ALL keeps
      // min(multiplicity), EXCEPT ALL subtracts it — both distinct from
      // the q22/q23 set versions. Two deterministic order slices of the
      // same column; results aggregated per key for a compact gate.
      val a = Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_custkey"))
      val b = Tables.orders(s, dir).filter(col("o_orderkey") % 3 === 0)
        .select(col("o_custkey"))
      val ia = a.intersectAll(b).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val ea = a.exceptAll(b).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      ia.unionAll(ea).select(col("op"), col("o_custkey"), col("n"))
    },
      // bag set-ops: verbatim INTERSECT ALL / EXCEPT ALL
      oracle = """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
         b AS (SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0),
         ia AS (SELECT o_custkey FROM a INTERSECT ALL
                SELECT o_custkey FROM b),
         ea AS (SELECT o_custkey FROM a EXCEPT ALL
                SELECT o_custkey FROM b)
         SELECT 'intersect_all' AS op, o_custkey,
           cast(count(*) AS bigint) AS n FROM ia GROUP BY 2
         UNION ALL
         SELECT 'except_all' AS op, o_custkey,
           cast(count(*) AS bigint) AS n FROM ea GROUP BY 2"""),

    // ---- EXT: UNPIVOT SQL syntax (wide → long in the parser) ----
    Gate("q278_unpivot_sql", (s, dir) => {
      // the SQL-native wide→long (q150 is the DataFrame melt): per-nation
      // order-status counts pivoted wide, then UNPIVOT back to long in
      // the same statement — parser-level coverage of the melt shape.
      Tables.registerAll(s, dir)
      s.sql("""SELECT c_nationkey, status, n FROM (
          SELECT c_nationkey,
            sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS open_n,
            sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS done_n,
            sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS part_n
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_nationkey)
        UNPIVOT (n FOR status IN (open_n, done_n, part_n))""")
    },
      // unpivot: union-based melt with the same status labels
      oracle = """WITH w AS (SELECT c_nationkey,
           cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
             AS bigint) AS open_n,
           cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS bigint) AS done_n,
           cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
             AS bigint) AS part_n
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_nationkey)
         SELECT c_nationkey, 'open_n' AS status, open_n AS n FROM w
         UNION ALL
         SELECT c_nationkey, 'done_n', done_n FROM w
         UNION ALL
         SELECT c_nationkey, 'part_n', part_n FROM w"""),

    // ---- flagship composition: the reference's file-listing endpoint ----
    Gate("q115_list_project_files", (s, dir) => {
      // Engine.listProjectFiles end-to-end (services/file-service/
      // main.py:307-344): RLS scope -> project filter -> optional type
      // filter -> stable pagination -> response projection, over a
      // files-shaped view derived deterministically from orders. The pieces
      // are gated individually (q04/q10/q18/q60); this gates the composed
      // endpoint itself.
      val o = Tables.orders(s, dir)
      val files = o.select(
        col("o_orderkey").as("id"),
        concat(lit("f"), col("o_orderkey"), lit(".tif")).as("filename"),
        concat(lit("orig_"), col("o_orderkey"), lit(".tif")).as("original_filename"),
        when(col("o_orderkey") % 3 === 0, "image")
          .when(col("o_orderkey") % 3 === 1, "orthophoto")
          .otherwise("dsm").as("file_type"),
        (col("o_orderkey") * 37 % 100000 + 1).as("size"),
        when(col("o_orderkey") % 3 === 0, "image/tiff")
          .when(col("o_orderkey") % 3 === 1, "image/png")
          .otherwise("application/octet-stream").as("mime_type"),
        md5(col("o_orderkey").cast("string")).as("checksum"),
        concat(lit("p"), col("o_orderkey") % 4).as("project_id"),
        concat(lit("u"), col("o_custkey") % 50).as("owner_id"),
        (col("o_orderkey") % 2 === 0).as("is_processed"),
        col("o_orderdate").as("created_at"))
      graft.Engine.listProjectFiles(files, projectId = "p1", userId = "u7",
        role = "user", fileType = Some("orthophoto"), page = 1, size = 2)
    },
      // flagship file listing: same derived files view, RLS + filters +
      // row_number pagination, response projection
      oracle = """WITH files AS (SELECT o_orderkey AS id,
             'f' || o_orderkey || '.tif' AS filename,
             'orig_' || o_orderkey || '.tif' AS original_filename,
             CASE o_orderkey % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'orthophoto'
               ELSE 'dsm' END AS file_type,
             o_orderkey * 37 % 100000 + 1 AS size,
             CASE o_orderkey % 3 WHEN 0 THEN 'image/tiff' WHEN 1 THEN 'image/png'
               ELSE 'application/octet-stream' END AS mime_type,
             md5(cast(o_orderkey AS varchar)) AS checksum,
             'p' || (o_orderkey % 4) AS project_id,
             'u' || (o_custkey % 50) AS owner_id,
             o_orderkey % 2 = 0 AS is_processed,
             o_orderdate AS created_at
           FROM orders),
         scoped AS (SELECT *, row_number() OVER (ORDER BY created_at ASC, id ASC) AS rn
           FROM files
           WHERE owner_id = 'u7' AND project_id = 'p1' AND file_type = 'orthophoto')
         SELECT id, filename, original_filename, file_type, size, mime_type,
           checksum, project_id, owner_id, is_processed, created_at
         FROM scoped WHERE rn > 0 AND rn <= 2"""),

    // ---- set ops (SURVEY §2.6) ----
    Gate("q22_union_distinct", (s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(col("o_totalprice") > 180000).select("o_orderkey", "o_custkey")
        .union(o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey", "o_custkey"))
        .distinct()
    },
      oracle = """SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 180000
         UNION
         SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'"""),
    Gate("q23_except", (s, dir) => {
      val building = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val withF = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F").select(col("o_custkey").as("c_custkey"))
      building.except(withF)
    },
      oracle = """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'"""),

    // ---- scalar functions (SURVEY §2.8) ----
    Gate("q24_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(Scalars.jsonField(col("props"), "$.k").cast("int").as("k"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(D)).cast("double").as("sum_value")),
      oracle = """SELECT cast(json_extract_string(props, '$.k') as int) AS k,
         count(*) AS n, cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
         FROM events GROUP BY 1"""),
    Gate("q25_date_math", (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        date_add(to_date(col("o_orderdate")), 30).as("due"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).as("days_since")),
      oracle = """SELECT o_orderkey,
         cast(year(o_orderdate) as int) AS y,
         cast(month(o_orderdate) as int) AS m,
         cast(o_orderdate as date) + 30 AS due,
         cast(cast(o_orderdate as date) - DATE '1995-01-01' as int) AS days_since
         FROM orders"""),
    Gate("q26_sha256", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), Scalars.sha256Hex(col("text")).as("text_sha")),
      oracle = "SELECT doc_id, sha256(text) AS text_sha FROM documents"),

    // ---- SQL API surface over the registered catalog ----
    Gate("q49_sql_api", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(RegionRevenueSql)
    },
      oracle = RegionRevenueSql),

    // ---- EXT: small-file compaction plan (start-offset bin packing) ----
    Gate("q303_compaction_plan", (s, dir) => {
      val files = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          date_trunc("month", col("l_shipdate")).as("file_month"))
        .agg((count(lit(1)) * 100L).as("bytes"))
      graft.sources.Sources.compactionPlan(files,
          Seq("l_returnflag", "l_linestatus"), col("file_month"), col("bytes"),
          targetBytes = 500000L)
        .select(col("l_returnflag"), col("l_linestatus"),
          to_date(col("file_month")).as("file_month"),
          col("est_bytes"), col("bin"))
    },
      // compaction plan: start-offset bin over the per-partition cumsum
      oracle = """WITH files AS (SELECT l_returnflag, l_linestatus,
             date_trunc('month', l_shipdate) AS fm,
             cast(count(*) * 100 AS bigint) AS est_bytes
           FROM lineitem GROUP BY 1, 2, 3),
         c AS (SELECT l_returnflag, l_linestatus, fm, est_bytes,
             sum(est_bytes) OVER (PARTITION BY l_returnflag, l_linestatus
               ORDER BY fm) AS cum
           FROM files)
         SELECT l_returnflag, l_linestatus, cast(fm AS date) AS file_month,
           est_bytes, cast((cum - est_bytes) // 500000 AS bigint) AS bin
         FROM c"""),

    // ---- EXT: business-day SLA latency per priority ----
    Gate("q306_business_days", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_d"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("order_d"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("__bd",
          Scalars.busDayIndex(col("ship_d")) - Scalars.busDayIndex(col("order_d")))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          (round(sum(col("__bd")).cast("double") /
            count(lit(1)).cast("double"), 6) + lit(0.0d)).as("mean_bus_days"),
          max(col("__bd")).as("max_bus_days"))
    },
      // business days: closed-form Mon-Fri day index difference, no holidays
      oracle = """WITH j AS (SELECT o_orderpriority,
             date_diff('day', DATE '1970-01-05', cast(l_shipdate AS date))
               AS ds,
             date_diff('day', DATE '1970-01-05', cast(o_orderdate AS date))
               AS doo
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         b AS (SELECT o_orderpriority,
             ((ds // 7) * 5 + least(ds % 7, 5))
               - ((doo // 7) * 5 + least(doo % 7, 5)) AS bd
           FROM j)
         SELECT o_orderpriority, cast(count(*) AS bigint) AS n,
           round(cast(sum(bd) AS double) / cast(count(*) AS double), 6) + 0.0
             AS mean_bus_days,
           cast(max(bd) AS bigint) AS max_bus_days
         FROM b GROUP BY 1"""),

    // ---- EXT: Luhn check-digit audit (q62/q63 validator family) ----
    Gate("q312_luhn_audit", (s, dir) => {
      // synthetic 12-digit account numbers: 11 payload digits from the
      // key, check digit = custkey mod 10 (so a key-dependent mix of
      // valid and invalid rows); the audit reports validity per segment
      val withNum = Tables.customer(s, dir).select(col("c_mktsegment"),
        concat(lpad((col("c_custkey") * 37 % 100000000000L).cast("string"),
          11, "0"), (col("c_custkey") % 10).cast("string")).as("acct"))
      withNum.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(Scalars.luhnValid(col("acct"), 12).cast("long")).as("n_valid"))
        .withColumn("valid_rate",
          round(col("n_valid").cast("double") / col("n").cast("double"), 6)
            + lit(0.0d))
    },
      oracle = LuhnOracleSql),

    // ---- SQL surface: GROUP BY ALL (shared text, q49 discipline) ----
    Gate("q317_group_by_all", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(GroupByAllSql)
    },
      oracle = GroupByAllSql),

    // ---- EXT: ledger key-gap audit (bucketed, no global sort) ----
    Gate("q377_key_gaps", (s, dir) => {
      // missing-invoice detection over the finalized ('F') ledger: gap
      // length histogram of the orderkey sequence. Windows run INSIDE
      // 8192-key buckets (key-partitioned); cross-bucket adjacency is
      // one lead over the 8192×-compressed bucket summary — never a
      // global sort of the corpus.
      import org.apache.spark.sql.expressions.Window
      val k = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("key"),
          expr("o_orderkey div 8192").as("b"))
      val wIn = Window.partitionBy(col("b")).orderBy(col("key"))
      val intra = k.withColumn("__nk", lead(col("key"), 1).over(wIn))
        .filter(col("__nk").isNotNull && col("__nk") - col("key") > 1)
        .select((col("__nk") - col("key") - 1).as("gap_len"))
      val bs = k.groupBy(col("b"))
        .agg(min(col("key")).as("__mn"), max(col("key")).as("__mx"))
      val wB = Window.orderBy(col("b"))
      val inter = bs.withColumn("__nmn", lead(col("__mn"), 1).over(wB))
        .filter(col("__nmn").isNotNull && col("__nmn") - col("__mx") > 1)
        .select((col("__nmn") - col("__mx") - 1).as("gap_len"))
      intra.unionByName(inter)
        .groupBy(col("gap_len"))
        .agg(count(lit(1)).as("n_gaps"))
        .select(col("gap_len"), col("n_gaps"),
          (col("gap_len") * col("n_gaps")).as("missing_keys"))
    },
      // key gaps: bucketed windows + compressed cross-bucket lead
      oracle = """WITH k AS (SELECT o_orderkey AS key, o_orderkey // 8192 AS b
           FROM orders WHERE o_orderstatus = 'F'),
         w AS (SELECT key, b,
             lead(key) OVER (PARTITION BY b ORDER BY key) AS nk
           FROM k),
         intra AS (SELECT nk - key - 1 AS gap_len FROM w
           WHERE nk IS NOT NULL AND nk - key > 1),
         bs AS (SELECT b, min(key) AS mn, max(key) AS mx FROM k
           GROUP BY 1),
         bw AS (SELECT b, mx, lead(mn) OVER (ORDER BY b) AS nmn FROM bs),
         inter AS (SELECT nmn - mx - 1 AS gap_len FROM bw
           WHERE nmn IS NOT NULL AND nmn - mx > 1),
         allg AS (SELECT gap_len FROM intra UNION ALL
           SELECT gap_len FROM inter)
         SELECT cast(gap_len AS bigint) AS gap_len,
           cast(count(*) AS bigint) AS n_gaps,
           cast(gap_len AS bigint) * cast(count(*) AS bigint)
             AS missing_keys
         FROM allg GROUP BY gap_len"""),

    // ---- EXT: referential-integrity scorecard ----
    Gate("q412_fk_scorecard", (s, dir) => {
      // the FK health report run before trusting any join: per edge,
      // child rows, distinct child keys, orphan rows (anti-join), and
      // coverage of the parent key space. Five anti/semi-join pairs
      // unioned; orphans being zero IS the result worth asserting.
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String) = {
        val orphans = child.join(parent.select(col(pk)),
          child(ck) === col(pk), "left_anti")
          .agg(count(lit(1)).as("orphan_rows"))
        val stats = child.agg(count(lit(1)).as("child_rows"),
          countDistinct(col(ck)).as("child_keys"))
        val pcov = parent.join(child.select(col(ck)).distinct(),
            col(pk) === col(ck), "left_semi")
          .agg(count(lit(1)).as("parents_referenced"))
        val ptot = parent.agg(count(lit(1)).as("parent_rows"))
        stats.crossJoin(broadcast(orphans)).crossJoin(broadcast(pcov))
          .crossJoin(broadcast(ptot))
          .select(lit(name).as("edge"), col("child_rows"), col("child_keys"),
            col("orphan_rows"), col("parents_referenced"), col("parent_rows"),
            (round(col("parents_referenced").cast("double") /
              col("parent_rows").cast("double"), 6) + lit(0.0d))
              .as("parent_coverage"))
      }
      edge("lineitem->orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")
        .unionByName(edge("lineitem->part", Tables.lineitem(s, dir),
          "l_partkey", Tables.part(s, dir), "p_partkey"))
        .unionByName(edge("lineitem->supplier", Tables.lineitem(s, dir),
          "l_suppkey", Tables.supplier(s, dir), "s_suppkey"))
        .unionByName(edge("orders->customer", Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey"))
        .unionByName(edge("customer->nation", Tables.customer(s, dir),
          "c_nationkey", Tables.nation(s, dir), "n_nationkey"))
    },
      oracle = FkScorecardOracleSql),

    // ---- EXT: dictionary-encoding planner + round trip ----
    Gate("q419_dict_encoding", (s, dir) => {
      // columnar dictionary encoding as an operator: build the code table
      // for p_type (dense codes in value order — deterministic), encode the
      // fact side, then DECODE BACK through the dictionary and aggregate on
      // the decoded value — parity with direct aggregation proves the round
      // trip is lossless. The dictionary is vocabulary-sized, so the rank
      // window runs over a bounded dimension table (the sanctioned
      // single-partition shape), and both joins broadcast it; the fact
      // side streams once. bits_per_value = length of the max code's
      // binary form — the storage planner's narrowest-width output, in
      // exact integer algebra on both engines.
      import org.apache.spark.sql.expressions.Window
      val p = Tables.part(s, dir)
      val dict = p.select(col("p_type")).distinct()
        .withColumn("code",
          (dense_rank().over(Window.orderBy(col("p_type"))) - 1).cast("int"))
      val nd = dict.agg(count(lit(1)).as("__nd"))
      val encoded = p.join(broadcast(dict), Seq("p_type"))
        .select(col("p_partkey"), col("code"))
      encoded.join(broadcast(dict), Seq("code"))
        .groupBy(col("p_type"), col("code"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("p_partkey")).as("sum_partkey"))
        .crossJoin(broadcast(nd))
        .withColumn("bits_per_value",
          length(bin(col("__nd").cast("long") - 1)).cast("int"))
        .drop("__nd")
    },
      oracle = """WITH dict AS (SELECT p_type,
             cast(dense_rank() OVER (ORDER BY p_type) - 1 AS int) AS code
           FROM (SELECT DISTINCT p_type FROM part)),
         nd AS (SELECT count(*) AS nd FROM dict),
         enc AS (SELECT p_partkey, code FROM part JOIN dict USING (p_type)),
         dec AS (SELECT p_partkey, enc.code AS code, dict.p_type AS p_type
           FROM enc JOIN dict ON enc.code = dict.code)
         SELECT p_type, code, cast(count(*) AS bigint) AS n_rows,
           cast(sum(p_partkey) AS bigint) AS sum_partkey,
           cast(length(bin((SELECT nd FROM nd) - 1)) AS int)
             AS bits_per_value
         FROM dec GROUP BY 1, 2"""),

    // ---- EXT: data-driven data-quality rule engine ----
    Gate("q420_dq_rule_engine", (s, dir) =>
      // the governance pattern the static CHECK gates (q28, q208) cannot
      // express: the rule set arrives as DATA and is folded into ONE scan —
      // per-rule violation counts over orders without a pass per rule. The
      // same DqRules tuples generate the oracle's unrolled UNION, so the
      // two sides cannot drift.
      graft.operators.Relational.dataRuleAudit(
        Tables.orders(s, dir), DqRules),
      oracle = DqRuleOracleSql),

    // ---- EXT: RLE run-length encoding audit ----
    Gate("q426_rle_audit", (s, dir) => {
      // storage-planner companion to q419 (dictionary) / q246 (zone maps) /
      // q303 (compaction): how RLE-friendly is l_returnflag along the
      // file's natural order (l_linenumber within l_orderkey)? A run
      // starts where the flag differs from its lag — key-partitioned
      // windows only, so run detection never needs a global sort; run
      // starts at each partition head are counted conservatively (each
      // order opens a new run, the per-row-group reality of columnar RLE).
      import org.apache.spark.sql.expressions.Window
      // (l_linenumber, l_partkey, l_suppkey) is the total order within an
      // order — linenumber ALONE ties in the synthetic data, and a tied
      // lag() is engine-nondeterministic.
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      Tables.lineitem(s, dir)
        .withColumn("__start",
          when(lag(col("l_returnflag"), 1).over(w).isNull ||
            lag(col("l_returnflag"), 1).over(w) =!= col("l_returnflag"), 1L)
            .otherwise(0L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("__start")).as("n_runs"))
        .withColumn("mean_run_len",
          round(col("n_rows").cast("double") /
            col("n_runs").cast("double"), 6) + lit(0.0d))
        .withColumn("rle_ratio",
          round(col("n_runs").cast("double") /
            col("n_rows").cast("double"), 6) + lit(0.0d))
    },
      oracle = """WITH t AS (SELECT l_returnflag,
             CASE WHEN lag(l_returnflag) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey)
                 IS DISTINCT FROM l_returnflag
               THEN 1 ELSE 0 END AS st
           FROM lineitem)
         SELECT l_returnflag, cast(count(*) AS bigint) AS n_rows,
           cast(sum(st) AS bigint) AS n_runs,
           round(cast(count(*) AS double) / cast(sum(st) AS double), 6)
             + 0.0 AS mean_run_len,
           round(cast(sum(st) AS double) / cast(count(*) AS double), 6)
             + 0.0 AS rle_ratio
         FROM t GROUP BY 1"""),

    // ---- EXT: columnar encoding advisor ----
    Gate("q429_encoding_advisor", (s, dir) => {
      // the DECISION layer over the storage-audit family (q419 dictionary,
      // q426 RLE, q246 zone maps): per column, exact NDV + run statistics
      // along the file order, folded into the encoding rule a columnar
      // writer applies — dictionary when the vocabulary is bounded, RLE
      // stacked on top when runs average ≥ 2 rows. ONE scan computes all
      // four columns' run flags in a single window pass; the multi-
      // countDistinct aggregate expands 4× in map-side partials but never
      // reshuffles the fact twice.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      def runFlag(c: org.apache.spark.sql.Column) =
        when(lag(c, 1).over(w).isNull || lag(c, 1).over(w) =!= c, 1L)
          .otherwise(0L)
      val t = Tables.lineitem(s, dir)
        .withColumn("__m",
          date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM"))
        .select(col("l_returnflag").as("c1"), col("l_linestatus").as("c2"),
          col("__m").as("c3"), col("l_partkey").as("c4"),
          runFlag(col("l_returnflag")).as("r1"),
          runFlag(col("l_linestatus")).as("r2"),
          runFlag(date_format(date_trunc("month", col("l_shipdate")),
            "yyyy-MM")).as("r3"),
          runFlag(col("l_partkey")).as("r4"))
      val stats = t.agg(count(lit(1)).as("n"),
        countDistinct(col("c1")).as("d1"), sum(col("r1")).as("s1"),
        countDistinct(col("c2")).as("d2"), sum(col("r2")).as("s2"),
        countDistinct(col("c3")).as("d3"), sum(col("r3")).as("s3"),
        countDistinct(col("c4")).as("d4"), sum(col("r4")).as("s4"))
      val cols = Seq(("l_returnflag", "d1", "s1"),
        ("l_linestatus", "d2", "s2"), ("l_shipmonth", "d3", "s3"),
        ("l_partkey", "d4", "s4"))
      stats.select(explode(array(cols.map { case (nm, d, r) =>
          struct(lit(nm).as("column_name"), col("n").as("n_rows"),
            col(d).as("ndv"), col(r).as("n_runs"))
        }: _*)).as("s"))
        .select(col("s.column_name"), col("s.n_rows"), col("s.ndv"),
          col("s.n_runs"))
        .withColumn("bits_per_code",
          length(bin(col("ndv") - 1)).cast("int"))
        .withColumn("encoding",
          when(col("ndv") <= 4096 && col("n_runs") * 2 <= col("n_rows"),
            "DICT_RLE")
            .when(col("ndv") <= 4096, "DICT")
            .when(col("n_runs") * 2 <= col("n_rows"), "RLE")
            .otherwise("PLAIN"))
    },
      oracle = """WITH t AS (SELECT l_returnflag AS c1, l_linestatus AS c2,
             strftime(date_trunc('month', l_shipdate), '%Y-%m') AS c3,
             l_partkey AS c4,
             CASE WHEN lag(l_returnflag) OVER w
               IS DISTINCT FROM l_returnflag THEN 1 ELSE 0 END AS r1,
             CASE WHEN lag(l_linestatus) OVER w
               IS DISTINCT FROM l_linestatus THEN 1 ELSE 0 END AS r2,
             CASE WHEN lag(strftime(date_trunc('month', l_shipdate),
                 '%Y-%m')) OVER w
               IS DISTINCT FROM strftime(date_trunc('month', l_shipdate),
                 '%Y-%m') THEN 1 ELSE 0 END AS r3,
             CASE WHEN lag(l_partkey) OVER w
               IS DISTINCT FROM l_partkey THEN 1 ELSE 0 END AS r4
           FROM lineitem
           WINDOW w AS (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey)),
         s AS (SELECT cast(count(*) AS bigint) AS n,
             cast(count(DISTINCT c1) AS bigint) AS d1,
             cast(sum(r1) AS bigint) AS s1,
             cast(count(DISTINCT c2) AS bigint) AS d2,
             cast(sum(r2) AS bigint) AS s2,
             cast(count(DISTINCT c3) AS bigint) AS d3,
             cast(sum(r3) AS bigint) AS s3,
             cast(count(DISTINCT c4) AS bigint) AS d4,
             cast(sum(r4) AS bigint) AS s4
           FROM t),
         u AS (
           SELECT 'l_returnflag' AS column_name, n AS n_rows, d1 AS ndv,
             s1 AS n_runs FROM s
           UNION ALL SELECT 'l_linestatus', n, d2, s2 FROM s
           UNION ALL SELECT 'l_shipmonth', n, d3, s3 FROM s
           UNION ALL SELECT 'l_partkey', n, d4, s4 FROM s)
         SELECT column_name, n_rows, ndv, n_runs,
           cast(length(bin(ndv - 1)) AS int) AS bits_per_code,
           CASE WHEN ndv <= 4096 AND n_runs * 2 <= n_rows THEN 'DICT_RLE'
                WHEN ndv <= 4096 THEN 'DICT'
                WHEN n_runs * 2 <= n_rows THEN 'RLE'
                ELSE 'PLAIN' END AS encoding
         FROM u"""),

    // ---- EXT: schema type-inference profiler ----
    Gate("q434_type_inference", (s, dir) => {
      // the CSV-ingestion question q429 doesn't answer: given STRING
      // columns, what type are they really? Each value classifies by
      // regex priority (integer → float → timestamp → other; identical
      // RE2-safe patterns both engines); the inferred type is the
      // narrowest class covering every non-null value. Doubles go
      // through a decimal cast before rendering — raw double→string
      // formatting is engine-specific, decimal rendering is not. One
      // scan, all four columns classified in a single aggregate.
      val t = Tables.orders(s, dir).select(
        col("o_orderkey").cast("string").as("c1"),
        col("o_totalprice").cast(D).cast("string").as("c2"),
        col("o_orderdate").cast("string").as("c3"),
        col("o_orderpriority").as("c4"))
      def cls(c: org.apache.spark.sql.Column) =
        when(c.rlike("^-?[0-9]+$"), "int")
          .when(c.rlike("^-?[0-9]+\\.[0-9]+$"), "float")
          .when(c.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}"), "ts")
          .otherwise("other")
      val stats = t.agg(count(lit(1)).as("n"),
        sum(when(cls(col("c1")) === "int", 1L).otherwise(0L)).as("i1"),
        sum(when(cls(col("c1")) === "float", 1L).otherwise(0L)).as("f1"),
        sum(when(cls(col("c1")) === "ts", 1L).otherwise(0L)).as("t1"),
        sum(when(cls(col("c2")) === "int", 1L).otherwise(0L)).as("i2"),
        sum(when(cls(col("c2")) === "float", 1L).otherwise(0L)).as("f2"),
        sum(when(cls(col("c2")) === "ts", 1L).otherwise(0L)).as("t2"),
        sum(when(cls(col("c3")) === "int", 1L).otherwise(0L)).as("i3"),
        sum(when(cls(col("c3")) === "float", 1L).otherwise(0L)).as("f3"),
        sum(when(cls(col("c3")) === "ts", 1L).otherwise(0L)).as("t3"),
        sum(when(cls(col("c4")) === "int", 1L).otherwise(0L)).as("i4"),
        sum(when(cls(col("c4")) === "float", 1L).otherwise(0L)).as("f4"),
        sum(when(cls(col("c4")) === "ts", 1L).otherwise(0L)).as("t4"))
      val colsSpec = Seq(("o_orderkey", "i1", "f1", "t1"),
        ("o_totalprice", "i2", "f2", "t2"),
        ("o_orderdate", "i3", "f3", "t3"),
        ("o_orderpriority", "i4", "f4", "t4"))
      stats.select(explode(array(colsSpec.map { case (nm, i, f, ts) =>
          struct(lit(nm).as("column_name"), col("n").as("n_values"),
            col(i).as("n_int"), col(f).as("n_float"), col(ts).as("n_ts"))
        }: _*)).as("s"))
        .select(col("s.column_name"), col("s.n_values"), col("s.n_int"),
          col("s.n_float"), col("s.n_ts"))
        .withColumn("inferred_type",
          when(col("n_int") === col("n_values"), "BIGINT")
            .when(col("n_int") + col("n_float") === col("n_values"),
              "DOUBLE")
            .when(col("n_ts") === col("n_values"), "TIMESTAMP")
            .otherwise("STRING"))
    },
      oracle = """WITH t AS (SELECT cast(o_orderkey AS varchar) AS c1,
             cast(cast(o_totalprice AS decimal(18,2)) AS varchar) AS c2,
             cast(o_orderdate AS varchar) AS c3,
             o_orderpriority AS c4
           FROM orders),
         s AS (SELECT cast(count(*) AS bigint) AS n,
             cast(sum(CASE WHEN regexp_matches(c1, '^-?[0-9]+$')
               THEN 1 ELSE 0 END) AS bigint) AS i1,
             cast(sum(CASE WHEN NOT regexp_matches(c1, '^-?[0-9]+$')
               AND regexp_matches(c1, '^-?[0-9]+\.[0-9]+$')
               THEN 1 ELSE 0 END) AS bigint) AS f1,
             cast(sum(CASE WHEN NOT regexp_matches(c1, '^-?[0-9]+$')
               AND NOT regexp_matches(c1, '^-?[0-9]+\.[0-9]+$')
               AND regexp_matches(c1, '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
               THEN 1 ELSE 0 END) AS bigint) AS t1,
             cast(sum(CASE WHEN regexp_matches(c2, '^-?[0-9]+$')
               THEN 1 ELSE 0 END) AS bigint) AS i2,
             cast(sum(CASE WHEN NOT regexp_matches(c2, '^-?[0-9]+$')
               AND regexp_matches(c2, '^-?[0-9]+\.[0-9]+$')
               THEN 1 ELSE 0 END) AS bigint) AS f2,
             cast(sum(CASE WHEN NOT regexp_matches(c2, '^-?[0-9]+$')
               AND NOT regexp_matches(c2, '^-?[0-9]+\.[0-9]+$')
               AND regexp_matches(c2, '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
               THEN 1 ELSE 0 END) AS bigint) AS t2,
             cast(sum(CASE WHEN regexp_matches(c3, '^-?[0-9]+$')
               THEN 1 ELSE 0 END) AS bigint) AS i3,
             cast(sum(CASE WHEN NOT regexp_matches(c3, '^-?[0-9]+$')
               AND regexp_matches(c3, '^-?[0-9]+\.[0-9]+$')
               THEN 1 ELSE 0 END) AS bigint) AS f3,
             cast(sum(CASE WHEN NOT regexp_matches(c3, '^-?[0-9]+$')
               AND NOT regexp_matches(c3, '^-?[0-9]+\.[0-9]+$')
               AND regexp_matches(c3, '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
               THEN 1 ELSE 0 END) AS bigint) AS t3,
             cast(sum(CASE WHEN regexp_matches(c4, '^-?[0-9]+$')
               THEN 1 ELSE 0 END) AS bigint) AS i4,
             cast(sum(CASE WHEN NOT regexp_matches(c4, '^-?[0-9]+$')
               AND regexp_matches(c4, '^-?[0-9]+\.[0-9]+$')
               THEN 1 ELSE 0 END) AS bigint) AS f4,
             cast(sum(CASE WHEN NOT regexp_matches(c4, '^-?[0-9]+$')
               AND NOT regexp_matches(c4, '^-?[0-9]+\.[0-9]+$')
               AND regexp_matches(c4, '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
               THEN 1 ELSE 0 END) AS bigint) AS t4
           FROM t),
         u AS (
           SELECT 'o_orderkey' AS column_name, n AS n_values, i1 AS n_int,
             f1 AS n_float, t1 AS n_ts FROM s
           UNION ALL SELECT 'o_totalprice', n, i2, f2, t2 FROM s
           UNION ALL SELECT 'o_orderdate', n, i3, f3, t3 FROM s
           UNION ALL SELECT 'o_orderpriority', n, i4, f4, t4 FROM s)
         SELECT column_name, n_values, n_int, n_float, n_ts,
           CASE WHEN n_int = n_values THEN 'BIGINT'
                WHEN n_int + n_float = n_values THEN 'DOUBLE'
                WHEN n_ts = n_values THEN 'TIMESTAMP'
                ELSE 'STRING' END AS inferred_type
         FROM u"""),

    // ---- EXT: delta + varint encoding advisor (integer column arm) ----
    Gate("q438_delta_encoding", (s, dir) => {
      // completes q429's encoding family for SORTED INTEGER keys: gaps
      // between consecutive distinct orderkeys, varint-encoded — the
      // delta-compression size a columnar writer would achieve. Gap
      // computation never sorts globally: the q377 bucket decomposition
      // (8192-key buckets → within-bucket lag windows + one lead over the
      // compressed per-bucket summary for boundary gaps). varint width is
      // exact integer algebra on both engines. First key costs a full
      // 8-byte anchor.
      import org.apache.spark.sql.expressions.Window
      val keys = Tables.orders(s, dir)
        .select(col("o_orderkey").as("key")).distinct()
        .withColumn("__b", expr("key div 8192"))
      val wIn = Window.partitionBy(col("__b")).orderBy(col("key"))
      val inGaps = keys
        .withColumn("__gap", col("key") - lag(col("key"), 1).over(wIn))
      val bsum = keys.groupBy(col("__b"))
        .agg(min(col("key")).as("__mn"), max(col("key")).as("__mx"))
      val wB = Window.orderBy(col("__b"))
      val boundary = bsum
        .withColumn("__gap", col("__mn") - lag(col("__mx"), 1).over(wB))
        .select(col("__gap"))
      def vbytes(g: org.apache.spark.sql.Column) =
        lit(1L) + (g >= 128L).cast("long") + (g >= 16384L).cast("long") +
          (g >= 2097152L).cast("long") + (g >= 268435456L).cast("long")
      inGaps.select(col("__gap"))
        .unionByName(boundary)
        .filter(col("__gap").isNotNull)
        .agg((count(lit(1)) + 1).as("n_keys"),
          max(col("__gap")).as("max_gap"),
          (sum(vbytes(col("__gap"))) + 8L).as("delta_bytes"),
          ((count(lit(1)) + 1) * 8).as("plain_bytes"))
        .withColumn("compression_ratio",
          round(col("plain_bytes").cast("double") /
            col("delta_bytes").cast("double"), 6) + lit(0.0d))
    },
      oracle = """WITH keys AS (SELECT DISTINCT o_orderkey AS key FROM orders),
         g AS (SELECT key - lag(key) OVER (ORDER BY key) AS gap FROM keys),
         v AS (SELECT gap,
             1 + CASE WHEN gap >= 128 THEN 1 ELSE 0 END
               + CASE WHEN gap >= 16384 THEN 1 ELSE 0 END
               + CASE WHEN gap >= 2097152 THEN 1 ELSE 0 END
               + CASE WHEN gap >= 268435456 THEN 1 ELSE 0 END AS vb
           FROM g WHERE gap IS NOT NULL)
         SELECT cast(count(*) + 1 AS bigint) AS n_keys,
           cast(max(gap) AS bigint) AS max_gap,
           cast(sum(vb) + 8 AS bigint) AS delta_bytes,
           cast((count(*) + 1) * 8 AS bigint) AS plain_bytes,
           round(cast((count(*) + 1) * 8 AS double)
             / cast(sum(vb) + 8 AS double), 6) + 0.0 AS compression_ratio
         FROM v"""),

    // ---- SQL surface: SQL-defined scalar UDF (CREATE FUNCTION) ----
    Gate("q453_sql_udf", (s, dir) => {
      // Spark 4's SQL scalar UDFs: business logic DECLARED in SQL and
      // inlined by Catalyst into the plan (no JVM closure, full codegen)
      // — the engine-native answer to the reference's app-layer helper
      // functions. The oracle inlines the same CASE, proving the UDF is
      // a pure view over the expression.
      Tables.registerAll(s, dir)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_tier(d DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN d < 0.02 THEN 'low'
                    WHEN d < 0.06 THEN 'mid' ELSE 'high' END""")
      s.sql("""SELECT graft_disc_tier(l_discount) AS tier,
          count(*) AS n,
          round(cast(sum(cast(l_quantity AS decimal(18,2))) AS double), 2)
            + 0.0 AS total_qty
        FROM lineitem GROUP BY 1""")
    },
      // the SQL-UDF body inlined — a Spark SQL UDF is a pure expression view
      oracle = """SELECT CASE WHEN l_discount < 0.02 THEN 'low'
             WHEN l_discount < 0.06 THEN 'mid' ELSE 'high' END AS tier,
           count(*) AS n,
           round(cast(sum(cast(l_quantity AS decimal(18,2))) AS double), 2)
             + 0.0 AS total_qty
         FROM lineitem GROUP BY 1"""),

    // ---- SQL surface: collation-aware comparison and distinct ----
    Gate("q454_collation", (s, dir) => {
      // Spark 4 collations: case-insensitive equality and DISTINCT via
      // UTF8_LCASE on a deliberately case-mangled column — the
      // engine-level answer to the reference's citext-style lookups
      // (lower() on both sides is the portable oracle mirror).
      Tables.registerAll(s, dir)
      s.sql("""WITH m AS (SELECT CASE WHEN c_custkey % 2 = 0
               THEN upper(c_mktsegment) ELSE lower(c_mktsegment) END AS seg
             FROM customer)
           SELECT count(*) AS n_total,
             count(CASE WHEN seg COLLATE UTF8_LCASE = 'building'
               THEN 1 END) AS n_building,
             cast(count(DISTINCT seg COLLATE UTF8_LCASE) AS bigint)
               AS n_segments,
             cast(count(DISTINCT seg) AS bigint) AS n_raw_variants
           FROM m""")
    },
      // collation mirrored with lower()
      oracle = """WITH m AS (SELECT CASE WHEN c_custkey % 2 = 0
             THEN upper(c_mktsegment) ELSE lower(c_mktsegment) END AS seg
           FROM customer)
         SELECT count(*) AS n_total,
           count(CASE WHEN lower(seg) = 'building' THEN 1 END)
             AS n_building,
           cast(count(DISTINCT lower(seg)) AS bigint) AS n_segments,
           cast(count(DISTINCT seg) AS bigint) AS n_raw_variants
         FROM m"""),

    // ---- SQL surface: pipe syntax (|>) ----
    Gate("q455_pipe_sql", (s, dir) => {
      // Spark 4 SQL pipe syntax: the same relational algebra, staged
      // left-to-right; must plan and answer identically to the classic
      // form the oracle uses
      Tables.registerAll(s, dir)
      s.sql("""FROM orders
        |> WHERE year(o_orderdate) = 1996
        |> AGGREGATE count(*) AS n,
             round(cast(sum(cast(o_totalprice AS decimal(18,2)))
               AS double), 2) + 0.0 AS revenue
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n, revenue""")
    },
      // pipe syntax answers identically to the classic form
      oracle = """SELECT o_orderpriority, count(*) AS n,
           round(cast(sum(cast(o_totalprice AS decimal(18,2)))
             AS double), 2) + 0.0 AS revenue
         FROM orders WHERE year(o_orderdate) = 1996
         GROUP BY o_orderpriority"""),

    // ---- SQL surface: session variables (DECLARE / SET VAR) ----
    Gate("q462_session_variable", (s, dir) => {
      // Spark 4 SQL session variables: a data-derived threshold staged
      // into a variable, then consumed by a second statement — the
      // engine-native answer to the reference's app-layer "compute
      // setting, then query with it" two-step. The threshold lives in
      // exact integer cents (floor of the mean) so the filter bound can
      // never straddle an engine-specific double; the oracle inlines the
      // same scalar through a CTE.
      Tables.registerAll(s, dir)
      s.sql("""DECLARE OR REPLACE VARIABLE thr_cents BIGINT DEFAULT 0""")
      s.sql("""SET VAR thr_cents = (SELECT cast(floor(
          sum(cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint))
          / count(*)) AS bigint) FROM orders)""")
      s.sql("""SELECT o_orderpriority,
          count(*) AS n_above,
          round(cast(sum(cast(o_totalprice AS decimal(18,2)))
            AS double), 2) + 0.0 AS revenue_above
        FROM orders
        WHERE cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
          > thr_cents
        GROUP BY o_orderpriority""")
    },
      // the session variable inlined through a scalar CTE
      oracle = """WITH thr AS (SELECT cast(floor(
             sum(cast(cast(o_totalprice AS decimal(18,2)) * 100
               AS bigint)) / count(*)) AS bigint) AS thr_cents
           FROM orders)
         SELECT o_orderpriority, count(*) AS n_above,
           round(cast(sum(cast(o_totalprice AS decimal(18,2)))
             AS double), 2) + 0.0 AS revenue_above
         FROM orders CROSS JOIN thr
         WHERE cast(cast(o_totalprice AS decimal(18,2)) * 100 AS bigint)
           > thr_cents
         GROUP BY o_orderpriority"""),

    // ---- SQL surface: EXECUTE IMMEDIATE with bound parameters ----
    Gate("q463_execute_immediate", (s, dir) => {
      // dynamic SQL, engine-side: the statement text is data, the
      // parameters bind at execution (the reference's string-built
      // queries done safely). The oracle inlines the same constants —
      // EXECUTE IMMEDIATE must be a pure staging layer over the plan.
      Tables.registerAll(s, dir)
      s.sql("""EXECUTE IMMEDIATE
        'SELECT o_orderpriority, count(*) AS n,
           round(cast(sum(cast(o_totalprice AS decimal(18,2)))
             AS double), 2) + 0.0 AS revenue
         FROM orders WHERE o_orderdate >= ? AND o_orderdate < ?
         GROUP BY o_orderpriority'
        USING DATE '1998-01-01', DATE '1999-01-01'""")
    },
      // the dynamic statement with its parameters inlined
      oracle = """SELECT o_orderpriority, count(*) AS n,
           round(cast(sum(cast(o_totalprice AS decimal(18,2)))
             AS double), 2) + 0.0 AS revenue
         FROM orders
         WHERE o_orderdate >= DATE '1998-01-01'
           AND o_orderdate < DATE '1999-01-01'
         GROUP BY o_orderpriority"""),

    // ---- SQL surface: try_* error-safe arithmetic ----
    Gate("q464_try_arithmetic", (s, dir) => {
      // ANSI-mode-safe ratios: try_divide returns NULL where a raw
      // division would error (the suite runs ANSI-on everywhere else,
      // q415's CASE-guard lesson made native). Markup ratio per
      // lineitem; zero-discount rows surface as NULLs, counted — not
      // task-killing. Non-null ratios are 6dp-floored per row, then
      // exactly summed (bigint), so the aggregate is engine-exact.
      Tables.lineitem(s, dir)
        .select(col("l_discount"),
          try_divide(col("l_extendedprice"), col("l_discount")).as("m"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("m").isNull, 1L)).as("n_null_ratio"),
          count(col("m")).as("n_ok"),
          sum(when(col("m").isNotNull,
            floor(col("m") * 1000000 + 0.5).cast("long"))).as("sum_m6"))
        .select(col("n_rows"), col("n_null_ratio"), col("n_ok"),
          col("sum_m6"),
          (floor(col("sum_m6").cast("double") / col("n_ok") + 0.5)
            / 1000000.0).as("mean_markup"))
    },
      // try_divide mirrored as an explicit zero guard
      oracle = """WITH m AS (SELECT l_discount,
             CASE WHEN l_discount = 0 THEN NULL
               ELSE l_extendedprice / l_discount END AS m
           FROM lineitem)
         SELECT cast(count(*) AS bigint) AS n_rows,
           cast(sum(CASE WHEN m IS NULL THEN 1 END) AS bigint)
             AS n_null_ratio,
           cast(count(m) AS bigint) AS n_ok,
           cast(sum(CASE WHEN m IS NOT NULL
             THEN cast(floor(m * 1000000 + 0.5) AS bigint) END)
             AS bigint) AS sum_m6,
           floor(cast(sum(CASE WHEN m IS NOT NULL
               THEN cast(floor(m * 1000000 + 0.5) AS bigint) END)
               AS double)
             / count(m) + 0.5) / 1000000.0 AS mean_markup
         FROM m"""),

    // ---- SQL surface: join-strategy hints ----
    Gate("q484_join_hints", (s, dir) => {
      // the tuning knobs a 100 TB operator reaches for when statistics
      // mislead the planner: BROADCAST pins the dim side, SHUFFLE_HASH
      // forbids the sort-merge fallback, REBALANCE smooths the write
      // side. Hints must be PURELY physical — this gate pins the answer
      // equality to the unhinted plan (the oracle), Wave17Spec pins the
      // plan shapes (BroadcastHashJoin / ShuffledHashJoin / rebalance).
      Tables.registerAll(s, dir)
      s.sql("""SELECT /*+ BROADCAST(nation), REBALANCE */
          n_name, count(*) AS n_suppliers,
          round(cast(sum(cast(s_acctbal AS decimal(18,2)))
            AS double), 2) + 0.0 AS total_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name""")
    },
      // hints are physical-only: the unhinted join answers
      oracle = """SELECT n_name, count(*) AS n_suppliers,
           round(cast(sum(cast(s_acctbal AS decimal(18,2)))
             AS double), 2) + 0.0 AS total_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name"""),

    // ---- SQL surface: native listagg (ordered string aggregation) ----
    Gate("q469_listagg", (s, dir) => {
      // Spark 4's ANSI listagg: DISTINCT + WITHIN GROUP ordered string
      // aggregation as a NATIVE aggregate (no collect_list/array_join
      // detour) — the report-formatting shape the reference builds in
      // app code. DuckDB mirrors with ordered string_agg.
      Tables.registerAll(s, dir)
      s.sql("""SELECT n_name,
          listagg(DISTINCT c_mktsegment, ',')
            WITHIN GROUP (ORDER BY c_mktsegment) AS segments,
          count(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""")
    },
      // ordered string_agg mirrors listagg ... within group
      oracle = """SELECT n_name,
           string_agg(DISTINCT c_mktsegment, ','
             ORDER BY c_mktsegment) AS segments,
           count(*) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name"""),
  )
}
