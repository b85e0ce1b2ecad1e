package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SortedSumD.{sortedSum => ssum}
import graft.queries.Shared.{events, t}

/** Data-quality audits, profiling, privacy and reconciliation. Each entry
  * pairs a query with its DuckDB oracle ([[QueryDef]]). */
object DataQualityQueries {

  val defs: Seq[QueryDef] = Seq(

    // HISTOGRAM profiling: explicit floor bucketing (identical double
    // expression on both engines — width_bucket builtins differ in
    // operation order at bucket edges) + count/sum-free occupancy.
    QueryDef("q81_histogram", (s, dir) => {
      t(s, dir, "orders")
        .select(least(floor(col("o_totalprice") / lit(50000.0)), lit(9L))
          .cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },
      """SELECT CAST(least(floor(o_totalprice / 50000.0), 9) AS BIGINT)
             AS bucket,
           count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // Declarative data-quality audit (ops.Audit): five orders-table
    // rules in ONE aggregation pass + a referential anti-join check
    // against customer — a Deequ-shaped constraint report as rows.
    QueryDef("q111_dq_audit", (s, dir) => {
      val orders = t(s, dir, "orders")
      val rules = graft.ops.Audit.singlePass(orders,
        metrics = Seq(
          "row_count" -> count(lit(1)),
          "orderkey_nulls" -> sum(col("o_orderkey").isNull.cast("long")),
          "orderkey_dupes" ->
            (count(col("o_orderkey")) - count_distinct(col("o_orderkey"))),
          "negative_totalprice" ->
            sum((col("o_totalprice") < 0).cast("long")),
          "bad_status" ->
            sum((!col("o_orderstatus").isin("F", "O", "P")).cast("long"))),
        rules = Map(
          "row_count" -> (v => v > 0),
          "orderkey_nulls" -> (v => v === 0),
          "orderkey_dupes" -> (v => v === 0),
          "negative_totalprice" -> (v => v === 0),
          "bad_status" -> (v => v === 0)))
      rules.unionByName(graft.ops.Audit.referential(
          "orphan_custkeys", orders, "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .orderBy("check")
    },
      """SELECT * FROM (
           SELECT 'row_count' AS check, count(*)::BIGINT AS value,
             (count(*) > 0)::BIGINT AS passed FROM orders
           UNION ALL
           SELECT 'orderkey_nulls',
             sum((o_orderkey IS NULL)::BIGINT)::BIGINT,
             (sum((o_orderkey IS NULL)::BIGINT) = 0)::BIGINT FROM orders
           UNION ALL
           SELECT 'orderkey_dupes',
             (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT,
             (count(o_orderkey) = count(DISTINCT o_orderkey))::BIGINT
           FROM orders
           UNION ALL
           SELECT 'negative_totalprice',
             sum((o_totalprice < 0)::BIGINT)::BIGINT,
             (sum((o_totalprice < 0)::BIGINT) = 0)::BIGINT FROM orders
           UNION ALL
           SELECT 'bad_status',
             sum((o_orderstatus NOT IN ('F','O','P'))::BIGINT)::BIGINT,
             (sum((o_orderstatus NOT IN ('F','O','P'))::BIGINT) = 0)::BIGINT
           FROM orders
           UNION ALL
           SELECT 'orphan_custkeys', count(*)::BIGINT,
             (count(*) = 0)::BIGINT
           FROM orders o WHERE NOT EXISTS (
             SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         ORDER BY "check""""),

    // Deterministic pseudonymization: salted-md5 surrogate ids — stable
    // across tables and runs (referential consistency survives
    // anonymization: grouping by the surrogate equals grouping by the
    // raw key), no lookup table to store or leak. Map-side transform.
    QueryDef("q122_pseudonymize", (s, dir) => {
      val surrogate = concat(lit("u_"), substring(
        md5(concat(lit("salt1:"), col("user_id").cast("string"))), 1, 16))
      events(s, dir)
        .select(surrogate.as("user_pseudo"), col("event_type"), col("value"))
        .groupBy("user_pseudo")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("event_type")).as("n_types"),
          round(min(col("value")), 2).as("min_value"))
        .orderBy("user_pseudo")
    },
      """SELECT 'u_' || substring(md5('salt1:'
             || CAST(user_id AS VARCHAR)), 1, 16) AS user_pseudo,
           count(*)::BIGINT AS n_events,
           count(DISTINCT event_type)::BIGINT AS n_types,
           round(min(value), 2) AS min_value
         FROM events GROUP BY 1 ORDER BY 1"""),

    // MDM field-level SURVIVORSHIP: three deterministic source variants
    // of the customer record (with per-source gaps) merged to a golden
    // record field by field in priority order, with per-field
    // provenance. One full-outer key join chain; coalesce is codegen'd.
    QueryDef("q125_survivorship", (s, dir) => {
      val c = t(s, dir, "customer")
      val s1 = c.filter(col("c_custkey") % 3 =!= 0).select(
        col("c_custkey"),
        col("c_name").as("n1"),
        when(col("c_custkey") % 5 === 0, lit(null).cast("double"))
          .otherwise(round(col("c_acctbal"), 2)).as("b1"),
        when(col("c_custkey") % 2 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("m1"))
      val s2 = c.filter(col("c_custkey") % 4 =!= 0).select(
        col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("c_name")).as("n2"),
        round(col("c_acctbal"), 2).as("b2"),
        concat(lit("OLD_"), col("c_mktsegment")).as("m2"))
      val s3 = c.select(col("c_custkey"), col("c_name").as("n3"),
        round(col("c_acctbal"), 2).as("b3"), col("c_mktsegment").as("m3"))
      s1.join(s2, Seq("c_custkey"), "full_outer")
        .join(s3, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          coalesce(col("n1"), col("n2"), col("n3")).as("name"),
          coalesce(col("b1"), col("b2"), col("b3")).as("acctbal"),
          coalesce(col("m1"), col("m2"), col("m3")).as("mktsegment"),
          when(col("m1").isNotNull, 1).when(col("m2").isNotNull, 2)
            .otherwise(3).as("segment_source"))
        .orderBy("c_custkey")
    },
      """WITH s1 AS (
           SELECT c_custkey, c_name AS n1,
             CASE WHEN c_custkey % 5 = 0 THEN NULL
                  ELSE round(c_acctbal, 2) END AS b1,
             CASE WHEN c_custkey % 2 = 0 THEN NULL
                  ELSE c_mktsegment END AS m1
           FROM customer WHERE c_custkey % 3 <> 0),
         s2 AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS n2,
             round(c_acctbal, 2) AS b2,
             'OLD_' || c_mktsegment AS m2
           FROM customer WHERE c_custkey % 4 <> 0),
         s3 AS (
           SELECT c_custkey, c_name AS n3, round(c_acctbal, 2) AS b3,
             c_mktsegment AS m3
           FROM customer)
         SELECT coalesce(s1.c_custkey, s2.c_custkey, s3.c_custkey)
             AS c_custkey,
           coalesce(n1, n2, n3) AS name,
           coalesce(b1, b2, b3) AS acctbal,
           coalesce(m1, m2, m3) AS mktsegment,
           CASE WHEN m1 IS NOT NULL THEN 1
                WHEN m2 IS NOT NULL THEN 2 ELSE 3 END AS segment_source
         FROM s1
         FULL JOIN s2 ON s1.c_custkey = s2.c_custkey
         FULL JOIN s3 ON coalesce(s1.c_custkey, s2.c_custkey) = s3.c_custkey
         ORDER BY c_custkey"""),

    // DATA PROFILING (Deequ-style summarize, the survey companion of
    // q111's rule audit): per-column null count / distinct count /
    // min / max as ONE aggregation pass over the table, unpivoted to
    // (column, metric…) report rows — never N passes for N columns.
    QueryDef("q143_column_profile", (s, dir) => {
      val c = t(s, dir, "customer")
      def prof(cc: String) = struct(
        sum(when(col(cc).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(cc)).as("n_distinct"),
        min(col(cc)).cast("string").as("min_s"),
        max(col(cc)).cast("string").as("max_s"))
      // doubles go through a 2dp DECIMAL so the string form is
      // engine-independent (raw double→string formatting is not)
      def profNum(cc: String) = struct(
        sum(when(col(cc).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(cc)).as("n_distinct"),
        round(min(col(cc)), 2).cast("decimal(18,2)").cast("string")
          .as("min_s"),
        round(max(col(cc)), 2).cast("decimal(18,2)").cast("string")
          .as("max_s"))
      c.agg(prof("c_name").as("p1"), prof("c_mktsegment").as("p2"),
          profNum("c_acctbal").as("p3"), prof("c_nationkey").as("p4"))
        .select(explode(array(
          struct(lit("c_name").as("column"), col("p1.*")),
          struct(lit("c_mktsegment").as("column"), col("p2.*")),
          struct(lit("c_acctbal").as("column"), col("p3.*")),
          struct(lit("c_nationkey").as("column"), col("p4.*"))))
          .as("r"))
        .select(col("r.*"))
        .orderBy("column")
    },
      """SELECT 'c_acctbal' AS "column",
           sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_null,
           count(DISTINCT c_acctbal)::BIGINT AS n_distinct,
           round(min(c_acctbal), 2)::DECIMAL(18,2)::VARCHAR AS min_s,
           round(max(c_acctbal), 2)::DECIMAL(18,2)::VARCHAR AS max_s
         FROM customer
         UNION ALL
         SELECT 'c_mktsegment',
           sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_mktsegment)::BIGINT,
           min(c_mktsegment), max(c_mktsegment)
         FROM customer
         UNION ALL
         SELECT 'c_name',
           sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_name)::BIGINT,
           min(c_name), max(c_name)
         FROM customer
         UNION ALL
         SELECT 'c_nationkey',
           sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT c_nationkey)::BIGINT,
           CAST(min(c_nationkey) AS VARCHAR),
           CAST(max(c_nationkey) AS VARCHAR)
         FROM customer
         ORDER BY "column""""),

    // FUNCTIONAL-DEPENDENCY DISCOVERY (schema profiling, the q143
    // family one level up): does det → dep hold? One countDistinct
    // aggregation per candidate pair — each a single shuffle on the
    // determinant, violation counts summarized to one report row; the
    // pair list is metadata-sized, the scans are column-pruned.
    QueryDef("q149_fd_discovery", (s, dir) => {
      def fd(df: DataFrame, det: String, dep: String): DataFrame =
        df.groupBy(col(det))
          .agg(countDistinct(col(dep)).as("nd"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"))
          .select(lit(det).as("determinant"), lit(dep).as("dependent"),
            col("n_groups"), col("n_violating"),
            (col("n_violating") === 0).cast("long").as("holds"))
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      fd(c, "c_custkey", "c_mktsegment")
        .unionByName(fd(c, "c_nationkey", "c_mktsegment"))
        .unionByName(fd(o, "o_orderkey", "o_orderpriority"))
        .unionByName(fd(o, "o_custkey", "o_orderstatus"))
        .orderBy("determinant", "dependent")
    },
      """WITH f1 AS (
           SELECT 'c_custkey' AS determinant, 'c_mktsegment' AS dependent,
             count(*)::BIGINT AS n_groups,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_violating
           FROM (SELECT c_custkey, count(DISTINCT c_mktsegment) AS nd
                 FROM customer GROUP BY 1)),
         f2 AS (
           SELECT 'c_nationkey', 'c_mktsegment', count(*)::BIGINT,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT
           FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd
                 FROM customer GROUP BY 1)),
         f3 AS (
           SELECT 'o_orderkey', 'o_orderpriority', count(*)::BIGINT,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT
           FROM (SELECT o_orderkey, count(DISTINCT o_orderpriority) AS nd
                 FROM orders GROUP BY 1)),
         f4 AS (
           SELECT 'o_custkey', 'o_orderstatus', count(*)::BIGINT,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT
           FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) AS nd
                 FROM orders GROUP BY 1)),
         u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
               UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
         SELECT determinant, dependent, n_groups, n_violating,
           CAST(n_violating = 0 AS BIGINT) AS holds
         FROM u ORDER BY determinant, dependent"""),

    // K-ANONYMITY AUDIT (privacy QA before a dataset release): group by
    // the quasi-identifier tuple (nation, segment, coarse balance
    // bucket) and report every group smaller than k=10 — the rows a
    // release would have to suppress or generalize. Bucket arithmetic
    // is INTEGER on offset cents (no float floor, no negative-division
    // ambiguity: both engines truncate toward zero on non-negatives).
    // One aggregation on the QI tuple; scans pruned to 3 columns.
    QueryDef("q153_k_anonymity", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("(cast(round(c_acctbal * 100, 0) as bigint) + 100000)" +
            " div 100000").as("bal_bucket"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(count(lit(1)).as("group_n"))
        .filter(col("group_n") < 10)
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    },
      """WITH g AS (
           SELECT c_nationkey, c_mktsegment,
             (round(c_acctbal * 100)::BIGINT + 100000) // 100000
               AS bal_bucket
           FROM customer),
         a AS (
           SELECT c_nationkey, c_mktsegment, bal_bucket,
             count(*)::BIGINT AS group_n
           FROM g GROUP BY 1, 2, 3)
         SELECT * FROM a WHERE group_n < 10 ORDER BY 1, 2, 3"""),

    // DATA-CONTRACT QUARANTINE ROUTING (row-level DQ, q111's audit one
    // level down): each row is checked against the policy rules, failing
    // rows are routed to quarantine with a deterministic reason string,
    // and the report counts each distinct failure combination. One scan,
    // map-side rule evaluation (the reasons array is a filter over a
    // literal array), one count aggregation on the reason string.
    QueryDef("q167_dq_quarantine", (s, dir) => {
      val o = t(s, dir, "orders")
      val checks = Seq(
        ("min_value", col("o_totalprice") >= 5000.0),
        ("known_priority", col("o_orderpriority")
          .isin("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW")),
        ("stale_open", !(col("o_orderstatus") === "O" &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))))
      val reasons = array(checks.map { case (name, ok) =>
        when(!ok, lit(name)).otherwise(lit(null).cast("string"))
      }: _*)
      o.withColumn("reasons",
          concat_ws(",", filter(reasons, r => r.isNotNull)))
        .filter(col("reasons") =!= "")
        .groupBy("reasons")
        .agg(count(lit(1)).as("n_quarantined"),
          min(col("o_orderkey")).as("first_key"))
        .orderBy("reasons")
    },
      """WITH f AS (
           SELECT o_orderkey,
             concat_ws(',',
               CASE WHEN NOT (o_totalprice >= 5000.0)
                 THEN 'min_value' END,
               CASE WHEN NOT (o_orderpriority IN ('1-URGENT', '2-HIGH',
                 '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'))
                 THEN 'known_priority' END,
               CASE WHEN (o_orderstatus = 'O' AND
                 o_orderdate < TIMESTAMP '1997-01-01')
                 THEN 'stale_open' END) AS reasons
           FROM orders)
         SELECT reasons, count(*)::BIGINT AS n_quarantined,
           min(o_orderkey)::BIGINT AS first_key
         FROM f WHERE reasons <> '' GROUP BY 1 ORDER BY 1"""),

    // LARGEST-REMAINDER PRORATION (exact integer allocation — the
    // budget/quota split every billing warehouse needs): a fixed
    // 10,000,000-cent budget per nation is distributed across its
    // positive-balance customers proportional to balance, floor-divided,
    // then the leftover cents go to the largest remainders (tie → lowest
    // custkey). The gate PROVES Σ alloc == budget in every nation row.
    // All arithmetic is integer (div/mod); one agg + one broadcast join
    // + one per-nation rank window.
    QueryDef("q174_proration", (s, dir) => {
      val budget = 10000000L
      val w = t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_nationkey").as("nat"), col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("wt"))
      val tot = w.groupBy("nat").agg(sum(col("wt")).as("wtot"))
      val based = w.join(broadcast(tot), Seq("nat"))
        .withColumn("base", expr(s"($budget * wt) div wtot"))
        .withColumn("rem", expr(s"($budget * wt) % wtot"))
      val extra = based.groupBy("nat")
        .agg(sum(col("base")).as("bsum"))
        .select(col("nat"), (lit(budget) - col("bsum")).as("n_extra"))
      based.join(broadcast(extra), Seq("nat"))
        .withColumn("rk", row_number().over(Window.partitionBy("nat")
          .orderBy(col("rem").desc, col("c_custkey"))))
        .withColumn("alloc",
          col("base") + when(col("rk") <= col("n_extra"), 1L).otherwise(0L))
        .groupBy("nat")
        .agg(count(lit(1)).as("n_recipients"),
          sum(col("alloc")).as("total_alloc"),
          max(col("n_extra")).as("n_bumped"),
          max(col("alloc")).as("max_alloc"),
          min(col("alloc")).as("min_alloc"))
        .orderBy("nat")
    },
      """WITH w AS (
           SELECT c_nationkey AS nat, c_custkey,
             round(c_acctbal * 100)::BIGINT AS wt
           FROM customer WHERE c_acctbal > 0),
         t AS (SELECT nat, sum(wt)::BIGINT AS wtot FROM w GROUP BY 1),
         b AS (
           SELECT w.nat, w.c_custkey,
             (10000000 * wt) // wtot AS base,
             (10000000 * wt) % wtot AS rem
           FROM w JOIN t USING (nat)),
         e AS (
           SELECT nat, (10000000 - sum(base))::BIGINT AS n_extra
           FROM b GROUP BY 1),
         al AS (
           SELECT b.nat, base
             + CASE WHEN row_number() OVER (PARTITION BY b.nat
                 ORDER BY rem DESC, c_custkey) <= n_extra
               THEN 1 ELSE 0 END AS alloc,
             n_extra
           FROM b JOIN e USING (nat))
         SELECT nat, count(*)::BIGINT AS n_recipients,
           sum(alloc)::BIGINT AS total_alloc,
           max(n_extra)::BIGINT AS n_bumped,
           max(alloc)::BIGINT AS max_alloc,
           min(alloc)::BIGINT AS min_alloc
         FROM al GROUP BY 1 ORDER BY 1"""),

    // FIFO COST ALLOCATION (cumulative-range matching — the inventory
    // accounting op): per part, "buys" (odd linenumbers) and "sells"
    // (even) each get exact cumulative-quantity ranges from one
    // window; FIFO matches are the RANGE OVERLAPS of the two
    // cumulative axes — an equi-join on part with a range filter whose
    // fan-out is bounded by per-part line counts, never the table.
    // Matched quantity is pure integer interval arithmetic.
    QueryDef("q210_fifo_allocation", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_orderkey"),
          col("l_linenumber"),
          col("l_quantity").cast("long").as("q"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          col("l_shipdate"))
      def ranged(side: DataFrame) = {
        val w = Window.partitionBy("pk")
          .orderBy(col("l_shipdate"), col("l_orderkey"),
            col("l_linenumber"))
        side.withColumn("hi", sum(col("q")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("lo", col("hi") - col("q"))
      }
      val buys = ranged(li.filter(col("l_linenumber") % 2 === 1))
        .select(col("pk"), col("lo").as("blo"), col("hi").as("bhi"),
          col("q").as("bq"), col("cents").as("bcents"))
      val sells = ranged(li.filter(col("l_linenumber") % 2 === 0))
        .select(col("pk"), col("lo").as("slo"), col("hi").as("shi"))
      buys.join(sells, Seq("pk"))
        .filter(col("blo") < col("shi") && col("slo") < col("bhi"))
        .withColumn("matched", least(col("bhi"), col("shi")) -
          greatest(col("blo"), col("slo")))
        .groupBy("pk")
        .agg(count(lit(1)).as("n_matches"),
          sum(col("matched")).as("matched_qty"),
          floor(ssum(collect_list(col("matched").cast("double") *
            col("bcents") / col("bq"))) + 0.5).cast("long")
            .as("fifo_cost_cents"))
        .orderBy("pk")
    },
      """WITH li AS (
           SELECT l_partkey AS pk, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS q,
             round(l_extendedprice * 100)::BIGINT AS cents, l_shipdate
           FROM lineitem),
         buys AS (
           SELECT pk,
             sum(q) OVER (PARTITION BY pk
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - q
               AS blo,
             sum(q) OVER (PARTITION BY pk
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bhi,
             q AS bq, cents AS bcents
           FROM li WHERE l_linenumber % 2 = 1),
         sells AS (
           SELECT pk,
             sum(q) OVER (PARTITION BY pk
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - q
               AS slo,
             sum(q) OVER (PARTITION BY pk
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shi
           FROM li WHERE l_linenumber % 2 = 0),
         mt AS (
           SELECT b.pk,
             least(bhi, shi) - greatest(blo, slo) AS matched,
             matched::DOUBLE * bcents / bq AS cost
           FROM buys b JOIN sells s
             ON b.pk = s.pk AND blo < shi AND slo < bhi)
         SELECT pk, count(*)::BIGINT AS n_matches,
           sum(matched)::BIGINT AS matched_qty,
           floor(list_sum(list_sort(list(cost))) + 0.5)::BIGINT
             AS fifo_cost_cents
         FROM mt GROUP BY 1 ORDER BY 1"""),

    // GREEDY KNAPSACK SELECTION (budget-constrained pick by value
    // density — campaign/capacity allocation): per supplier, lineitems
    // ranked by density (cents/qty desc, deterministic tie), taken
    // while cumulative weight fits the capacity. One per-key rank
    // window + one cumulative frame — the greedy loop IS the window.
    QueryDef("q214_greedy_knapsack", (s, dir) => {
      val cap = 100L
      val it = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"), col("l_orderkey"),
          col("l_linenumber"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("v"),
          col("l_quantity").cast("long").as("w"))
        .withColumn("density",
          col("v").cast("double") / col("w").cast("double"))
      val ord = Window.partitionBy("supp")
        .orderBy(col("density").desc, col("l_orderkey"),
          col("l_linenumber"))
      it.withColumn("cumw", sum(col("w")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("cumw") <= cap)
        .groupBy("supp")
        .agg(count(lit(1)).as("n_taken"),
          sum(col("v")).as("value_cents"),
          max(col("cumw")).as("weight_used"))
        .withColumn("utilization",
          round(col("weight_used").cast("double") / cap, 4))
        .orderBy("supp")
    },
      """WITH it AS (
           SELECT l_suppkey AS supp, l_orderkey, l_linenumber,
             round(l_extendedprice * 100)::BIGINT AS v,
             CAST(l_quantity AS BIGINT) AS w,
             round(l_extendedprice * 100)::BIGINT::DOUBLE
               / CAST(l_quantity AS BIGINT)::DOUBLE AS density
           FROM lineitem),
         c AS (
           SELECT *,
             sum(w) OVER (PARTITION BY supp
               ORDER BY density DESC, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw
           FROM it)
         SELECT supp, count(*)::BIGINT AS n_taken,
           sum(v)::BIGINT AS value_cents,
           max(cumw)::BIGINT AS weight_used,
           round(max(cumw)::DOUBLE / 100, 4) AS utilization
         FROM c WHERE cumw <= 100 GROUP BY 1 ORDER BY 1"""),

    // DUPLICATE-PAYMENT DETECTION (same payer, same $5,000
    // amount-BUCKET, within 90 days — the fin-ops control, bucketed so
    // near-identical amounts are comparable): ONE lag window over
    // (custkey, bucket, date) order finds adjacent same-bucket orders;
    // no self-join, no pair explosion — the sort makes candidate pairs
    // ADJACENT. Flags grouped per customer with exact day gaps.
    QueryDef("q239_duplicate_payments", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("cast(round(o_totalprice * 100) as bigint) div 500000")
            .as("bucket"),
          to_date(col("o_orderdate")).as("day"), col("o_orderkey"))
      val w = Window.partitionBy("o_custkey", "bucket")
        .orderBy(col("day"), col("o_orderkey"))
      o.withColumn("pday", lag(col("day"), 1).over(w))
        .withColumn("pkey", lag(col("o_orderkey"), 1).over(w))
        .filter(col("pday").isNotNull &&
          datediff(col("day"), col("pday")) <= 90)
        .select(col("o_custkey"), col("pkey").as("first_key"),
          col("o_orderkey").as("dup_key"),
          col("bucket").as("amount_bucket"),
          datediff(col("day"), col("pday")).cast("long").as("gap_days"))
        .orderBy("o_custkey", "dup_key")
    },
      """WITH o AS (
           SELECT o_custkey,
             round(o_totalprice * 100)::BIGINT // 500000 AS bucket,
             CAST(o_orderdate AS DATE) AS day, o_orderkey
           FROM orders),
         l AS (
           SELECT *,
             lag(day) OVER (PARTITION BY o_custkey, bucket
               ORDER BY day, o_orderkey) AS pday,
             lag(o_orderkey) OVER (PARTITION BY o_custkey, bucket
               ORDER BY day, o_orderkey) AS pkey
           FROM o)
         SELECT o_custkey, pkey AS first_key, o_orderkey AS dup_key,
           bucket AS amount_bucket,
           (day - pday)::BIGINT AS gap_days
         FROM l WHERE pday IS NOT NULL AND day - pday <= 90
         ORDER BY o_custkey, dup_key"""),

    // QUOTA ALLOCATION WITH SPILLOVER (exactly-k coupon assignment:
    // each segment gets 20 slots; unfilled quota spills to a global
    // pool awarded by rank — and Σ assigned == min(k·segments, pool)
    // is PROVED in the result): two rank windows (per-segment, then
    // global over the leftovers), all integer.
    QueryDef("q261_quota_spillover", (s, dir) => {
      val quota = 20L
      // scarcity on purpose (acctbal > 9000): small SFs leave segment
      // quotas unfilled so the spillover path actually exercises
      val c = t(s, dir, "customer")
        .filter(col("c_acctbal") > 9000)
        .select(col("c_mktsegment").as("seg"), col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      val ranked = c.withColumn("srk", row_number().over(
        Window.partitionBy("seg")
          .orderBy(col("cents").desc, col("c_custkey"))))
      val segWinners = ranked.filter(col("srk") <= quota)
      // budget / spill derived LAZILY as one-row aggregate frames and
      // broadcast in (the q243 water-filling pattern) — no driver-side
      // .count() in the builder, so merely constructing the plan stays
      // free and the filtered customer table is scanned once per stage
      val budget = c.agg((countDistinct(col("seg")) * quota).as("budget"))
      val nWon = segWinners.agg(count(lit(1)).as("n_won"))
      // survivor bound BEFORE the global rank window: a leftover with
      // per-segment rank beyond quota+budget can never win a spill slot
      // (at most `budget` spill awards exist), so the global ORDER BY
      // window sees ≤ nseg·budget rows — metadata-sized at any SF
      val leftovers = ranked.filter(col("srk") > quota)
        .crossJoin(broadcast(budget))
        .filter(col("srk") <= lit(quota) + col("budget"))
        .withColumn("grk", row_number().over(
          Window.orderBy(col("cents").desc, col("c_custkey"))))
        .crossJoin(broadcast(nWon))
        .filter(col("grk") <= col("budget") - col("n_won"))
        .drop("budget", "n_won")
      segWinners.select(col("seg"), col("c_custkey"), col("cents"),
          lit("segment").as("via"))
        .unionByName(leftovers.select(col("seg"), col("c_custkey"),
          col("cents"), lit("spill").as("via")))
        .groupBy("seg", "via")
        .agg(count(lit(1)).as("n_awarded"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy("seg", "via")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg, c_custkey,
             round(c_acctbal * 100)::BIGINT AS cents
           FROM customer WHERE c_acctbal > 9000),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY seg
               ORDER BY cents DESC, c_custkey) AS srk
           FROM c),
         segw AS (SELECT * FROM r WHERE srk <= 20),
         meta AS (
           SELECT (SELECT count(DISTINCT seg) FROM c) * 20
             - (SELECT count(*) FROM segw) AS spill),
         lo AS (
           SELECT r.*, row_number() OVER (ORDER BY cents DESC,
             c_custkey) AS grk
           FROM r WHERE srk > 20),
         sp AS (
           SELECT lo.* FROM lo CROSS JOIN meta WHERE grk <= spill),
         u AS (
           SELECT seg, c_custkey, cents, 'segment' AS via FROM segw
           UNION ALL
           SELECT seg, c_custkey, cents, 'spill' AS via FROM sp)
         SELECT seg, via, count(*)::BIGINT AS n_awarded,
           min(cents)::BIGINT AS min_cents,
           max(cents)::BIGINT AS max_cents
         FROM u GROUP BY 1, 2 ORDER BY 1, 2"""),

    // FINANCIAL RECONCILIATION AUDIT (header-vs-detail consistency —
    // the warehouse data-quality staple): o_totalprice against the
    // recomputed Σ extendedprice·(1−disc)·(1+tax) per order, bucketed
    // by relative mismatch band, plus the orders with NO detail rows.
    // All diffs in exact integer cents; the ratio only picks a band.
    QueryDef("q294_reconciliation_audit", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val calc = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) as bigint)"))
          .as("calc_cents"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint)")
            .as("hdr_cents"))
      o.join(calc, Seq("o_orderkey"), "left")
        .withColumn("band",
          when(col("calc_cents").isNull, "no_lineitems")
            .when(col("hdr_cents") === col("calc_cents"), "exact")
            .when(abs(d(col("hdr_cents") - col("calc_cents")))
              / col("hdr_cents") < 0.01, "lt_1pct")
            .when(abs(d(col("hdr_cents") - col("calc_cents")))
              / col("hdr_cents") < 0.1, "lt_10pct")
            .when(abs(d(col("hdr_cents") - col("calc_cents")))
              / col("hdr_cents") < 0.5, "lt_50pct")
            .otherwise("ge_50pct"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_orders"),
          sum(abs(col("hdr_cents")
            - coalesce(col("calc_cents"), lit(0L)))).as("abs_diff_cents"))
        .orderBy("band")
    },
      """WITH calc AS (
           SELECT l_orderkey AS o_orderkey,
             sum(round(l_extendedprice * (1 - l_discount)
               * (1 + l_tax) * 100)::BIGINT)::BIGINT AS calc_cents
           FROM lineitem GROUP BY 1),
         o AS (
           SELECT o_orderkey,
             round(o_totalprice * 100)::BIGINT AS hdr_cents
           FROM orders),
         j AS (
           SELECT o.hdr_cents, calc.calc_cents,
             CASE WHEN calc_cents IS NULL THEN 'no_lineitems'
               WHEN hdr_cents = calc_cents THEN 'exact'
               WHEN abs((hdr_cents - calc_cents)::DOUBLE) / hdr_cents
                 < 0.01 THEN 'lt_1pct'
               WHEN abs((hdr_cents - calc_cents)::DOUBLE) / hdr_cents
                 < 0.1 THEN 'lt_10pct'
               WHEN abs((hdr_cents - calc_cents)::DOUBLE) / hdr_cents
                 < 0.5 THEN 'lt_50pct'
               ELSE 'ge_50pct' END AS band
           FROM o LEFT JOIN calc USING (o_orderkey))
         SELECT band, count(*)::BIGINT AS n_orders,
           sum(abs(hdr_cents - coalesce(calc_cents, 0)))::BIGINT
             AS abs_diff_cents
         FROM j GROUP BY 1 ORDER BY 1"""),

    // FREEDMAN–DIACONIS HISTOGRAM (the bin-width rule that adapts to
    // spread and n): width = ceil(2·IQR/∛n) in integer cents — IQR
    // from floored percentile bounds (the q279 integer-exact trick) —
    // then an integer-division binning, so bucket membership is exact
    // cross-engine. The histogram every distribution dashboard draws.
    QueryDef("q296_fd_histogram", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(expr("cast(round(o_totalprice * 100) as bigint)")
          .as("cents"))
      val stats = o.agg(count(lit(1)).as("n"),
          floor(expr("percentile(cents, 0.25)")).as("q1"),
          floor(expr("percentile(cents, 0.75)")).as("q3"))
        .withColumn("width", greatest(ceil(
          lit(2.0) * (col("q3") - col("q1")) / cbrt(col("n").cast("double")))
          .cast("long"), lit(1L)))
        .select("n", "width")
      o.crossJoin(broadcast(stats))
        .withColumn("bin", expr("cents div width"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_orders"), max(col("width")).as("width"))
        .select(col("bin"), (col("bin") * col("width")).as("lo_cents"),
          col("n_orders"), col("width"))
        .orderBy("bin")
    },
      """WITH o AS (
           SELECT round(o_totalprice * 100)::BIGINT AS cents
           FROM orders),
         stats AS (
           SELECT count(*)::BIGINT AS n,
             floor(quantile_cont(cents, 0.25))::BIGINT AS q1,
             floor(quantile_cont(cents, 0.75))::BIGINT AS q3
           FROM o),
         w AS (
           SELECT n,
             greatest(ceil(2.0 * (q3 - q1) / cbrt(n::DOUBLE))::BIGINT, 1) AS width
           FROM stats)
         SELECT cents // width AS bin,
           (cents // width) * width AS lo_cents,
           count(*)::BIGINT AS n_orders, max(width)::BIGINT AS width
         FROM o CROSS JOIN w
         GROUP BY 1, 2 ORDER BY 1"""),
  )
}
