package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Dedup, Merge, TextFunctions => TF}
import graft.functions.SortedSumD.{sortedSum => ssum}
import graft.ops.Caches
import graft.queries.Shared.{events, t}

/** The reference warehouse ETL operators (SURVEY.md §2.1-§2.5) and the
  * relational SQL surface around them. Each entry pairs a query with its
  * DuckDB oracle ([[QueryDef]]). */
object WarehouseQueries {

  val defs: Seq[QueryDef] = Seq(

    // §2.4-style aggregation surface (TPC-H Q1 shape): filter pushdown +
    // partial (map-side) aggregation; one shuffle on the two group keys.
    QueryDef("q01_pricing_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-06-30").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          // money sums ride EXACT integer cents (price is 2-decimal, so
          // cents = round(x·100) is lossless): a raw double sum's low
          // bits depend on partition/merge order, and the round-14
          // adverse-plan soak caught the q54 sibling of this pattern
          // landing ON a 2-decimal rounding boundary under a different
          // partition geometry. cents/100.0 is exact — no round, no tie.
          sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("__bp_cents"),
          // revenue = Σ price·(1−disc) in exact 10⁻⁴-dollar units
          // (cents × integer discount percent)
          sum(round(col("l_extendedprice") * 100, 0).cast("long") *
            (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
            .as("__rev_c4"),
          sum(round(col("l_discount") * 100, 0).cast("long")).as("__dpct"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          (col("__bp_cents").cast("double") / 100.0).as("sum_base_price"),
          // half-up at display via integer div (both engines floor
          // positive integer division)
          (expr("(__rev_c4 + 50) div 100").cast("double") / 100.0)
            .as("sum_disc_price"),
          // avg(discount) to 4 decimals, half-up in integers:
          // round(100·Σpct/n)/10⁴ = ((200·Σpct + n) div 2n)/10⁴
          (expr("(200 * __dpct + count_order) div (2 * count_order)")
            .cast("double") / 10000.0).as("avg_disc"),
          col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         (sum(cast(round(l_extendedprice*100) as bigint))::BIGINT)::DOUBLE
           / 100.0 AS sum_base_price,
         (((sum(cast(round(l_extendedprice*100) as bigint) *
              (100 - cast(round(l_discount*100) as bigint)))::BIGINT + 50)
            // 100))::DOUBLE / 100.0 AS sum_disc_price,
         ((200 * sum(cast(round(l_discount*100) as bigint))::BIGINT
            + count(*)) // (2 * count(*)))::DOUBLE / 10000.0 AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-30'
         GROUP BY 1,2 ORDER BY 1,2"""),

    // J1+P5 — keep-first dedup on a key subset under explicit order
    // (reference drop_duplicates, exo_1.py:32-34): one window shuffle on
    // the dedup keys, no global sort.
    QueryDef("q02_dedup_keepfirst", (s, dir) => {
      Dedup.keepFirst(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), col("c_custkey"))
        .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM (
           SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                  row_number() OVER (PARTITION BY c_nationkey, c_mktsegment
                                     ORDER BY c_custkey) AS rn
           FROM customer) WHERE rn = 1 ORDER BY c_custkey"""),

    // J2 — anti-join new-rows detection (exo_1.py:199-204). AQE turns
    // this into a broadcast anti join when the distinct-key side is small.
    QueryDef("q03_antijoin_new_rows", (s, dir) => {
      val c = t(s, dir, "customer")
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"))
      Merge.newRows(c, recent, Seq("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_custkey NOT IN (
           SELECT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2001-01-01')
         ORDER BY c_custkey"""),

    // J3/J4 — dimension resolution joins, explicitly broadcast
    // (exo_2.py:255's N+1 lookup done as one set-at-a-time join).
    QueryDef("q04_join_resolve", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(col("o_orderkey"), col("c_name"), col("n_name"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, c_name, n_name
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY o_orderkey"""),

    // P5/A2 — ranking window partitioned by key (no global sort). The
    // order is a total tiebreak over all output columns so the result is
    // a deterministic multiset even with duplicate (orderkey, linenumber).
    QueryDef("q05_window_rownum", (s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"),
          row_number().over(w).as("rn"))
        .orderBy(col("l_orderkey"), col("rn"))
    },
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
         FROM lineitem ORDER BY l_orderkey, rn"""),

    // F2/F6 — the reference's document-date rule (first dd/MM/yyyy with
    // year>=2001, exo_2.py:181-189) over text synthesized from
    // o_orderdate, so the <2001 branch is actually exercised.
    QueryDef("q06_regex_date_extract", (s, dir) => {
      val txt = concat(lit("ne le 01/01/1940 vu le "),
        date_format(col("o_orderdate"), "dd/MM/yyyy"),
        lit(" rdv 15/06/2001 fin"))
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          TF.extractDocumentDate(txt).cast("string").as("doc_date"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, CAST(CAST(try_strptime(
           list_filter(
             regexp_extract_all(
               'ne le 01/01/1940 vu le ' || strftime(o_orderdate, '%d/%m/%Y')
                 || ' rdv 15/06/2001 fin',
               '\d{2}/\d{2}/\d{4}'),
             d -> year(try_strptime(d, '%d/%m/%Y')) >= 2001)[1],
           '%d/%m/%Y') AS DATE) AS VARCHAR) AS doc_date
         FROM orders ORDER BY o_orderkey"""),

    // F1/F3/F4 — author rule: last `dr <one-or-two lowercase words>` match
    // on normalized text wins, then title-cased (exo_2.py:166-201).
    QueryDef("q07_regex_author_extract", (s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").select("r_regionkey", "r_name")
      val txt = concat(lit("avis du dr "), lower(col("n_name")),
        lit(" transmis au dr "), lower(col("r_name")), lit(" service"))
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey"), TF.extractAuthor(txt).as("author"))
        .orderBy("n_nationkey")
    },
      """WITH base AS (
           SELECT n_nationkey,
             'avis du dr ' || lower(n_name) || ' transmis au dr '
               || lower(r_name) || ' service' AS txt
           FROM nation JOIN region ON n_regionkey = r_regionkey),
         m AS (
           SELECT n_nationkey,
             regexp_extract_all(txt, '\bdr\s+([a-z]+(?:\s+[a-z]+)?)\b', 1)[-1]
               AS last_name
           FROM base),
         tr AS (
           SELECT n_nationkey, last_name,
             trim(string_split(last_name, 'dr')[1]) AS cut
           FROM m)
         SELECT n_nationkey,
           CASE WHEN last_name IS NOT NULL AND length(last_name) > 0
             THEN 'Dr ' || list_aggregate(
               list_transform(string_split(cut, ' '),
                 w -> upper(w[1]) || w[2:]),
               'string_agg', ' ')
             ELSE NULL END AS author
         FROM tr ORDER BY n_nationkey"""),

    // S7/S8/J2 — keyed MERGE as antijoin-union (exo_1.py:134-170):
    // incoming batch (2001+ orders, re-priced) upserted into orders.
    QueryDef("q08_merge_upsert", (s, dir) => {
      val existing = t(s, dir, "orders")
      val incoming = existing
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_orderstatus", lit("U"))
      Merge.upsert(existing, incoming, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("total"))
        .orderBy("o_orderkey")
    },
      """SELECT * FROM (
           SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS total
           FROM orders
           WHERE o_orderkey NOT IN (
             SELECT o_orderkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '2001-01-01')
           UNION ALL
           SELECT o_orderkey, 'U' AS o_orderstatus,
                  round(o_totalprice*2,2) AS total
           FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01')
         ORDER BY o_orderkey"""),

    // S9/F5/F7 — the provenance export join: date re-format + the Oracle
    // zero-pad-of-id*5124 quirk (export_patient.xlsx sheet "SQL").
    QueryDef("q09_provenance_export", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"),
          TF.zeroPadId(col("o_custkey")).as("hospital_patient_id"),
          date_format(col("o_orderdate"), "dd/MM/yyyy").as("order_date_fr"),
          col("c_name"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
           lpad(CAST(o_custkey*5124 AS VARCHAR), 8, '0') AS hospital_patient_id,
           strftime(o_orderdate, '%d/%m/%Y') AS order_date_fr,
           c_name
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey"""),

    // P1-P4/F9 — schema-mapping projection with constants, typed NULLs,
    // conditional "0"/"1" encodes and the Python-truthiness guard.
    QueryDef("q10_schema_projection", (s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey").as("patient_num"),
        col("c_name").as("lastname"),
        lit(null).cast("string").as("maiden_name"),
        TF.boolFlag(col("c_acctbal") < 0).as("death_code"),
        TF.boolFlag(TF.truthy(col("c_mktsegment"))).as("master_patient_id"),
        lit("SIH").as("origin_patient_id"),
        lit(7L).as("upload_id"))
        .orderBy("patient_num")
    },
      """SELECT c_custkey AS patient_num, c_name AS lastname,
           CAST(NULL AS VARCHAR) AS maiden_name,
           CASE WHEN c_acctbal < 0 THEN '1' ELSE '0' END AS death_code,
           CASE WHEN length(coalesce(c_mktsegment,'')) > 0 THEN '1' ELSE '0'
             END AS master_patient_id,
           'SIH' AS origin_patient_id,
           CAST(7 AS BIGINT) AS upload_id
         FROM customer ORDER BY 1"""),

    // P7/F8 — IPP_IDDOC.ext filename parsing via one anchored regex
    // (exo_2.py:238-239) over paths synthesized from `documents`.
    QueryDef("q11_filename_parse", (s, dir) => {
      val path = concat(col("source"), lit("/"), col("doc_id"), lit("_"),
        col("n_chars"),
        when(col("doc_id") % 2 === 0, ".pdf").otherwise(".docx"))
      t(s, dir, "documents")
        .select(col("doc_id"), path.as("path"))
        .select(col("doc_id"),
          TF.filenamePart(col("path"), 1).as("ipp"),
          TF.filenamePart(col("path"), 2).as("id_doc"),
          TF.filenamePart(col("path"), 3).as("doc_type"))
        .orderBy("doc_id")
    },
      """WITH p AS (
           SELECT doc_id,
             source || '/' || CAST(doc_id AS VARCHAR) || '_'
               || CAST(n_chars AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0 THEN '.pdf' ELSE '.docx' END AS path
           FROM documents)
         SELECT doc_id,
           regexp_extract(path, '([^/_]+)_([^/_]+)\.(pdf|docx)$', 1) AS ipp,
           regexp_extract(path, '([^/_]+)_([^/_]+)\.(pdf|docx)$', 2) AS id_doc,
           regexp_extract(path, '([^/_]+)_([^/_]+)\.(pdf|docx)$', 3) AS doc_type
         FROM p ORDER BY doc_id"""),

    // JSON scalar extraction over events.props (engine free-function
    // surface; SURVEY.md §2.5 note).
    QueryDef("q12_json_extract", (s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      """SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1"""),

    // T7-adjacent batch shape — event-time bucketing + aggregation
    // (the streaming variant with watermarks lives in engine.Watcher).
    QueryDef("q13_time_window_agg", (s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), (sum(round(col("value") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("sum_value"))
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour", "event_type")
    },
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n, (sum(cast(round(value*100) as bigint))::BIGINT)::DOUBLE / 100.0 AS sum_value
         FROM events GROUP BY 1,2 ORDER BY 1,2"""),

    // A2 at scale — GLOBAL dense numbering via the two-phase range-
    // partitioned implementation (no single-partition window, no driver
    // collect), checked against a true global row_number oracle.
    QueryDef("q26_global_rownum", (s, dir) => {
      Dedup.numberRows(t(s, dir, "orders").select("o_orderkey"),
          col("o_orderkey"), "rn")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS rn
         FROM orders ORDER BY o_orderkey"""),

    // UDTF/generator shape — regexp_extract_all + explode (the one
    // one-row-to-many shape in the reference, SURVEY.md §2.7) + re-agg.
    QueryDef("q27_explode_dates", (s, dir) => {
      val txt = concat(lit("vu "), date_format(col("o_orderdate"), "dd/MM/yyyy"),
        lit(" revu "), date_format(date_add(col("o_orderdate"), 45), "dd/MM/yyyy"))
      t(s, dir, "orders")
        .select(explode(regexp_extract_all(txt, lit(TF.DatePattern), lit(0)))
          .as("d"))
        .groupBy("d").agg(count(lit(1)).as("n"))
        .orderBy("d")
    },
      """WITH e AS (
           SELECT unnest(regexp_extract_all(
             'vu ' || strftime(o_orderdate, '%d/%m/%Y') || ' revu '
               || strftime(o_orderdate + INTERVAL 45 DAY, '%d/%m/%Y'),
             '\d{2}/\d{2}/\d{4}')) AS d
           FROM orders)
         SELECT d, count(*) AS n FROM e GROUP BY d ORDER BY d"""),

    // Set operators (free Spark SQL surface noted in SURVEY.md §2.3):
    // customers active in both 2000 and 2001 vs only-2000.
    QueryDef("q28_setops", (s, dir) => {
      val o = t(s, dir, "orders")
      def active(y: Int) = o
        .filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey")).distinct()
      val both = active(2000).intersect(active(2001))
        .withColumn("which", lit("both"))
      val only2000 = active(2000).except(active(2001))
        .withColumn("which", lit("only2000"))
      both.unionByName(only2000).orderBy("o_custkey", "which")
    },
      """SELECT * FROM (
           SELECT o_custkey, 'both' AS which FROM (
             SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=2000
             INTERSECT
             SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=2001)
           UNION ALL
           SELECT o_custkey, 'only2000' AS which FROM (
             SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=2000
             EXCEPT
             SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=2001))
         ORDER BY o_custkey, which"""),

    // ROLLUP aggregation (hierarchical totals) with labeled subtotals.
    QueryDef("q29_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .orderBy("flag", "status")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY flag, status"""),

    // Top-k per group: rank window + filter (WindowGroupLimit pushes the
    // top-k below the shuffle — no full sort of the group).
    QueryDef("q30_topk_per_group", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
        .orderBy("o_orderpriority", "rk")
    },
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice,2) AS total,
           CAST(rk AS BIGINT) AS rk
         FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3 ORDER BY o_orderpriority, rk"""),

    // A1 as an AGGREGATION (keep-first-per-key ≡ min_by under input
    // order, SURVEY.md §2.4) — the agg-shaped alternative to the window
    // form in q02: one shuffle, map-side partial min_by, no sort at all.
    QueryDef("q32_agg_firstby", (s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(min(col("c_custkey")).as("first_key"),
          min_by(col("c_name"), col("c_custkey")).as("first_name"),
          min_by(col("c_acctbal"), col("c_custkey")).as("first_bal"))
        .orderBy("c_nationkey", "c_mktsegment")
    },
      """SELECT c_nationkey, c_mktsegment,
           min(c_custkey) AS first_key,
           arg_min(c_name, c_custkey) AS first_name,
           arg_min(c_acctbal, c_custkey) AS first_bal
         FROM customer GROUP BY 1,2 ORDER BY 1,2"""),

    // Pivot: daily event-type matrix (missing cells zero-filled to match
    // the FILTER-count oracle semantics).
    QueryDef("q34_pivot", (s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      events(s, dir)
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
          .as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0, types)
        .orderBy("day")
    },
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'view') AS view,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY 1 ORDER BY 1"""),

    // Array-column analytics over the embeddings (size, min/max/mean) —
    // the array-function surface with exact cross-engine folds.
    QueryDef("q39_array_stats", (s, dir) => {
      val emb = col("embedding").cast("array<double>")
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dims"),
          (round(array_min(emb), 4) + 0.0).as("vmin"),
          (round(array_max(emb), 4) + 0.0).as("vmax"),
          // + 0.0 normalizes IEEE negative zero (round(-1e-9, 4) = -0.0,
          // which string/hash compares differently from 0.0)
          (round(aggregate(emb, lit(0.0), (a, x) => a + x)
             / size(col("embedding")), 4) + 0.0).as("vmean"))
        .orderBy("vec_id")
    },
      """SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dims,
           round(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4)
             + 0.0 AS vmin,
           round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4)
             + 0.0 AS vmax,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             / len(embedding), 4) + 0.0 AS vmean
         FROM embeddings ORDER BY vec_id"""),

    // GROUPING SETS with explicit grouping ids — the generalized form of
    // q29's rollup (one shuffle; Spark expands the sets in a single
    // Expand node, no per-set re-scan).
    QueryDef("q41_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          (grouping(col("l_returnflag")) * 2 +
            grouping(col("l_linestatus"))).cast("long").as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"), col("gid"))
        .orderBy("gid", "flag", "status")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
           CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT)
             AS gid
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())
         ORDER BY gid, flag, status"""),

    // Exact median + deterministic mode per group (mode ties broken by
    // lowest value — replayed by the oracle's count-desc/value-asc rank,
    // because sf0.001's N group has a genuine tie).
    QueryDef("q42_median_mode", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(median(col("l_quantity")), 4).as("med_qty"),
          // round to 3 (odd) decimals: even-count medians are midpoints
          // of 2-decimal prices, i.e. exact 3-decimal values — rounding
          // to 2 would sit ON the half-way boundary where the engines'
          // interpolation ulps ((a+b)/2 vs a+(b-a)/2) disagree
          round(median(col("l_extendedprice")), 3).as("med_price"),
          mode(col("l_quantity"), deterministic = true).as("mode_qty"))
        .orderBy("l_returnflag")
    },
      """WITH md AS (
           SELECT l_returnflag, round(median(l_quantity),4) AS med_qty,
                  round(median(l_extendedprice),3) AS med_price
           FROM lineitem GROUP BY 1),
         c AS (
           SELECT l_returnflag, l_quantity AS v, count(*) AS c
           FROM lineitem GROUP BY 1,2),
         r AS (
           SELECT l_returnflag, v,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY c DESC, v ASC) AS rn
           FROM c)
         SELECT md.l_returnflag, md.med_qty, md.med_price, r.v AS mode_qty
         FROM md JOIN r ON md.l_returnflag = r.l_returnflag AND r.rn = 1
         ORDER BY 1"""),

    // Map-typed column machinery: per-user event-type→count maps built
    // with map_from_entries, then consumed via size/try_element_at/
    // map_values+aggregate — proves the map surface round-trips (the
    // oracle recomputes the scalars relationally).
    QueryDef("q43_map_funcs", (s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("user_id"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("n")))))
          .as("m"))
        .select(col("user_id"),
          size(col("m")).as("n_types"),
          coalesce(try_element_at(col("m"), lit("click")), lit(0L))
            .as("clicks"),
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
            .as("total"))
        .orderBy("user_id")
    },
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1,2)
         SELECT user_id,
           CAST(count(*) AS INTEGER) AS n_types,
           CAST(coalesce(sum(n) FILTER (event_type = 'click'), 0) AS BIGINT)
             AS clicks,
           CAST(sum(n) AS BIGINT) AS total
         FROM c GROUP BY 1 ORDER BY user_id"""),

    // CUBE — all four grouping combinations with explicit grouping ids
    // (completes the rollup q29 / grouping-sets q41 family).
    QueryDef("q44_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("total"),
          (grouping(col("o_orderpriority")) * 2 +
            grouping(col("o_orderstatus"))).cast("long").as("gid"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"), col("gid"))
        .orderBy("gid", "prio", "status")
    },
      """SELECT coalesce(o_orderpriority, 'ALL') AS prio,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n, (sum(cast(round(o_totalprice*100) as bigint))::BIGINT)::DOUBLE / 100.0 AS total,
           CAST(GROUPING(o_orderpriority)*2 + GROUPING(o_orderstatus)
             AS BIGINT) AS gid
         FROM orders
         GROUP BY CUBE (o_orderpriority, o_orderstatus)
         ORDER BY gid, prio, status"""),

    // Top-k per group through a typed Aggregator UDAF
    // (functions.TopKByScore): map-side partial aggregation bounds the
    // shuffle at k pairs per (partition, group) — the agg-shaped
    // alternative to q30's window rank, which shuffles every row.
    QueryDef("q59_topk_udaf", (s, dir) => {
      val topk = udaf(new graft.functions.TopKByScore(3))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top_keys"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
           array_to_string(list_transform(list_slice(
             list_sort(list({'s': -o_totalprice, 'k': o_orderkey})), 1, 3),
             x -> x.k), ',') AS top_keys
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // The SQL entry point end-to-end: a correlated NOT EXISTS with a
    // filtering subquery predicate, planned by Catalyst as a
    // broadcast/shuffle ANTI join (never a per-row subquery) — same
    // oracle gate as the DataFrame queries. Non-vacuous at every SF
    // (~6% of customers qualify).
    QueryDef("q62_sql_exists", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey, c_name FROM customer c
               WHERE NOT EXISTS (
                 SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderpriority = '1-URGENT'
                   AND o.o_orderdate >= TIMESTAMP '2000-01-01')
               ORDER BY c_custkey""")
    },
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_orderpriority = '1-URGENT'
             AND o.o_orderdate >= TIMESTAMP '2000-01-01')
         ORDER BY c_custkey"""),

    // IGNORE NULLS window navigation — carry-forward of the last
    // purchase amount per user (last_value) and the previous one (lag),
    // both skipping the non-purchase rows' nulls. One keyed window
    // shuffle serves both.
    QueryDef("q63_ignore_nulls", (s, dir) => {
      val pv = when(col("event_type") === "purchase", col("value"))
      val ordered = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val running = ordered
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          round(last(pv, ignoreNulls = true).over(running), 2)
            .as("last_purchase"),
          round(lag(pv, 1, null, ignoreNulls = true).over(ordered), 2)
            .as("prev_purchase"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
           round(last_value(CASE WHEN event_type = 'purchase' THEN value END
             IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS last_purchase,
           round(lag(CASE WHEN event_type = 'purchase' THEN value END
             IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             2) AS prev_purchase
         FROM events ORDER BY event_id"""),

    // Ordered string aggregation through the SQL surface: listagg
    // WITHIN GROUP — deterministic ordered concat per group (the
    // map-side-combining agg form; DuckDB replays with ordered
    // string_agg).
    QueryDef("q64_listagg", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""SELECT c_nationkey,
                 listagg(c_name, ',') WITHIN GROUP (ORDER BY c_custkey)
                   AS names,
                 count(*) AS n
               FROM customer WHERE c_acctbal < -700
               GROUP BY c_nationkey ORDER BY c_nationkey""")
    },
      """SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_custkey) AS names,
           count(*) AS n
         FROM customer WHERE c_acctbal < -700
         GROUP BY c_nationkey ORDER BY c_nationkey"""),

    // UNPIVOT/melt (Dataset.unpivot — wide metric columns to long
    // (id, metric, value) form, the inverse of q34's pivot). Raw rows,
    // no aggregation: the metric values are doubles and stay untouched
    // on both engines.
    QueryDef("q79_unpivot", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 997 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "metric",
          valueColumnName = "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },
      """SELECT l_orderkey, l_linenumber, metric, value
         FROM (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                  l_quantity AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
           FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
           FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
         WHERE l_orderkey % 997 = 0
         ORDER BY l_orderkey, l_linenumber, metric"""),

    // LATERAL correlated subquery in FROM — per-nation top-2 customers
    // by balance. Catalyst decorrelates this into a ranked window +
    // join (DomainJoin rewrite), NOT a per-row subquery loop — the
    // set-at-a-time plan survives any row count.
    QueryDef("q101_lateral_topk", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""SELECT n.n_name, t.c_custkey, t.bal
               FROM nation n,
               LATERAL (
                 SELECT c_custkey, round(c_acctbal, 2) AS bal
                 FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 2
               ) t
               ORDER BY n.n_name, t.bal DESC, t.c_custkey""")
    },
      """SELECT n.n_name, t.c_custkey, t.bal
         FROM nation n,
         LATERAL (
           SELECT c_custkey, round(c_acctbal, 2) AS bal
           FROM customer c
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY c_acctbal DESC, c_custkey
           LIMIT 2
         ) t
         ORDER BY n.n_name, t.bal DESC, t.c_custkey"""),

    // Full window-function ranking surface over a unique ordering:
    // percent_rank, cume_dist, ntile — one keyed window shuffle.
    QueryDef("q112_rank_functions", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          ntile(7).over(w).as("bucket7"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           ntile(7) OVER w AS bucket7
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
           ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey"""),

    // TPC-H Q3 shape: segment-filtered customer ⋈ date-filtered orders
    // ⋈ lineitem, top-10 orders by revenue. Dimension side broadcasts;
    // filters reach the scans; revenue is a sorted fold per order so
    // the double sum is engine-independent.
    QueryDef("q114_shipping_priority", (s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit("1998-06-01").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit("1998-06-01").cast("date"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(round(ssum(collect_list(col("rev"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """WITH r AS (
           SELECT l.l_orderkey,
             strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
             l.l_extendedprice * (1 - l.l_discount) AS rev
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           WHERE c.c_mktsegment = 'BUILDING'
             AND o.o_orderdate::DATE < DATE '1998-06-01'
             AND l.l_shipdate::DATE > DATE '1998-06-01')
         SELECT l_orderkey, orderdate,
           round(list_sum(list_sort(list(rev))), 2) AS revenue
         FROM r GROUP BY 1, 2
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),

    // TPC-H Q5 shape: the full dimension chain region→nation→customer
    // joined against orders+lineitem+supplier with the co-nation
    // condition; per-nation revenue. Every dimension broadcasts; the
    // one big shuffle is lineitem⋈orders on orderkey.
    QueryDef("q115_local_supplier_volume", (s, dir) => {
      val nations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = t(s, dir, "customer")
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1999-01-01").cast("date"))
        .select("o_orderkey", "o_custkey")
      // EXACT decimal revenue (q89's pattern): prices/discounts are 2dp
      // values, so the decimal product at scale 4 is exact and sum() is
      // associative/commutative with a fixed-size buffer — engine- and
      // order-independent at any scale, unlike a float sum (or the
      // collect_list sorted fold this replaces, whose buffer held the
      // whole group).
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .as("rev"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).as("rev_sum"))
        .select(col("n_name"),
          col("rev_sum").cast("decimal(38,4)").cast("string").as("revenue"))
        .orderBy("n_name")
    },
      // Exact decimal arithmetic end-to-end (scale-4 product of 2dp
      // values, associative decimal sum, no rounding anywhere) — both
      // engines print the identical scale-4 string.
      """WITH r AS (
           SELECT n.n_name,
             l.l_extendedprice::DECIMAL(18,2)
               * (1 - l.l_discount::DECIMAL(3,2)) AS rev
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
                          AND s.s_nationkey = c.c_nationkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region rg ON n.n_regionkey = rg.r_regionkey
           WHERE rg.r_name = 'ASIA'
             AND o.o_orderdate::DATE >= DATE '1997-01-01'
             AND o.o_orderdate::DATE < DATE '1999-01-01')
         SELECT n_name,
           CAST(CAST(sum(rev) AS DECIMAL(38,4)) AS VARCHAR) AS revenue
         FROM r GROUP BY 1 ORDER BY n_name"""),

    // HIERARCHICAL percent-of-parent rollup (region → nation): revenue
    // tree with each level's share of its parent. Fact aggregates to
    // nation grain FIRST (one shuffle); the parent-share windows range
    // over the 25-row nation table, never the fact stream. Dimension
    // chain broadcast. Integer-cent revenue, shares rounded at output.
    QueryDef("q147_hierarchy_rollup", (s, dir) => {
      val rev = Caches.small(t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))),
          Seq("o_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"),
            col("n_regionkey"))), Seq("c_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey").as("n_regionkey"), col("r_name"))),
          Seq("n_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("nation_cents")))
      val byRegion = Window.partitionBy(col("r_name"))
      val all = Window.partitionBy()
      rev.select(col("r_name"), col("n_name"), col("nation_cents"),
          sum(col("nation_cents")).over(byRegion).as("region_cents"),
          round(col("nation_cents").cast("double") /
            sum(col("nation_cents")).over(byRegion), 6).as("pct_of_region"),
          round(sum(col("nation_cents")).over(byRegion).cast("double") /
            sum(col("nation_cents")).over(all), 6).as("region_pct_of_total"))
        .orderBy("r_name", "n_name")
    },
      """WITH rev AS (
           SELECT r_name, n_name,
             sum(round(o_totalprice * 100)::BIGINT)::BIGINT
               AS nation_cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, n_name, nation_cents,
           sum(nation_cents) OVER (PARTITION BY r_name)::BIGINT
             AS region_cents,
           round(CAST(nation_cents AS DOUBLE) /
             sum(nation_cents) OVER (PARTITION BY r_name), 6)
             AS pct_of_region,
           round(CAST(sum(nation_cents) OVER (PARTITION BY r_name)
               AS DOUBLE) / sum(nation_cents) OVER (), 6)
             AS region_pct_of_total
         FROM rev ORDER BY r_name, n_name"""),

    // SCHEMA-DRIFT UNION (unionByName with missing-column
    // reconciliation — the ingestion primitive when v1 and v2 exports
    // coexist): an old extract (no priority column) and a new extract
    // (extra column) union by NAME, absent columns null-filled —
    // position-based UNION would silently mis-align. Aggregated per
    // status × presence so the null-fill behavior is the gate.
    QueryDef("q203_schema_drift_union", (s, dir) => {
      val o = t(s, dir, "orders")
      val v1 = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val v2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          col("o_orderpriority"))
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(col("o_orderstatus"),
          col("o_orderpriority").isNull.as("from_v1"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          min(col("o_orderkey")).as("first_key"))
        .orderBy("o_orderstatus", "from_v1")
    },
      """WITH v1 AS (
           SELECT o_orderkey, o_orderstatus,
             round(o_totalprice * 100)::BIGINT AS cents,
             NULL::VARCHAR AS o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 0),
         v2 AS (
           SELECT o_orderkey, o_orderstatus,
             round(o_totalprice * 100)::BIGINT AS cents, o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 1),
         u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         SELECT o_orderstatus, (o_orderpriority IS NULL) AS from_v1,
           count(*)::BIGINT AS n, sum(cents)::BIGINT AS cents,
           min(o_orderkey)::BIGINT AS first_key
         FROM u GROUP BY 1, 2 ORDER BY 1, 2"""),

    // MULTISET SET OPERATIONS (INTERSECT ALL / EXCEPT ALL — bag
    // semantics the DISTINCT forms get wrong): the multiset of
    // customers' open-order keys vs filled-order keys; intersectAll
    // keeps min(multiplicity), exceptAll subtracts it. Spark plans
    // both as a single aggregate+generate (no pairwise join); gated by
    // replaying the same bag algebra in the oracle.
    QueryDef("q204_multiset_ops", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val b = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      val inter = a.intersectAll(b).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_inter"))
      val diff = a.exceptAll(b).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_except"))
      inter.join(diff, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          coalesce(col("n_except"), lit(0L)).as("n_except"))
        .orderBy("o_custkey")
    },
      """WITH a AS (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         b AS (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         ac AS (SELECT o_custkey, count(*)::BIGINT AS ca
                FROM a GROUP BY 1),
         bc AS (SELECT o_custkey, count(*)::BIGINT AS cb
                FROM b GROUP BY 1),
         m AS (
           SELECT coalesce(ac.o_custkey, bc.o_custkey) AS o_custkey,
             coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
           FROM ac FULL OUTER JOIN bc USING (o_custkey))
         SELECT o_custkey, least(ca, cb)::BIGINT AS n_inter,
           greatest(ca - cb, 0)::BIGINT AS n_except
         FROM m WHERE least(ca, cb) > 0 OR greatest(ca - cb, 0) > 0
         ORDER BY o_custkey"""),
  )
}
