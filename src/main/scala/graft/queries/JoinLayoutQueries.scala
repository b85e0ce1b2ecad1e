package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Partitioning, TextFunctions => TF}
import graft.functions.SortedSumD.{sortedSum => ssum}
import graft.ops.{AsOf, Caches, JoinOps}
import graft.queries.Shared.{events, t}

/** Join algorithms, partitioning, physical layout and planner statistics.
  * Each entry pairs a query with its DuckDB oracle ([[QueryDef]]). */
object JoinLayoutQueries {

  val defs: Seq[QueryDef] = Seq(

    // As-of join (point-in-time): for each purchase, the user's latest
    // click at-or-before it — composed as union + one keyed window (one
    // shuffle, no join, no row explosion; see ops.AsOf).
    QueryDef("q33_asof_join", (s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts")
      AsOf.join(purchases, clicks, "user_id", "ts", "ts", valueCols = Nil)
        .select(col("event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("asof_ts"))
        .orderBy("event_id")
    },
      """SELECT p.event_id,
           strftime((SELECT max(c.ts) FROM events c
                     WHERE c.user_id = p.user_id
                       AND c.event_type = 'click' AND c.ts <= p.ts),
                    '%Y-%m-%d %H:%M:%S.%f') AS asof_ts
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),

    // The SAME as-of semantics through the NATIVE custom operator
    // (logical node → strategy → sort-merge exec, graft.plans) — the
    // custom-plan path under the same oracle as q33.
    QueryDef("q37_asof_native", (s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts")
      graft.plans.AsOfJoinPlan.asofJoin(purchases, clicks, "user_id", "ts", "ts")
        .select(col("event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("asof_ts"))
        .orderBy("event_id")
    },
      """SELECT p.event_id,
           strftime((SELECT max(c.ts) FROM events c
                     WHERE c.user_id = p.user_id
                       AND c.event_type = 'click' AND c.ts <= p.ts),
                    '%Y-%m-%d %H:%M:%S.%f') AS asof_ts
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),

    // Bloom-pruned fact⋈dim join (graft.ops.JoinOps): the selective
    // dimension's key set rides the plan as a bloom filter probed by a
    // codegen'd native expression inside the fact SCAN stage, so only
    // might-match rows are hashed/shuffled. Exactness: blooms have no
    // false negatives and the real join drops false positives, so the
    // result ≡ the plain join — which IS the oracle.
    QueryDef("q54_bloom_join", (s, dir) => {
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 200000)
        .select("o_orderkey", "o_orderdate")
      JoinOps.bloomPrunedJoin(t(s, dir, "lineitem"), "l_orderkey",
          dim, "o_orderkey")
        .groupBy(date_format(date_trunc("month", col("o_orderdate")),
          "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_items"),
          // exact 10⁻⁴-dollar revenue units, half-up at display — the
          // raw double sum here was the round-14 adverse-plan soak's
          // one catch: a different partition geometry reordered the
          // additions and flipped a 2-decimal rounding boundary
          sum(round(col("l_extendedprice") * 100, 0).cast("long") *
            (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
            .as("__rev_c4"))
        .select(col("month"), col("n_items"),
          (expr("(__rev_c4 + 50) div 100").cast("double") / 100.0)
            .as("revenue"))
        .orderBy("month")
    },
      // The bloom filter is exact-in-result (no false negatives), so the
      // oracle is the PLAIN join — any pruning bug shows as a hash miss.
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           count(*) AS n_items,
           (((sum(cast(round(l_extendedprice*100) as bigint) *
              (100 - cast(round(l_discount*100) as bigint)))::BIGINT + 50)
            // 100))::DOUBLE / 100.0 AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
         GROUP BY 1 ORDER BY 1"""),

    // Skew-safe salted join (engine.Partitioning.saltedJoin): each big-
    // side row gets a deterministic-width salt fanout so a hot customer
    // spreads over saltFactor tasks; the small side replicates per salt.
    // Semantics-preserving — hash-gated against the unsalted join.
    QueryDef("q55_salted_join", (s, dir) => {
      val orders = t(s, dir, "orders")
        .withColumnRenamed("o_custkey", "c_custkey")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      Partitioning.saltedJoin(orders, cust, "c_custkey", saltFactor = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("total"))
        .orderBy("c_nationkey")
    },
      """SELECT c_nationkey, count(*) AS n_orders,
           (sum(cast(round(o_totalprice*100) as bigint))::BIGINT)::DOUBLE / 100.0 AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1"""),

    // Bucketed range join (ops.RangeJoin): point-in-interval matching as
    // a day-bucket EQUI-join + exact containment filter — the rewrite
    // that keeps a non-equi time join off Spark's nested-loop/cartesian
    // path. Shipments landing inside 3-day windows around sampled
    // orders' dates, aggregated per interval. Oracle = the naive theta
    // join DuckDB can afford at this scale.
    QueryDef("q58_range_join", (s, dir) => {
      val iv = t(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("start_ts"),
          (col("o_orderdate") + expr("interval 3 days")).as("end_ts"))
      graft.ops.RangeJoin.pointInInterval(
          t(s, dir, "lineitem").select("l_shipdate", "l_quantity"),
          "l_shipdate", iv, "start_ts", "end_ts")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_pts"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("o_orderkey")
    },
      // the naive theta join — affordable for DuckDB at oracle scale; the
      // engine side must produce the identical result via bucketing
      """SELECT o_orderkey, count(*) AS n_pts,
           round(sum(l_quantity), 2) AS sum_qty
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 3 DAY
         WHERE o.o_orderkey % 100 = 0
         GROUP BY 1 ORDER BY 1"""),

    // The SAME range-join semantics as q58, but written as a plain
    // theta join and rescued by the RangeJoinRewrite OPTIMIZER RULE
    // (plans.RangeJoinRewrite, injectable via GraftExtensions): Catalyst
    // rewrites the nested-loop shape into the bucketed equi join
    // automatically. Same oracle as q58 — the rule must be invisible in
    // results and visible only in the plan.
    QueryDef("q65_range_join_rule", (s, dir) => {
      if (!s.experimental.extraOptimizations
          .contains(graft.plans.RangeJoinRewrite))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.RangeJoinRewrite
      val iv = t(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("start_ts"),
          (col("o_orderdate") + expr("interval 3 days")).as("end_ts"))
      t(s, dir, "lineitem").select("l_shipdate", "l_quantity")
        .join(iv, col("l_shipdate") >= col("start_ts") &&
          col("l_shipdate") < col("end_ts"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_pts"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, count(*) AS n_pts,
           round(sum(l_quantity), 2) AS sum_qty
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 3 DAY
         WHERE o.o_orderkey % 100 = 0
         GROUP BY 1 ORDER BY 1"""),

    // Z-order (Morton) codes for multi-dimensional layout
    // (ops.Layout.zValue2): pure codegen'd bit interleaving, replayed
    // bit-for-bit by the oracle's shift/and arithmetic. The write-side
    // companion (zorderWrite: range partition on z + in-file sort) is
    // plan/file-asserted in LayoutSpec.
    QueryDef("q66_zorder", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          graft.ops.Layout.zValue2(col("c_nationkey"),
            pmod(col("c_custkey"), lit(32)), bits = 8).as("z"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
           CAST(list_sum(list_transform(range(0, 8), i ->
             (((c_nationkey >> i) & 1) << (2*i)) +
             ((((c_custkey % 32) >> i) & 1) << (2*i + 1)))) AS BIGINT) AS z
         FROM customer ORDER BY c_custkey"""),

    // The stream-stream interval join's BATCH semantics, oracle-gated:
    // each click pairs with the same user's purchases in [click,
    // click+30min] (EventStreams.intervalJoin — watermarks are no-ops
    // on batch frames, so this is the same code path streaming runs).
    QueryDef("q67_interval_join", (s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("l_uid"), col("ts").as("l_ts"),
          col("event_id").as("click_id"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_uid"), col("ts").as("r_ts"),
          col("event_id").as("buy_id"))
      graft.streaming.EventStreams.intervalJoin(clicks, buys,
          "l_uid", "r_uid", "l_ts", "r_ts",
          before = "0 minutes", after = "30 minutes")
        .select(col("click_id"), col("buy_id"))
        .orderBy("click_id", "buy_id")
    },
      """SELECT c.event_id AS click_id, p.event_id AS buy_id
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         ORDER BY 1, 2"""),

    // FORWARD as-of with tolerance (AsOf.join direction="forward"):
    // each click resolves to the user's FIRST purchase in [click,
    // click+30min] — the 1:1 first-match complement of q67's
    // all-matches interval join. Same single-shuffle union+window plan
    // as the backward form, scanned in the opposite direction.
    QueryDef("q77_asof_forward", (s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val buys = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts")
      AsOf.join(clicks, buys, "user_id", "ts", "ts", valueCols = Nil,
          direction = "forward",
          tolerance = Some(expr("INTERVAL 30 MINUTES")))
        .select(col("event_id"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("asof_ts"))
        .orderBy("event_id")
    },
      """SELECT c.event_id,
           strftime((SELECT min(p.ts) FROM events p
                     WHERE p.user_id = c.user_id
                       AND p.event_type = 'purchase'
                       AND p.ts >= c.ts
                       AND p.ts <= c.ts + INTERVAL 30 MINUTE),
                    '%Y-%m-%d %H:%M:%S.%f') AS asof_ts
         FROM events c WHERE c.event_type = 'click'
         ORDER BY c.event_id"""),

    // Salted two-phase aggregation (Partitioning.saltedSumCount): hot
    // keys split across 8 reducers in phase 1, partials combined in
    // phase 2 — EXACT (decimal sums), so the oracle is the plain
    // GROUP BY. The skew pattern for per-key-large aggregation state.
    QueryDef("q89_salted_agg", (s, dir) => {
      Partitioning.saltedSumCount(
          t(s, dir, "lineitem").select(col("l_returnflag"),
            col("l_extendedprice").cast("decimal(18,2)").as("price")),
          Seq("l_returnflag"), col("price"), saltFactor = 8)
        .select(col("l_returnflag"),
          col("sum_val").cast("decimal(38,2)").cast("string").as("sum_price"),
          col("cnt"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
           count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // JOIN-FANOUT ESTIMATOR (the pre-flight skew diagnostic a 100 TB
    // join needs BEFORE running): per-key multiplicities on both sides
    // of orders ⋈ lineitem, estimated output = Σ cnt_l·cnt_r computed
    // from the two count tables (metadata-sized vs the join itself),
    // plus the top-10 blowup keys. Two count aggs + one key-equality
    // join of count tables + a rank window — never the data join.
    QueryDef("q166_join_fanout", (s, dir) => {
      val lo = t(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("cl"))
      val rl = t(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("cr"))
      val prod = lo.join(rl, Seq("k"))
        .select(col("k"), col("cl"), col("cr"),
          (col("cl") * col("cr")).as("pairs"))
      val tot = prod.agg(sum(col("pairs")).as("total_pairs"),
        count(lit(1)).as("n_keys"))
      prod.crossJoin(broadcast(tot))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("pairs").desc, col("k"))))
        .filter(col("rn") <= 10)
        .select(col("rn"), col("k"), col("cl"), col("cr"), col("pairs"),
          col("total_pairs"),
          round(col("pairs").cast("double") * col("n_keys") /
            col("total_pairs"), 4).as("x_avg"))
        .orderBy("rn")
    },
      """WITH lo AS (
           SELECT o_orderkey AS k, count(*)::BIGINT AS cl
           FROM orders GROUP BY 1),
         rl AS (
           SELECT l_orderkey AS k, count(*)::BIGINT AS cr
           FROM lineitem GROUP BY 1),
         p AS (
           SELECT lo.k, lo.cl, rl.cr, (lo.cl * rl.cr)::BIGINT AS pairs
           FROM lo JOIN rl USING (k)),
         t AS (
           SELECT sum(pairs)::BIGINT AS total_pairs,
             count(*)::BIGINT AS n_keys
           FROM p),
         r AS (
           SELECT p.*, t.total_pairs, t.n_keys,
             row_number() OVER (ORDER BY pairs DESC, k) AS rn
           FROM p CROSS JOIN t)
         SELECT rn::BIGINT AS rn, k, cl, cr, pairs, total_pairs,
           round(pairs::DOUBLE * n_keys / total_pairs, 4) AS x_avg
         FROM r WHERE rn <= 10 ORDER BY rn"""),

    // CONSISTENT-HASH SHARD ASSIGNMENT + REBALANCE DIFF (the
    // partitioning-design primitive behind every distributed KV /
    // shuffle service): a 16-vnode md5 ring per shard, keys map to
    // their ring successor. The gate PROVES the minimal-movement
    // property in data: growing 8→9 shards, every moved key lands on
    // the NEW shard (n_moved_elsewhere = 0 in every row) and ~1/9 of
    // keys move. Rings are 128/144-entry broadcast arrays; assignment
    // is one map-side array probe per key — no shuffle beyond the
    // report aggregation.
    QueryDef("q169_consistent_hash", (s, dir) => {
      def ring(n: Int): DataFrame = {
        val vn = (0 until n).flatMap(sh => (0 until 16).map(r => (sh, r)))
        val s0 = s
        import s0.implicits._
        vn.toDF("sh", "r")
          .select((TF.md5Hash48(concat(col("sh").cast("string"), lit("/"),
            col("r").cast("string"))) * 64 + col("sh")).as("c"))
          .agg(sort_array(collect_list(col("c"))).as("ring"))
      }
      def succ(ringCol: Column, k: Column): Column =
        pmod(coalesce(array_min(filter(ringCol, x => x > k)),
          array_min(ringCol)), lit(64))
      val keys = t(s, dir, "customer")
        .select(col("c_custkey").as("key"),
          (TF.md5Hash48(col("c_custkey").cast("string")) * 64 + 63)
            .as("k64"))
      keys
        .crossJoin(broadcast(ring(8).withColumnRenamed("ring", "r8")))
        .crossJoin(broadcast(ring(9).withColumnRenamed("ring", "r9")))
        .select(col("key"), succ(col("r8"), col("k64")).as("s8"),
          succ(col("r9"), col("k64")).as("s9"))
        .groupBy(col("s8").as("shard"))
        .agg(count(lit(1)).as("n_keys"),
          sum((col("s9") =!= col("s8")).cast("long")).as("n_moved"),
          sum((col("s9") =!= col("s8") && col("s9") =!= 8)
            .cast("long")).as("n_moved_elsewhere"))
        .withColumn("frac_moved",
          round(col("n_moved").cast("double") / col("n_keys"), 4))
        .orderBy("shard")
    },
      """WITH v8 AS (SELECT t.range AS s, u.range AS r
                     FROM range(8) t, range(16) u),
         v9 AS (SELECT t.range AS s, u.range AS r
                FROM range(9) t, range(16) u),
         r8 AS (SELECT list_sort(list(
             ('0x' || substring(md5('0:' || s || '/' || r), 1, 12))::BIGINT
               * 64 + s)) AS ring FROM v8),
         r9 AS (SELECT list_sort(list(
             ('0x' || substring(md5('0:' || s || '/' || r), 1, 12))::BIGINT
               * 64 + s)) AS ring FROM v9),
         k AS (
           SELECT c_custkey AS key,
             ('0x' || substring(md5('0:' || c_custkey), 1, 12))::BIGINT
               * 64 + 63 AS k64
           FROM customer),
         a AS (
           SELECT key,
             coalesce(list_min(list_filter(r8.ring, x -> x > k64)),
               list_min(r8.ring)) % 64 AS s8,
             coalesce(list_min(list_filter(r9.ring, x -> x > k64)),
               list_min(r9.ring)) % 64 AS s9
           FROM k, r8, r9)
         SELECT s8 AS shard, count(*)::BIGINT AS n_keys,
           sum((s9 <> s8)::BIGINT)::BIGINT AS n_moved,
           sum((s9 <> s8 AND s9 <> 8)::BIGINT)::BIGINT
             AS n_moved_elsewhere,
           round(sum((s9 <> s8)::BIGINT)::DOUBLE / count(*), 4)
             AS frac_moved
         FROM a GROUP BY 1 ORDER BY 1"""),

    // PARETO-FRONTIER (skyline) of parts — minimize retail price,
    // maximize size — computed scale-first: phase 1 prunes map-side
    // against a broadcast per-price-decile running-max-size table (a
    // row below an earlier bucket's max is strictly dominated; survivors
    // ≈ frontier + bucket-local noise), phase 2 runs the exact
    // keep-first skyline window on the pruned sliver only, so the
    // global ORDER BY window never sees the full table.
    QueryDef("q172_skyline", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val bounds = p.agg(expr(
        "percentile(p_retailprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs"))
      val bucketed = p.crossJoin(broadcast(bounds))
        .withColumn("bk",
          lit(1) + size(filter(col("bs"), b => col("p_retailprice") > b)))
        .drop("bs")
      val bmax = bucketed.groupBy("bk")
        .agg(max(col("p_size")).as("bmx"))
        .withColumn("prevmx", max(col("bmx")).over(
          Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)))
        .select("bk", "prevmx")
      val pruned = bucketed.join(broadcast(bmax), Seq("bk"))
        .filter(col("prevmx").isNull || col("p_size") >= col("prevmx"))
      val w = Window.orderBy(col("p_retailprice"), col("p_size").desc,
        col("p_partkey")).rowsBetween(Window.unboundedPreceding, -1)
      pruned.withColumn("mx", max(col("p_size")).over(w))
        .filter(col("mx").isNull || col("p_size") > col("mx"))
        .select(col("p_partkey"), round(col("p_retailprice"), 2)
          .as("price"), col("p_size"))
        .orderBy("p_partkey")
    },
      """WITH s AS (
           SELECT p_partkey, p_retailprice, p_size,
             max(p_size) OVER (ORDER BY p_retailprice, p_size DESC,
               p_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND
               1 PRECEDING) AS mx
           FROM part)
         SELECT p_partkey, round(p_retailprice, 2) AS price, p_size
         FROM s WHERE mx IS NULL OR p_size > mx
         ORDER BY p_partkey"""),

    // NEAREST-HUB GEO ASSIGNMENT + haversine distance (the geospatial
    // partitioning primitive): deterministic synthetic coordinates
    // (exact modular decimals — identical doubles in both engines),
    // nearest of 25 broadcast hubs chosen by EXACT squared-degree
    // arithmetic (argmin never depends on libm), haversine computed
    // once per row for the chosen hub only, rounded for display. One
    // broadcast join, map-side math, one aggregation for the report.
    QueryDef("q185_geo_hubs", (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        ((col("c_custkey") * 37547 % 17000) / 100.0 - 85.0).as("lat"),
        ((col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).as("lon"))
      val hubs = Caches.small(
        t(s, dir, "nation").select(col("n_nationkey").as("hub"),
          ((col("n_nationkey") * 6151 % 17000) / 100.0 - 85.0).as("hlat"),
          ((col("n_nationkey") * 2741 % 36000) / 100.0 - 180.0).as("hlon")))
      val rad = (c: Column) => c * math.Pi / 180.0
      val assigned = cust.crossJoin(broadcast(hubs))
        .withColumn("d2",
          (col("lat") - col("hlat")) * (col("lat") - col("hlat")) +
            (col("lon") - col("hlon")) * (col("lon") - col("hlon")))
        .withColumn("rn", row_number().over(Window
          .partitionBy("c_custkey").orderBy(col("d2"), col("hub"))))
        .filter(col("rn") === 1)
      val hv = assigned.withColumn("km",
        lit(2 * 6371.0) * asin(sqrt(
          pow(sin(rad(col("hlat") - col("lat")) / 2), 2) +
            cos(rad(col("lat"))) * cos(rad(col("hlat"))) *
              pow(sin(rad(col("hlon") - col("lon")) / 2), 2))))
      hv.groupBy("hub")
        .agg(count(lit(1)).as("n_assigned"),
          round(min(col("km")), 2).as("min_km"),
          round(max(col("km")), 2).as("max_km"),
          round(ssum(collect_list(col("km"))) / count(lit(1)), 2)
            .as("mean_km"))
        .orderBy("hub")
    },
      """WITH cust AS (
           SELECT c_custkey,
             (c_custkey * 37547 % 17000) / 100.0 - 85.0 AS lat,
             (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
           FROM customer),
         hubs AS (
           SELECT n_nationkey AS hub,
             (n_nationkey * 6151 % 17000) / 100.0 - 85.0 AS hlat,
             (n_nationkey * 2741 % 36000) / 100.0 - 180.0 AS hlon
           FROM nation),
         x AS (
           SELECT c.*, h.*,
             (lat - hlat) * (lat - hlat) + (lon - hlon) * (lon - hlon)
               AS d2,
             row_number() OVER (PARTITION BY c_custkey
               ORDER BY (lat - hlat) * (lat - hlat)
                 + (lon - hlon) * (lon - hlon), hub) AS rn
           FROM cust c CROSS JOIN hubs h),
         a AS (
           SELECT *, 2 * 6371.0 * asin(sqrt(
               pow(sin((hlat - lat) * pi() / 180.0 / 2), 2)
               + cos(lat * pi() / 180.0) * cos(hlat * pi() / 180.0)
                 * pow(sin((hlon - lon) * pi() / 180.0 / 2), 2))) AS km
           FROM x WHERE rn = 1)
         SELECT hub, count(*)::BIGINT AS n_assigned,
           round(min(km), 2) AS min_km, round(max(km), 2) AS max_km,
           round(list_sum(list_sort(list(km))) / count(*), 2) AS mean_km
         FROM a GROUP BY 1 ORDER BY 1"""),

    // JOIN CARDINALITY MODEL vs ACTUAL (the q-error audit of the
    // textbook estimator |L|·|R|/max(d_L,d_R) — the planner diagnostic
    // behind every join-order decision): three FK joins, estimates
    // from count/distinct-count tables only, actuals from the real
    // join counts, q-error = max(est/act, act/est).
    QueryDef("q235_cardinality_model", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      def probe(name: String, l: DataFrame, lk: String,
                r: DataFrame, rk: String): DataFrame = {
        val stats = l.agg(count(lit(1)).as("n_left"),
            countDistinct(col(lk)).as("d_left"))
          .crossJoin(broadcast(r.agg(count(lit(1)).as("n_right"),
            countDistinct(col(rk)).as("d_right"))))
        val actual = l.join(r, col(lk) === col(rk))
          .agg(count(lit(1)).as("actual"))
        stats.crossJoin(broadcast(actual))
          .select(lit(name).as("join_name"), col("n_left"),
            col("d_left"), col("n_right"), col("d_right"),
            floor(d(col("n_left")) * col("n_right") /
              greatest(col("d_left"), col("d_right")) + 0.5).cast("long")
              .as("est"),
            col("actual"))
      }
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val li = t(s, dir, "lineitem"); val p = t(s, dir, "part")
      val su = t(s, dir, "supplier")
      probe("orders_customer", o, "o_custkey", c, "c_custkey")
        .unionByName(probe("lineitem_part", li, "l_partkey", p,
          "p_partkey"))
        .unionByName(probe("lineitem_supplier", li, "l_suppkey", su,
          "s_suppkey"))
        .withColumn("q_error", round(greatest(
          d(col("est")) / col("actual"),
          d(col("actual")) / col("est")), 4))
        .orderBy("join_name")
    },
      """WITH probes AS (
           SELECT 'orders_customer' AS join_name,
             (SELECT count(*) FROM orders)::BIGINT AS n_left,
             (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT
               AS d_left,
             (SELECT count(*) FROM customer)::BIGINT AS n_right,
             (SELECT count(DISTINCT c_custkey) FROM customer)::BIGINT
               AS d_right,
             (SELECT count(*) FROM orders o JOIN customer c
               ON o.o_custkey = c.c_custkey)::BIGINT AS actual
           UNION ALL
           SELECT 'lineitem_part',
             (SELECT count(*) FROM lineitem)::BIGINT,
             (SELECT count(DISTINCT l_partkey) FROM lineitem)::BIGINT,
             (SELECT count(*) FROM part)::BIGINT,
             (SELECT count(DISTINCT p_partkey) FROM part)::BIGINT,
             (SELECT count(*) FROM lineitem l JOIN part p
               ON l.l_partkey = p.p_partkey)::BIGINT
           UNION ALL
           SELECT 'lineitem_supplier',
             (SELECT count(*) FROM lineitem)::BIGINT,
             (SELECT count(DISTINCT l_suppkey) FROM lineitem)::BIGINT,
             (SELECT count(*) FROM supplier)::BIGINT,
             (SELECT count(DISTINCT s_suppkey) FROM supplier)::BIGINT,
             (SELECT count(*) FROM lineitem l JOIN supplier s
               ON l.l_suppkey = s.s_suppkey)::BIGINT)
         SELECT join_name, n_left, d_left, n_right, d_right,
           floor(n_left::DOUBLE * n_right
             / greatest(d_left, d_right) + 0.5)::BIGINT AS est,
           actual,
           round(greatest(
             floor(n_left::DOUBLE * n_right
               / greatest(d_left, d_right) + 0.5)::DOUBLE / actual,
             actual::DOUBLE /
               floor(n_left::DOUBLE * n_right
                 / greatest(d_left, d_right) + 0.5)), 4) AS q_error
         FROM probes ORDER BY join_name"""),

    // GEOHASH ENCODING (base-32 Morton interleave — the geospatial
    // bucketing primitive behind spatial joins and map tiles): the
    // q185 synthetic coordinates quantize to 13+12 bit cells; the
    // 25-bit interleave is an explode over bit positions + ONE integer
    // sum (no loops, no UDF), then five substring lookups into the
    // base-32 alphabet. Every step is integer arithmetic both engines
    // replay exactly.
    QueryDef("q248_geohash", (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        ((col("c_custkey") * 37547 % 17000) / 100.0 - 85.0).as("lat"),
        ((col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).as("lon"))
      val quant = cust
        .withColumn("lonb", floor((col("lon") + 180.0) / 360.0 * 8192)
          .cast("long"))
        .withColumn("latb", floor((col("lat") + 90.0) / 180.0 * 4096)
          .cast("long"))
      // morton: even output bits (from MSB) take lon bits, odd take lat
      val bits = quant.select(col("c_custkey"), col("lonb"), col("latb"),
          explode(sequence(lit(0), lit(24))).as("i"))
        .withColumn("bit",
          when(col("i") % 2 === 0,
            expr("(lonb div cast(pow(2, 12 - i div 2) as long)) % 2"))
            .otherwise(
              expr("(latb div cast(pow(2, 11 - i div 2) as long)) % 2")))
        .withColumn("contrib",
          expr("bit * cast(pow(2, 24 - i) as long)"))
      val morton = bits.groupBy("c_custkey", "lonb", "latb")
        .agg(sum(col("contrib")).as("m"))
      val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
      val hash = morton.withColumn("gh", concat(
        (0 until 5).map(c => expr(
          s"substring('$alpha', cast((m div cast(pow(2, ${20 - 5 * c})" +
            " as long)) % 32 + 1 as int), 1)")): _*))
      hash.select(col("c_custkey"), col("gh")).orderBy("c_custkey")
    },
      """WITH cust AS (
           SELECT c_custkey,
             (c_custkey * 37547 % 17000) / 100.0 - 85.0 AS lat,
             (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
           FROM customer),
         q AS (
           SELECT c_custkey,
             floor((lon + 180.0) / 360.0 * 8192)::BIGINT AS lonb,
             floor((lat + 90.0) / 180.0 * 4096)::BIGINT AS latb
           FROM cust),
         bits AS (
           SELECT c_custkey, lonb, latb, i.range AS i,
             (CASE WHEN i.range % 2 = 0
               THEN (lonb // CAST(pow(2, 12 - i.range // 2) AS BIGINT))
                 % 2
               ELSE (latb // CAST(pow(2, 11 - i.range // 2) AS BIGINT))
                 % 2 END)
               * CAST(pow(2, 24 - i.range) AS BIGINT) AS contrib
           FROM q CROSS JOIN range(0, 25) i),
         m AS (
           SELECT c_custkey, sum(contrib)::BIGINT AS m
           FROM bits GROUP BY 1),
         gh AS (
           SELECT c_custkey,
             substring('0123456789bcdefghjkmnpqrstuvwxyz',
               ((m // 1048576) % 32 + 1)::INT, 1) ||
             substring('0123456789bcdefghjkmnpqrstuvwxyz',
               ((m // 32768) % 32 + 1)::INT, 1) ||
             substring('0123456789bcdefghjkmnpqrstuvwxyz',
               ((m // 1024) % 32 + 1)::INT, 1) ||
             substring('0123456789bcdefghjkmnpqrstuvwxyz',
               ((m // 32) % 32 + 1)::INT, 1) ||
             substring('0123456789bcdefghjkmnpqrstuvwxyz',
               (m % 32 + 1)::INT, 1) AS gh
           FROM m)
         SELECT c_custkey, gh FROM gh ORDER BY c_custkey"""),

    // SALT-FACTOR PLANNER (how much to salt each skewed join key —
    // q166's diagnostic turned into a prescription): per join key the
    // max per-key row count vs a 10k-rows-per-task target gives the
    // recommended salt fan-out ⌈max/target⌉; keys needing salt > 1
    // are listed with their skew ratios. Count tables only.
    QueryDef("q256_salt_planner", (s, dir) => {
      val target = 1000L
      def keyStats(name: String, df: DataFrame, k: String) = {
        val cnt = df.groupBy(col(k).as("key")).agg(count(lit(1)).as("n"))
        cnt.agg(lit(name).as("join_key"),
          count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          max(col("n")).as("max_key_rows"))
      }
      keyStats("lineitem.l_orderkey", t(s, dir, "lineitem"), "l_orderkey")
        .unionByName(keyStats("lineitem.l_partkey",
          t(s, dir, "lineitem"), "l_partkey"))
        .unionByName(keyStats("lineitem.l_suppkey",
          t(s, dir, "lineitem"), "l_suppkey"))
        .unionByName(keyStats("orders.o_custkey",
          t(s, dir, "orders"), "o_custkey"))
        .withColumn("avg_x1000",
          expr("(n_rows * 1000) div n_keys"))
        .withColumn("skew_x1000",
          expr("(max_key_rows * 1000 * n_keys) div n_rows"))
        .withColumn("salt", expr(s"(max_key_rows + $target - 1)" +
          s" div $target"))
        .withColumn("needs_salt", col("salt") > 1)
        .orderBy("join_key")
    },
      """WITH s1 AS (
           SELECT 'lineitem.l_orderkey' AS join_key,
             count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS n_rows,
             max(n)::BIGINT AS max_key_rows
           FROM (SELECT l_orderkey, count(*)::BIGINT AS n
                 FROM lineitem GROUP BY 1)),
         s2 AS (
           SELECT 'lineitem.l_partkey', count(*)::BIGINT,
             sum(n)::BIGINT, max(n)::BIGINT
           FROM (SELECT l_partkey, count(*)::BIGINT AS n
                 FROM lineitem GROUP BY 1)),
         s3 AS (
           SELECT 'lineitem.l_suppkey', count(*)::BIGINT,
             sum(n)::BIGINT, max(n)::BIGINT
           FROM (SELECT l_suppkey, count(*)::BIGINT AS n
                 FROM lineitem GROUP BY 1)),
         s4 AS (
           SELECT 'orders.o_custkey', count(*)::BIGINT,
             sum(n)::BIGINT, max(n)::BIGINT
           FROM (SELECT o_custkey, count(*)::BIGINT AS n
                 FROM orders GROUP BY 1)),
         u AS (
           SELECT * FROM s1 UNION ALL SELECT * FROM s2
           UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
         SELECT join_key, n_keys, n_rows, max_key_rows,
           (n_rows * 1000) // n_keys AS avg_x1000,
           (max_key_rows * 1000 * n_keys) // n_rows AS skew_x1000,
           ((max_key_rows + 999) // 1000)::BIGINT AS salt,
           ((max_key_rows + 999) // 1000 > 1) AS needs_salt
         FROM u ORDER BY join_key"""),

    // PARETO LAYERS (non-dominated sorting, NSGA-style, first two
    // fronts): front 1 = the q172 skyline; front 2 = the skyline of
    // what remains after removing front 1 — multi-objective shortlist
    // construction. Each front runs the q172 TWO-PHASE pruning: phase 1
    // drops rows strictly dominated by an earlier price-decile's max
    // size via a broadcast per-decile running-max table (map-side), so
    // the exact keep-first skyline window in phase 2 only ever sees the
    // pruned sliver (≈ frontier + bucket-local noise), never the full
    // part table — the global ORDER BY window stays metadata-sized.
    // The decile BOUNDS are computed once from the full table and
    // checkpointed (one-row model frame): both fronts reuse the same
    // bucket geometry — prune validity needs only SOME monotone price
    // bucketing, while the per-bucket running max MUST be recomputed
    // per front from the rows still in play (a dropped row's dominator
    // is provably a front-1 member, so after removing front 1 the old
    // maxima would over-prune legitimate front-2 rows).
    QueryDef("q265_pareto_layers", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val bounds = graft.ops.Caches.small(p.agg(expr(
        "percentile(p_retailprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs")))
      val bucketed = p.crossJoin(broadcast(bounds))
        .withColumn("bk",
          lit(1) + size(filter(col("bs"), b => col("p_retailprice") > b)))
        .drop("bs")
      def front(df: DataFrame): DataFrame = {
        val bmax = df.groupBy("bk")
          .agg(max(col("p_size")).as("bmx"))
          .withColumn("prevmx", max(col("bmx")).over(
            Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)))
          .select("bk", "prevmx")
        val pruned = df.join(broadcast(bmax), Seq("bk"))
          .filter(col("prevmx").isNull || col("p_size") >= col("prevmx"))
        val w = Window.orderBy(col("p_retailprice"), col("p_size").desc,
          col("p_partkey")).rowsBetween(Window.unboundedPreceding, -1)
        pruned.withColumn("mx", max(col("p_size")).over(w))
          .filter(col("mx").isNull || col("p_size") > col("mx"))
          .drop("mx", "bk", "prevmx")
      }
      // frontier-sized: checkpoint so the anti-join AND the output
      // union don't each re-run front 1's prune+skyline pipeline
      val f1 = graft.ops.Caches.small(front(bucketed))
        .withColumn("front", lit(1L))
      val rest = bucketed.join(f1.select("p_partkey"), Seq("p_partkey"),
        "left_anti")
      val f2 = front(rest).withColumn("front", lit(2L))
      f1.unionByName(f2)
        .select(col("front"), col("p_partkey"),
          round(col("p_retailprice"), 2).as("price"), col("p_size"))
        .orderBy("front", "p_partkey")
    },
      """WITH p AS (
           SELECT p_partkey, p_retailprice, p_size FROM part),
         f1 AS (
           SELECT p_partkey, p_retailprice, p_size FROM (
             SELECT *, max(p_size) OVER (ORDER BY p_retailprice,
               p_size DESC, p_partkey ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING) AS mx
             FROM p)
           WHERE mx IS NULL OR p_size > mx),
         rest AS (
           SELECT p.* FROM p LEFT JOIN f1 USING (p_partkey)
           WHERE f1.p_partkey IS NULL),
         f2 AS (
           SELECT p_partkey, p_retailprice, p_size FROM (
             SELECT *, max(p_size) OVER (ORDER BY p_retailprice,
               p_size DESC, p_partkey ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING) AS mx
             FROM rest)
           WHERE mx IS NULL OR p_size > mx),
         u AS (
           SELECT 1::BIGINT AS front, p_partkey, p_retailprice, p_size
           FROM f1
           UNION ALL
           SELECT 2::BIGINT, p_partkey, p_retailprice, p_size FROM f2)
         SELECT front, p_partkey, round(p_retailprice, 2) AS price,
           p_size
         FROM u ORDER BY front, p_partkey"""),

    // ZONE-MAP FILE-SKIPPING EFFECTIVENESS — the data-layout lesson
    // behind every min/max-pruned scan: the SAME rows grouped into
    // files by hash (orderkey shard) vs by price-clustered ntile give
    // wildly different skip rates for the SAME range predicates,
    // because clustering tightens per-file min/max zones. 20 fixed
    // price bands × 2 layouts, skip test max < lo OR min ≥ hi —
    // integer-exact end to end; the predicate grid explodes map-side
    // (no join).
    QueryDef("q305_zonemap_skipping", (s, dir) => {
      val base = t(s, dir, "orders").select(
        date_format(col("o_orderdate"), "yyyy-MM").as("part"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"),
        col("o_orderkey").as("k"))
      val hashF = base.withColumn("fid", col("k") % 8)
        .withColumn("layout", lit("hash"))
      val clustF = base.withColumn("fid",
          ntile(8).over(Window.partitionBy("part")
            .orderBy(col("c"), col("k"))).cast("long"))
        .withColumn("layout", lit("clustered"))
      hashF.unionByName(clustF)
        .groupBy("layout", "part", "fid")
        .agg(min(col("c")).as("zmin"), max(col("c")).as("zmax"))
        .withColumn("pred", explode(sequence(lit(0L), lit(19L))))
        .withColumn("lo", col("pred") * 2500000L)
        .withColumn("hi", (col("pred") + 1L) * 2500000L)
        .groupBy("layout", "pred")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("zmax") < col("lo") || col("zmin") >= col("hi"),
            1L).otherwise(0L)).as("n_skipped"))
        .withColumn("skip_pct",
          round(col("n_skipped").cast("double") / col("n_files") * 100, 2))
        .orderBy("layout", "pred")
    },
      """WITH base AS (
           SELECT strftime(o_orderdate, '%Y-%m') AS part,
             round(o_totalprice * 100)::BIGINT AS c,
             o_orderkey AS k
           FROM orders),
         tagged AS (
           SELECT part, c, k % 8 AS fid, 'hash' AS layout FROM base
           UNION ALL
           SELECT part, c,
             ntile(8) OVER (PARTITION BY part ORDER BY c, k)::BIGINT,
             'clustered'
           FROM base),
         zones AS (
           SELECT layout, part, fid, min(c) AS zmin, max(c) AS zmax
           FROM tagged GROUP BY 1, 2, 3),
         z AS (
           SELECT layout, unnest(range(0, 20)) AS pred, zmin, zmax
           FROM zones)
         SELECT layout, pred, count(*)::BIGINT AS n_files,
           sum(CASE WHEN zmax < pred * 2500000
                      OR zmin >= (pred + 1) * 2500000
                    THEN 1 ELSE 0 END)::BIGINT AS n_skipped,
           round(sum(CASE WHEN zmax < pred * 2500000
                            OR zmin >= (pred + 1) * 2500000
                          THEN 1 ELSE 0 END)::DOUBLE
             / count(*) * 100, 2) AS skip_pct
         FROM z GROUP BY 1, 2 ORDER BY 1, 2"""),

    // RANGE-SELECTIVITY ESTIMATION from a fixed-width histogram (the
    // CBO primitive zone maps feed): 50k-cent buckets (map-side div —
    // no global sort, unlike an equi-depth build), uniform-within-
    // bucket interpolation for 5 deliberately bucket-misaligned
    // predicates, estimate vs exact row count. The per-predicate error
    // is the number a cost model's plan choice actually consumes.
    QueryDef("q312_selectivity_histogram", (s, dir) => {
      val W = 5000000L
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val o = t(s, dir, "orders").select(cents.as("c"))
      val hist = o.groupBy(expr("c div 5000000").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val preds = Seq(
        (0L, 1234567L, 8888888L), (1L, 7500000L, 20000000L),
        (2L, 12345678L, 13000000L), (3L, 30000000L, 47500000L),
        (4L, 2500000L, 52345678L))
      val pr = preds.map { case (p, lo, hi) =>
        struct(lit(p).as("pred"), lit(lo).as("lo"), lit(hi).as("hi")) }
      val d = (c: Column) => c.cast("double")
      val est = hist
        .withColumn("pp", explode(array(pr: _*)))
        .select(col("b"), col("cnt"), col("pp.pred").as("pred"),
          col("pp.lo").as("lo"), col("pp.hi").as("hi"))
        .withColumn("blo", col("b") * W)
        .withColumn("bhi", (col("b") + 1L) * W)
        .withColumn("frac",
          greatest(lit(0.0), (d(least(col("hi"), col("bhi")))
            - d(greatest(col("lo"), col("blo")))) / d(lit(W))))
        .groupBy("pred")
        .agg(round(ssum(collect_list(d(col("cnt")) * col("frac"))), 2)
          .as("est_rows"))
      val exact = o
        .withColumn("pp", explode(array(pr: _*)))
        .filter(col("c") >= col("pp.lo") && col("c") < col("pp.hi"))
        .groupBy(col("pp.pred").as("pred"))
        .agg(count(lit(1)).as("exact_rows"))
      est.join(exact, Seq("pred"), "left")
        .select(col("pred"), col("est_rows"),
          coalesce(col("exact_rows"), lit(0L)).as("exact_rows"))
        .orderBy("pred")
    },
      """WITH o AS (
           SELECT round(o_totalprice * 100)::BIGINT AS c FROM orders),
         hist AS (
           SELECT c // 5000000 AS b, count(*)::BIGINT AS cnt
           FROM o GROUP BY 1),
         preds AS (
           SELECT * FROM (VALUES (0::BIGINT, 1234567::BIGINT, 8888888::BIGINT),
             (1, 7500000, 20000000), (2, 12345678, 13000000),
             (3, 30000000, 47500000), (4, 2500000, 52345678))
             t(pred, lo, hi)),
         est AS (
           SELECT pred, round(list_sum(list_sort(list(
               cnt::DOUBLE * greatest(0.0,
                 (least(hi, (b + 1) * 5000000)::DOUBLE
                   - greatest(lo, b * 5000000)::DOUBLE)
                 / CAST(5000000 AS DOUBLE))))), 2) AS est_rows
           FROM hist CROSS JOIN preds GROUP BY 1),
         ex AS (
           SELECT pred, count(*)::BIGINT AS exact_rows
           FROM o JOIN preds ON c >= lo AND c < hi GROUP BY 1)
         SELECT pred, est_rows,
           coalesce(exact_rows, 0::BIGINT) AS exact_rows
         FROM est LEFT JOIN ex USING (pred) ORDER BY pred"""),

    // RENDEZVOUS (highest-random-weight) SHARDING — the stable shard
    // assignment for growing a cluster: each key goes to the shard
    // with the max deterministic hash(key, shard), so growing N=8 to
    // N=9 moves only the keys whose NEW shard wins (~1/9 in
    // expectation), vs mod-hashing's ~8/9 reshuffle. Map-side hashes,
    // two keyed aggregations; md5 arithmetic replays in the oracle.
    // Output: per old shard, the measured movement to the new ring.
    QueryDef("q333_rendezvous_sharding", (s, dir) => {
      val keys = t(s, dir, "customer").select(col("c_custkey").as("k"))
      def assign(n: Int, as: String) = keys
        .withColumn("s", explode(sequence(lit(0), lit(n - 1))))
        .withColumn("h",
          TF.md5Hash48(concat(col("k"), lit(":"), col("s"))))
        .groupBy("k").agg(expr("max_by(s, h)").cast("long").as(as))
      assign(8, "shard").join(assign(9, "shard9"), Seq("k"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("shard9") =!= col("shard"), 1L).otherwise(0L))
            .as("n_moved"))
        .withColumn("pct_moved",
          round(col("n_moved").cast("double") / col("n_keys") * 100, 4))
        .orderBy("shard")
    },
      """WITH k AS (SELECT c_custkey AS k FROM customer),
         h8 AS (
           SELECT k.k, t.s,
             ('0x' || substring(md5('0:' || CAST(k.k AS VARCHAR) || ':' ||
               CAST(t.s AS VARCHAR)), 1, 12))::BIGINT AS h
           FROM k, unnest(range(8)) AS t(s)),
         a8 AS (SELECT k, arg_max(s, h)::BIGINT AS shard FROM h8 GROUP BY k),
         h9 AS (
           SELECT k.k, t.s,
             ('0x' || substring(md5('0:' || CAST(k.k AS VARCHAR) || ':' ||
               CAST(t.s AS VARCHAR)), 1, 12))::BIGINT AS h
           FROM k, unnest(range(9)) AS t(s)),
         a9 AS (SELECT k, arg_max(s, h)::BIGINT AS shard9 FROM h9 GROUP BY k)
         SELECT shard, count(*) AS n_keys,
           sum(CASE WHEN shard9 <> shard THEN 1 ELSE 0 END)::BIGINT
             AS n_moved,
           round(sum(CASE WHEN shard9 <> shard THEN 1 ELSE 0 END)::DOUBLE
             / count(*) * 100, 4) AS pct_moved
         FROM a8 JOIN a9 USING (k)
         GROUP BY shard ORDER BY shard"""),
  )
}
