package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Dedup, TextFunctions => TF}
import graft.functions.SortedSumD.{sortedSum => ssum}
import graft.ops.Caches
import graft.queries.Shared.{events, t}

/** Descriptive statistics, hypothesis tests and distribution comparisons.
  * Each entry pairs a query with its DuckDB oracle ([[QueryDef]]). */
object StatisticsQueries {

  val defs: Seq[QueryDef] = Seq(

    // Exact interpolated percentiles per group (Spark `percentile` ==
    // DuckDB `quantile_cont` semantics).
    QueryDef("q38_percentiles", (s, dir) => {
      // Measured rejection (r15, verdict item 6): moving the
      // near-unique l_extendedprice p90 to
      // Selection.exactQuantilesContGrouped (bit-parity pinned by
      // SelectionSpec) ran 1.41 -> 1.74 s isolated at sf0.1 — the two
      // extra selection passes + join cost more than the built-in's
      // per-group value map while the maps stay memory-resident. The
      // grouped selection remains the documented scale path for when
      // a group's distinct-value domain stops fitting an aggregation
      // buffer; at the bench SFs the built-in is the right shape.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 2).as("p90_price"),
          round(expr("percentile(l_discount, array(0.25, 0.75))[0]"), 4)
            .as("p25_disc"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price,
           round(quantile_cont(l_discount, 0.25), 4) AS p25_disc
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // Grouped Pearson CORRELATION with deterministic float math: the
    // five sufficient statistics run through a TWO-LEVEL sorted fold
    // (the builtin corr sums in partition order — unreplayable). Level 1
    // folds within 4096 l_orderkey buckets, level 2 folds the sorted
    // bucket subtotals — every aggregation buffer is O(group/4096) or
    // O(4096), never the whole group (the single-level sorted fold this
    // replaces collected all of lineitem into 3 buffers — an OOM at
    // 100×). Both levels sort before folding, so the summation order is
    // a pure function of the multiset of values: bit-identical on any
    // engine, any partitioning, any scale.
    QueryDef("q82_corr", (s, dir) => {
      def sfold(c: Column) = ssum(collect_list(c))
      val x = col("l_quantity"); val y = col("l_extendedprice")
      val l1 = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), pmod(col("l_orderkey"), lit(4096)).as("b"))
        .agg(count(lit(1)).as("n1"),
          sfold(x).as("sx1"), sfold(y).as("sy1"),
          sfold(x * y).as("sxy1"),
          sfold(x * x).as("sxx1"), sfold(y * y).as("syy1"))
      l1.groupBy(col("l_returnflag"))
        .agg(sum(col("n1")).cast("double").as("n"),
          sfold(col("sx1")).as("sx"), sfold(col("sy1")).as("sy"),
          sfold(col("sxy1")).as("sxy"),
          sfold(col("sxx1")).as("sxx"), sfold(col("syy1")).as("syy"))
        .select(col("l_returnflag"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr"),
          col("n").cast("long").as("n"))
        .orderBy("l_returnflag")
    },
      // Two-level sorted fold, mirroring the Spark side exactly: fold
      // within l_orderkey%4096 buckets, then fold the sorted subtotals —
      // the summation order is a pure function of the value multiset.
      """WITH l1 AS (
           SELECT l_returnflag, l_orderkey % 4096 AS b,
             count(*) AS n1,
             list_sum(list_sort(list(l_quantity))) AS sx1,
             list_sum(list_sort(list(l_extendedprice))) AS sy1,
             list_sum(list_sort(list(l_quantity * l_extendedprice))) AS sxy1,
             list_sum(list_sort(list(l_quantity * l_quantity))) AS sxx1,
             list_sum(list_sort(list(l_extendedprice * l_extendedprice)))
               AS syy1
           FROM lineitem GROUP BY 1, 2),
         st AS (
           SELECT l_returnflag,
             CAST(sum(n1) AS DOUBLE) AS n,
             list_sum(list_sort(list(sx1))) AS sx,
             list_sum(list_sort(list(sy1))) AS sy,
             list_sum(list_sort(list(sxy1))) AS sxy,
             list_sum(list_sort(list(sxx1))) AS sxx,
             list_sum(list_sort(list(syy1))) AS syy
           FROM l1 GROUP BY 1)
         SELECT l_returnflag,
           round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS corr,
           CAST(n AS BIGINT) AS n
         FROM st ORDER BY l_returnflag"""),

    // Equal-frequency (decile) binning the SCALE-SAFE way: exact
    // percentile boundaries from one aggregation, broadcast back,
    // map-side assignment — no global ntile sort anywhere (the
    // single-partition window hazard q26 documents for rankings).
    QueryDef("q107_decile_binning", (s, dir) => {
      val orders = t(s, dir, "orders")
      val bounds = orders.agg(expr(
        "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs"))
      orders.crossJoin(broadcast(bounds))
        .select(col("o_totalprice"),
          (lit(1) + size(filter(col("bs"), b => col("o_totalprice") > b)))
            .as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy("decile")
    },
      """WITH b AS (
           SELECT quantile_cont(o_totalprice,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM orders),
         a AS (
           SELECT o_totalprice,
             1 + len(list_filter(bs, x -> o_totalprice > x)) AS decile
           FROM orders, b)
         SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
         FROM a GROUP BY 1 ORDER BY 1"""),

    // Statistical anomaly detection: per-type mean/std from SORTED-FOLD
    // moment sums (deterministic cross-engine, unlike builtin stddev's
    // partition-order sums), z-score flags via a broadcast join back.
    // TWO-LEVEL fold (q82's pattern): event_type is a handful of coarse
    // groups over the whole fact table, so a single-level fold's buffer
    // would hold the entire table — bucketing by event_id%4096 bounds
    // every buffer while keeping the summation order a pure function of
    // the value multiset (bit-identical on any engine / partitioning).
    QueryDef("q119_anomaly_zscore", (s, dir) => {
      val ev = events(s, dir)
      val sortedSum = (c: Column) => ssum(collect_list(c))
      val l1 = ev.groupBy(col("event_type"),
          pmod(col("event_id"), lit(4096)).as("b"))
        .agg(count(lit(1)).as("n1"),
          sortedSum(col("value")).as("sx1"),
          sortedSum(col("value") * col("value")).as("sx21"))
      val stats = l1.groupBy("event_type")
        .agg(sum(col("n1")).cast("long").as("n"),
          sortedSum(col("sx1")).as("sx"),
          sortedSum(col("sx21")).as("sx2"))
        .select(col("event_type"), col("n"),
          (col("sx") / col("n")).as("mean"),
          sqrt((col("sx2") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("std"))
      ev.join(broadcast(stats), Seq("event_type"))
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          round(max(col("mean")), 4).as("mean"),
          round(max(col("std")), 4).as("std"),
          sum((abs(col("value") - col("mean")) > lit(2.0) * col("std"))
            .cast("long")).as("n_outliers"))
        .orderBy("event_type")
    },
      // Two-level fold mirroring Spark: per-(type, event_id%4096) sorted
      // folds, then a sorted fold of the subtotals — bounded buffers,
      // order a pure function of the value multiset.
      """WITH l1 AS (
           SELECT event_type, event_id % 4096 AS b, count(*) AS n1,
             list_sum(list_sort(list(value))) AS sx1,
             list_sum(list_sort(list(value * value))) AS sx21
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT event_type, CAST(sum(n1) AS BIGINT) AS n,
             list_sum(list_sort(list(sx1))) AS sx,
             list_sum(list_sort(list(sx21))) AS sx2
           FROM l1 GROUP BY 1),
         st AS (
           SELECT event_type, n, sx / n AS mean,
             sqrt((sx2 - sx * sx / n) / (n - 1)) AS std
           FROM s)
         SELECT e.event_type, max(st.n) AS n,
           round(max(st.mean), 4) AS mean,
           round(max(st.std), 4) AS std,
           sum((abs(e.value - st.mean) > 2.0::DOUBLE * st.std)::BIGINT)
             ::BIGINT AS n_outliers
         FROM events e JOIN st ON e.event_type = st.event_type
         GROUP BY 1 ORDER BY 1"""),

    // Group-mean imputation: deterministically nulled values (id%7)
    // refilled from the two-level sorted-fold group mean (bounded
    // buffers — see q119) — the data-prep imputation primitive,
    // broadcast join + coalesce.
    QueryDef("q120_imputation", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("v"))
      val sfold = (c: Column) => ssum(collect_list(c))
      val means = ev.filter(col("v").isNotNull)
        .groupBy(col("event_type"), pmod(col("event_id"), lit(4096)).as("b"))
        .agg(sfold(col("v")).as("s1"), count(lit(1)).as("n1"))
        .groupBy("event_type")
        .agg((sfold(col("s1")) / sum(col("n1"))).as("gmean"))
      ev.join(broadcast(means), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          (col("v").isNull).cast("long").as("was_imputed"),
          round(coalesce(col("v"), col("gmean")), 2).as("value_filled"))
        .orderBy("event_id")
    },
      """WITH ev AS (
           SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
           FROM events),
         l1 AS (
           SELECT event_type, event_id % 4096 AS b,
             list_sum(list_sort(list(v))) AS s1, count(*) AS n1
           FROM ev WHERE v IS NOT NULL GROUP BY 1, 2),
         m AS (
           SELECT event_type,
             list_sum(list_sort(list(s1))) / sum(n1) AS gmean
           FROM l1 GROUP BY 1)
         SELECT event_id, ev.event_type,
           (v IS NULL)::BIGINT AS was_imputed,
           round(coalesce(v, gmean), 2) AS value_filled
         FROM ev JOIN m ON ev.event_type = m.event_type
         ORDER BY event_id"""),

    // BENFORD FIRST-DIGIT ANALYSIS (fraud/data-quality screening):
    // observed first-significant-digit counts of order totals vs the
    // Benford expectation log10(1+1/d), with the chi-square
    // contribution per digit. The digit comes from the INTEGER cents
    // string (no float log10 on data); the nine expected probabilities
    // are fixed 12-dp literals, so both engines run identical double
    // arithmetic. One 9-group aggregation; column-pruned scan.
    QueryDef("q154_benford", (s, dir) => {
      val expP = Map(1 -> 0.301029995664, 2 -> 0.176091259056,
        3 -> 0.124938736608, 4 -> 0.096910013008, 5 -> 0.079181246048,
        6 -> 0.066946789631, 7 -> 0.057991946978, 8 -> 0.051152522447,
        9 -> 0.045757490561)
      val counts = t(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(substring(round(col("o_totalprice") * 100, 0)
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val tot = counts.agg(sum(col("obs")).as("n"))
      val p = expP.foldLeft(lit(0.0)) { case (acc, (d, v)) =>
        when(col("digit") === d, lit(v)).otherwise(acc) }
      counts.crossJoin(broadcast(tot))
        .select(col("digit"), col("obs"), round(p, 6).as("expected_p"),
          round((col("obs").cast("double") - col("n").cast("double") * p) *
            (col("obs").cast("double") - col("n").cast("double") * p) /
            (col("n").cast("double") * p), 4).as("chi2_term"))
        .orderBy("digit")
    },
      """WITH d AS (
           SELECT CAST(substring(CAST(round(o_totalprice * 100)::BIGINT
             AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders WHERE o_totalprice > 0),
         c AS (SELECT digit, count(*)::BIGINT AS obs FROM d GROUP BY 1),
         t AS (SELECT sum(obs)::BIGINT AS n FROM c),
         p AS (SELECT c.digit, c.obs, t.n,
           (CASE c.digit WHEN 1 THEN 0.301029995664 WHEN 2 THEN
             0.176091259056 WHEN 3 THEN 0.124938736608 WHEN 4 THEN
             0.096910013008 WHEN 5 THEN 0.079181246048 WHEN 6 THEN
             0.066946789631 WHEN 7 THEN 0.057991946978 WHEN 8 THEN
             0.051152522447 ELSE 0.045757490561 END)::DOUBLE AS p
           FROM c CROSS JOIN t)
         SELECT digit, obs, round(p, 6) AS expected_p,
           round((obs::DOUBLE - n::DOUBLE * p) *
             (obs::DOUBLE - n::DOUBLE * p) / (n::DOUBLE * p), 4)
             AS chi2_term
         FROM p ORDER BY digit"""),

    // GROUPED LINEAR REGRESSION, closed form on exact sums: slope /
    // intercept / R² of price-cents on quantity per return flag. The
    // five moment sums (Σx, Σy, Σxy, Σx², Σy²) are EXACT integers
    // (cents; Σy² in decimal(38,0) ≡ HUGEINT), aggregated with map-side
    // partials in ONE pass — the determinism-safe alternative to
    // builtin regr_slope's order-dependent double accumulation. The
    // normal-equation arithmetic then runs on doubles cast from the
    // same exact integers in the same order on both engines.
    QueryDef("q157_grouped_regression", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val sums = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_quantity"), 0).cast("long").as("x"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      sums
        .withColumn("num", d(col("n")) * d(col("sxy")) -
          d(col("sx")) * d(col("sy")))
        .withColumn("den", d(col("n")) * d(col("sxx")) -
          d(col("sx")) * d(col("sx")))
        .withColumn("deny", d(col("n")) * d(col("syy")) -
          d(col("sy")) * d(col("sy")))
        .withColumn("slope", col("num") / col("den"))
        .select(col("l_returnflag"), col("n"),
          round(col("slope"), 6).as("slope_cents"),
          round((d(col("sy")) - col("slope") * d(col("sx"))) / d(col("n")),
            2).as("intercept_cents"),
          round(col("num") * col("num") / (col("den") * col("deny")), 6)
            .as("r2"))
        .orderBy("l_returnflag")
    },
      """WITH b AS (
           SELECT l_returnflag, round(l_quantity)::BIGINT AS x,
             round(l_extendedprice * 100)::BIGINT AS y
           FROM lineitem),
         s AS (
           SELECT l_returnflag, count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
             sum(y * y) AS syy
           FROM b GROUP BY 1),
         m AS (
           SELECT l_returnflag, n, sx, sy,
             n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS num,
             n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS den,
             n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS deny
           FROM s),
         m2 AS (SELECT *, num / den AS slope FROM m)
         SELECT l_returnflag, n, round(slope, 6) AS slope_cents,
           round((sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE, 2)
             AS intercept_cents,
           round(num * num / (den * deny), 6) AS r2
         FROM m2 ORDER BY l_returnflag"""),

    // ROBUST OUTLIER DETECTION via MAD (median absolute deviation):
    // per event type, med = percentile_disc(0.5), MAD = median of
    // |v − med|, outliers = |v − med| > 3·MAD. percentile_disc RETURNS
    // AN ELEMENT (deterministic, unlike interpolating estimators), so
    // the whole chain is exact; the two medians broadcast back as
    // model-sized frames — three aggregations, no window over the raw
    // stream, no sort of the full data.
    QueryDef("q158_mad_outliers", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
          .as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
          .as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(max(col("med")), 4).as("med"),
          round(max(col("mad")), 4).as("mad"),
          sum((col("adev") > lit(3.0) * col("mad")).cast("long"))
            .as("n_outliers"))
        .orderBy("event_type")
    },
      """WITH med AS (
           SELECT event_type, quantile_disc(value, 0.5) AS med
           FROM events GROUP BY 1),
         dev AS (
           SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, quantile_disc(adev, 0.5) AS mad
           FROM dev GROUP BY 1)
         SELECT d.event_type, count(*)::BIGINT AS n,
           round(max(d.med), 4) AS med, round(max(m.mad), 4) AS mad,
           sum((d.adev > 3.0::DOUBLE * m.mad)::BIGINT)::BIGINT
             AS n_outliers
         FROM dev d JOIN mad m USING (event_type)
         GROUP BY 1 ORDER BY 1"""),

    // A/B EXPERIMENT READOUT: two-proportion z-test on per-user
    // conversion (any purchase), cohorts split by user-id parity — the
    // experiment-analysis primitive. Conversion flags and cohort
    // counts are EXACT integers from one user-grain aggregation; the
    // z statistic is a fixed sequence of double ops over those
    // integers (sqrt is IEEE-exact), so both engines produce the same
    // bits. No per-event state survives the first groupBy.
    QueryDef("q164_ab_test", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      // conversion = heavy purchaser (> 13 purchases, the corpus
      // median) — a per-user flag with genuine variance in both
      // cohorts; any-purchase converts at 100% here and degenerates
      // the pooled variance to zero
      val perUser = events(s, dir).groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) > 13L).cast("long").as("conv"))
        .withColumn("grp", pmod(col("user_id"), lit(2)))
      val r = perUser.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        .agg(sum(when(col("grp") === 0, col("n"))).as("n_a"),
          sum(when(col("grp") === 0, col("c"))).as("c_a"),
          sum(when(col("grp") === 1, col("n"))).as("n_b"),
          sum(when(col("grp") === 1, col("c"))).as("c_b"))
      r.withColumn("p_a", d(col("c_a")) / d(col("n_a")))
        .withColumn("p_b", d(col("c_b")) / d(col("n_b")))
        .withColumn("p_pool",
          (d(col("c_a")) + d(col("c_b"))) / (d(col("n_a")) + d(col("n_b"))))
        .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
          round(col("p_a"), 6).as("p_a"),
          round(col("p_b"), 6).as("p_b"),
          round((col("p_a") - col("p_b")) /
            sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
              (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b")))), 4)
            .as("z"))
    },
      """WITH u AS (
           SELECT user_id,
             (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               > 13)::BIGINT AS conv, user_id % 2 AS grp
           FROM events GROUP BY 1),
         g AS (
           SELECT grp, count(*)::BIGINT AS n, sum(conv)::BIGINT AS c
           FROM u GROUP BY 1),
         s AS (
           SELECT
             sum(CASE WHEN grp = 0 THEN n END)::BIGINT AS n_a,
             sum(CASE WHEN grp = 0 THEN c END)::BIGINT AS c_a,
             sum(CASE WHEN grp = 1 THEN n END)::BIGINT AS n_b,
             sum(CASE WHEN grp = 1 THEN c END)::BIGINT AS c_b
           FROM g),
         m AS (
           SELECT *, c_a::DOUBLE / n_a::DOUBLE AS p_a,
             c_b::DOUBLE / n_b::DOUBLE AS p_b,
             (c_a::DOUBLE + c_b::DOUBLE) / (n_a::DOUBLE + n_b::DOUBLE)
               AS p_pool
           FROM s)
         SELECT n_a, c_a, n_b, c_b, round(p_a, 6) AS p_a,
           round(p_b, 6) AS p_b,
           round((p_a - p_b) / sqrt(p_pool * (1.0::DOUBLE - p_pool) *
             (1.0::DOUBLE / n_a::DOUBLE + 1.0::DOUBLE / n_b::DOUBLE)), 4)
             AS z
         FROM m"""),

    // WINSORIZATION (robust feature preprocessing): clip each event
    // value at its type's exact [p1, p99], report clip counts and the
    // clipped total. Bounds come from ONE percentile(array(...)) agg
    // per type (model-sized, broadcast back — the q107 idiom); the
    // clipped totals are EXACT integer cents of identical doubles, so
    // no float-sum drift. Two aggregations + a map-side clamp.
    QueryDef("q165_winsorize", (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), col("value").cast("double").as("v"))
      val bounds = ev.groupBy("event_type")
        .agg(expr("percentile(v, array(0.01, 0.99))").as("bs"))
        .select(col("event_type"), element_at(col("bs"), 1).as("lo"),
          element_at(col("bs"), 2).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("cv", least(greatest(col("v"), col("lo")), col("hi")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("v") < col("lo")).cast("long")).as("n_clipped_lo"),
          sum((col("v") > col("hi")).cast("long")).as("n_clipped_hi"),
          round(max(col("lo")), 4).as("p01"),
          round(max(col("hi")), 4).as("p99"),
          sum(round(col("cv") * 100, 0).cast("long")).as("clipped_cents"))
        .orderBy("event_type")
    },
      """WITH b AS (
           SELECT event_type,
             quantile_cont(CAST(value AS DOUBLE), [0.01, 0.99]) AS bs
           FROM events GROUP BY 1),
         j AS (
           SELECT e.event_type, CAST(e.value AS DOUBLE) AS v,
             bs[1] AS lo, bs[2] AS hi,
             least(greatest(CAST(e.value AS DOUBLE), bs[1]), bs[2]) AS cv
           FROM events e JOIN b USING (event_type))
         SELECT event_type, count(*)::BIGINT AS n,
           sum((v < lo)::BIGINT)::BIGINT AS n_clipped_lo,
           sum((v > hi)::BIGINT)::BIGINT AS n_clipped_hi,
           round(max(lo), 4) AS p01, round(max(hi), 4) AS p99,
           sum(round(cv * 100)::BIGINT)::BIGINT AS clipped_cents
         FROM j GROUP BY 1 ORDER BY 1"""),

    // POPULATION STABILITY INDEX (feature-drift monitoring between the
    // first and second half of the time span): expected bins = period-A
    // deciles (exact percentile boundaries, broadcast — the q107
    // idiom); PSI = Σ (p_B − p_A)·ln(p_B/p_A) with +0.5 count smoothing
    // so empty bins stay finite. The time split is exact integer
    // microseconds; bin counts are exact integers; doubles enter only
    // in the final fixed op sequence (ln parity is gated since q53).
    // One bounds agg + one (type, half, bin) count — two shuffles.
    QueryDef("q168_psi_drift", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("event_type"),
        col("value").cast("double").as("v"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid"))
      val halved = ev.crossJoin(broadcast(span))
        .withColumn("is_a", col("us") < col("mid"))
      val binsA = halved.filter(col("is_a")).groupBy("event_type")
        .agg(expr("percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
          .as("bs"))
      val binned = halved.join(broadcast(binsA), Seq("event_type"))
        .select(col("event_type"), col("is_a"),
          (lit(1) + size(filter(col("bs"), b => col("v") > b))).as("bin"))
        .groupBy("event_type", "bin")
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      val tot = binned.groupBy("event_type")
        .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      binned.join(broadcast(tot), Seq("event_type"))
        .withColumn("pa", (d(col("ca")) + lit(0.5)) / (d(col("na")) + lit(5.0)))
        .withColumn("pb", (d(col("cb")) + lit(0.5)) / (d(col("nb")) + lit(5.0)))
        .withColumn("term", (col("pb") - col("pa")) * log(col("pb") / col("pa")))
        .groupBy("event_type")
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          round(ssum(collect_list(col("term"))), 6).as("psi"))
        .orderBy("event_type")
    },
      """WITH ev AS (
           SELECT event_type, CAST(value AS DOUBLE) AS v,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         h AS (SELECT ev.*, (us < mid) AS is_a FROM ev CROSS JOIN span),
         ba AS (
           SELECT event_type, quantile_cont(v,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM h WHERE is_a GROUP BY 1),
         binned AS (
           SELECT h.event_type,
             1 + len(list_filter(bs, x -> h.v > x)) AS bin,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS cb
           FROM h JOIN ba USING (event_type) GROUP BY 1, 2),
         tot AS (
           SELECT event_type, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
           FROM binned GROUP BY 1),
         terms AS (
           SELECT b.event_type, t.na, t.nb,
             ((cb::DOUBLE + 0.5) / (nb::DOUBLE + 5.0)
               - (ca::DOUBLE + 0.5) / (na::DOUBLE + 5.0)) *
             ln(((cb::DOUBLE + 0.5) / (nb::DOUBLE + 5.0))
               / ((ca::DOUBLE + 0.5) / (na::DOUBLE + 5.0))) AS term
           FROM binned b JOIN tot t USING (event_type))
         SELECT event_type, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
           round(list_sum(list_sort(list(term))), 6) AS psi
         FROM terms GROUP BY 1 ORDER BY 1"""),

    // MODE PER GROUP with deterministic tie-break (the categorical
    // imputation/profiling primitive): value-level count, then a
    // keep-first rank (count desc, value asc) — two key-equality
    // shuffles, the second over group×distinct-value cardinality only.
    QueryDef("q179_mode", (s, dir) => {
      val vc = t(s, dir, "documents")
        .groupBy(col("lang"), col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
      vc.withColumn("n_distinct_vals", count(lit(1)).over(
          Window.partitionBy("lang", "source")
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang", "source")
            .orderBy(col("cnt").desc, col("n_chars"))))
        .filter(col("rn") === 1)
        .select(col("lang"), col("source"), col("n_chars").as("mode_chars"),
          col("cnt").as("mode_cnt"), col("n_distinct_vals"))
        .orderBy("lang", "source")
    },
      """WITH vc AS (
           SELECT lang, source, n_chars, count(*)::BIGINT AS cnt
           FROM documents GROUP BY 1, 2, 3),
         rk AS (
           SELECT *,
             count(*) OVER (PARTITION BY lang, source)
               AS n_distinct_vals,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY cnt DESC, n_chars) AS rn
           FROM vc)
         SELECT lang, source, n_chars AS mode_chars, cnt AS mode_cnt,
           n_distinct_vals::BIGINT AS n_distinct_vals
         FROM rk WHERE rn = 1 ORDER BY lang, source"""),

    // CHI-SQUARE TEST OF INDEPENDENCE (event-type × day-of-week — the
    // categorical drift test beside q164's z-test and q168's PSI): the
    // full contingency grid is materialized (margin × margin cross of
    // two metadata-sized frames, zero-filled), expected counts come
    // from exact integer margins, and the global statistic is a
    // sorted-order fold so the double sum is engine-deterministic.
    QueryDef("q180_chisq", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("event_type").as("ty"),
        expr("(datediff(to_date(ts), date'1970-01-05') % 7 + 7) % 7")
          .as("dow"))
      val obs = ev.groupBy("ty", "dow").agg(count(lit(1)).as("o"))
      val rowt = obs.groupBy("ty").agg(sum(col("o")).as("rt"))
      val colt = Caches.small(obs.groupBy("dow").agg(sum(col("o")).as("ct")))
      val tot = obs.agg(sum(col("o")).as("n"), count(lit(1)).as("ncells"),
        countDistinct(col("ty")).as("nr"), countDistinct(col("dow")).as("nc"))
      val grid = rowt.crossJoin(broadcast(colt))
        .join(obs, Seq("ty", "dow"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("e", d(col("rt")) * d(col("ct")) / d(col("n")))
        .withColumn("contrib",
          (d(col("o")) - col("e")) * (d(col("o")) - col("e")) / col("e"))
      val chi2 = grid.agg(
        ssum(collect_list(col("contrib"))).as("stat"),
        max((col("nr") - 1) * (col("nc") - 1)).as("dof"))
      grid.crossJoin(broadcast(chi2))
        .select(col("ty"), col("dow"), col("o"),
          round(col("e"), 4).as("expected"),
          round(col("contrib"), 6).as("contrib"),
          round(col("stat"), 6).as("chi2_total"), col("dof"))
        .orderBy("ty", "dow")
    },
      """WITH ev AS (
           SELECT event_type AS ty,
             ((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS dow
           FROM events),
         obs AS (
           SELECT ty, dow, count(*)::BIGINT AS o FROM ev GROUP BY 1, 2),
         rowt AS (SELECT ty, sum(o)::BIGINT AS rt FROM obs GROUP BY 1),
         colt AS (SELECT dow, sum(o)::BIGINT AS ct FROM obs GROUP BY 1),
         tot AS (
           SELECT sum(o)::BIGINT AS n,
             count(DISTINCT ty)::BIGINT AS nr,
             count(DISTINCT dow)::BIGINT AS nc
           FROM obs),
         grid AS (
           SELECT rowt.ty, colt.dow, coalesce(obs.o, 0)::BIGINT AS o,
             rt, ct, n, nr, nc,
             rt::DOUBLE * ct::DOUBLE / n::DOUBLE AS e
           FROM rowt CROSS JOIN colt
           LEFT JOIN obs ON obs.ty = rowt.ty AND obs.dow = colt.dow
           CROSS JOIN tot),
         c AS (
           SELECT *, (o::DOUBLE - e) * (o::DOUBLE - e) / e AS contrib
           FROM grid),
         s AS (
           SELECT list_sum(list_sort(list(contrib))) AS stat,
             max((nr - 1) * (nc - 1)) AS dof
           FROM c)
         SELECT ty, dow, o, round(e, 4) AS expected,
           round(contrib, 6) AS contrib,
           round(stat, 6) AS chi2_total, dof::BIGINT AS dof
         FROM c CROSS JOIN s ORDER BY ty, dow"""),

    // HASH-BASED POISSON BOOTSTRAP (the single-pass confidence-interval
    // technique for datasets too big to resample): replicate r weights
    // each order by md5(key:r) mod 3 ∈ {0,1,2} (E=1, deterministic —
    // no RNG), so all 64 replicate means come out of ONE scan with
    // map-side partial aggregation to 64 groups. Integer-cent sums;
    // the rank column reads the CI straight off the sorted replicates.
    QueryDef("q184_bootstrap", (s, dir) => {
      // 48 replicates from TWO md5 calls per row: base-3 digits (trits)
      // of each 48-bit hash give 24 near-uniform mod-3 weights apiece
      // (bias of trit r is ~3^r/2^48 ≤ 4e-8 for r < 24) — 24× fewer
      // hash evaluations than one md5 per (row, replicate)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          TF.md5Hash48(concat(lit("b1:"), col("o_orderkey"))).as("h1"),
          TF.md5Hash48(concat(lit("b2:"), col("o_orderkey"))).as("h2"))
      val reps = o.select(col("o_orderkey"), col("cents"),
          col("h1"), col("h2"),
          explode(sequence(lit(0), lit(47))).as("rep"))
        .withColumn("w", expr(
          "pmod((if(rep < 24, h1, h2) div " +
            "cast(pow(3, rep % 24) as long)) , 3)"))
      Caches.small(reps.groupBy("rep")
          .agg(sum(col("w")).as("n_eff"),
            sum(col("w") * col("cents")).as("wsum"))
          .withColumn("mean_price", round(col("wsum").cast("double") /
            col("n_eff").cast("double") / 100.0, 4)))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("mean_price"), col("rep"))))
        .select(col("rk"), col("rep"), col("n_eff"), col("mean_price"))
        .orderBy("rk")
    },
      """WITH o AS (
           SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents,
             ('0x' || substring(md5('0:b1:' || o_orderkey), 1, 12))
               ::BIGINT AS h1,
             ('0x' || substring(md5('0:b2:' || o_orderkey), 1, 12))
               ::BIGINT AS h2
           FROM orders),
         reps AS (
           SELECT o_orderkey, cents, r.range AS rep,
             ((CASE WHEN r.range < 24 THEN h1 ELSE h2 END)
               // CAST(pow(3, r.range % 24) AS BIGINT)) % 3 AS w
           FROM o CROSS JOIN range(48) r),
         m AS (
           SELECT rep, sum(w)::BIGINT AS n_eff,
             sum(w * cents)::BIGINT AS wsum
           FROM reps GROUP BY 1),
         rk AS (
           SELECT rep, n_eff,
             round(wsum::DOUBLE / n_eff::DOUBLE / 100.0, 4)
               AS mean_price
           FROM m)
         SELECT row_number() OVER (ORDER BY mean_price, rep) AS rk,
           rep::BIGINT AS rep, n_eff, mean_price
         FROM rk ORDER BY rk"""),

    // WEIGHTED PERCENTILES (quantity-weighted price quartiles — the
    // inventory-weighted stat a plain percentile gets wrong): one
    // per-group sort with a cumulative-weight frame; the pN is the
    // smallest value whose cumulative weight clears N% of total,
    // selected by integer cross-multiplication (4·cumw ≥ N·W — no
    // division, no float compare). One window shuffle + one agg.
    QueryDef("q191_weighted_percentile", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      val ord = Window.partitionBy("flag")
        .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
      val full = Window.partitionBy("flag")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      li.withColumn("cumw", sum(col("w")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tw", sum(col("w")).over(full))
        .groupBy("flag")
        .agg(max(col("tw")).as("total_weight"),
          round(min(when(col("cumw") * 4 >= col("tw"), col("cents")))
            .cast("double") / 100.0, 2).as("w_p25"),
          round(min(when(col("cumw") * 2 >= col("tw"), col("cents")))
            .cast("double") / 100.0, 2).as("w_median"),
          round(min(when(col("cumw") * 4 >= col("tw") * 3, col("cents")))
            .cast("double") / 100.0, 2).as("w_p75"))
        .orderBy("flag")
    },
      """WITH li AS (
           SELECT l_returnflag AS flag,
             round(l_extendedprice * 100)::BIGINT AS cents,
             CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
           FROM lineitem),
         c AS (
           SELECT flag, cents,
             sum(w) OVER (PARTITION BY flag
               ORDER BY cents, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             sum(w) OVER (PARTITION BY flag) AS tw
           FROM li)
         SELECT flag, max(tw)::BIGINT AS total_weight,
           round(min(CASE WHEN cumw * 4 >= tw THEN cents END)::DOUBLE
             / 100.0, 2) AS w_p25,
           round(min(CASE WHEN cumw * 2 >= tw THEN cents END)::DOUBLE
             / 100.0, 2) AS w_median,
           round(min(CASE WHEN cumw * 4 >= tw * 3 THEN cents END)::DOUBLE
             / 100.0, 2) AS w_p75
         FROM c GROUP BY 1 ORDER BY 1"""),

    // KOLMOGOROV–SMIRNOV TWO-SAMPLE TEST (exact, between time halves —
    // the distribution-shift test beside PSI/chi²): per type, value-
    // level counts for each half, cumulative counts over ONE sorted
    // window, and the KS statistic found by integer cross-
    // multiplication max |cumA·nB − cumB·nA| — float enters once, in
    // the final display division. Cost: one (type,value) agg + one
    // per-type sort over distinct values only.
    QueryDef("q195_ks_test", (s, dir) => {
      val ev = events(s, dir).select(col("event_type").as("ty"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val g = ev.crossJoin(broadcast(span))
        .groupBy("ty", "cents")
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("cb"))
      val ord = Window.partitionBy("ty").orderBy("cents")
      val full = Window.partitionBy("ty")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cuma", sum(col("ca")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cumb", sum(col("cb")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("na", sum(col("ca")).over(full))
        .withColumn("nb", sum(col("cb")).over(full))
        .withColumn("diff", abs(col("cuma") * col("nb") -
          col("cumb") * col("na")))
        .withColumn("rn", row_number().over(Window.partitionBy("ty")
          .orderBy(col("diff").desc, col("cents"))))
        .filter(col("rn") === 1)
        .select(col("ty"), col("na"), col("nb"),
          round(col("diff").cast("double") /
            (col("na") * col("nb")).cast("double"), 6).as("ks_stat"),
          round(col("cents").cast("double") / 100.0, 2).as("at_value"))
        .orderBy("ty")
    },
      """WITH ev AS (
           SELECT event_type AS ty, round(value * 100)::BIGINT AS cents,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         g AS (
           SELECT ty, cents,
             sum(CASE WHEN us < mid THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN us >= mid THEN 1 ELSE 0 END)::BIGINT AS cb
           FROM ev CROSS JOIN span GROUP BY 1, 2),
         c AS (
           SELECT *,
             sum(ca) OVER (PARTITION BY ty ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cuma,
             sum(cb) OVER (PARTITION BY ty ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumb,
             sum(ca) OVER (PARTITION BY ty) AS na,
             sum(cb) OVER (PARTITION BY ty) AS nb
           FROM g),
         d AS (
           SELECT *, abs(cuma * nb - cumb * na) AS diff,
             row_number() OVER (PARTITION BY ty
               ORDER BY abs(cuma * nb - cumb * na) DESC, cents) AS rn
           FROM c)
         SELECT ty, na::BIGINT AS na, nb::BIGINT AS nb,
           round(diff::DOUBLE / (na * nb)::DOUBLE, 6) AS ks_stat,
           round(cents::DOUBLE / 100.0, 2) AS at_value
         FROM d WHERE rn = 1 ORDER BY ty"""),

    // THE MEAN ZOO (arithmetic / geometric / harmonic / quadratic —
    // rates, ratios and RMS each need a different one): log-space and
    // reciprocal sums are TWO-LEVEL bucketed sorted folds (4096
    // l_orderkey buckets, then bucket subtotals — the q82 rule: no
    // fold buffer scales with group size); arithmetic and quadratic
    // ride on exact integer/decimal sums.
    QueryDef("q196_mean_zoo", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          pmod(col("l_orderkey"), lit(4096)).as("bk"))
        .withColumn("x", col("cents").cast("double") / 100.0)
      val lvl1 = li.groupBy("flag", "bk")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          sum(col("cents").cast("decimal(19,0)") * col("cents"))
            .as("sq"),
          ssum(collect_list(log(col("x")))).as("sln"),
          ssum(collect_list(lit(1.0) / col("x"))).as("srec"))
      lvl1.groupBy("flag")
        .agg(sum(col("n")).as("n"), sum(col("sc")).as("sc"),
          sum(col("sq")).as("sq"),
          ssum(collect_list(col("sln"))).as("sln"),
          ssum(collect_list(col("srec"))).as("srec"))
        .select(col("flag"), col("n"),
          round(col("sc").cast("double") / col("n") / 100.0, 4)
            .as("mean_arith"),
          round(exp(col("sln") / col("n")), 4).as("mean_geom"),
          round(col("n") / col("srec"), 4).as("mean_harm"),
          round(sqrt(col("sq").cast("double") / col("n")) / 100.0, 4)
            .as("mean_quad"))
        .orderBy("flag")
    },
      """WITH li AS (
           SELECT l_returnflag AS flag,
             round(l_extendedprice * 100)::BIGINT AS cents,
             l_orderkey % 4096 AS bk,
             round(l_extendedprice * 100)::BIGINT::DOUBLE / 100.0 AS x
           FROM lineitem),
         l1 AS (
           SELECT flag, bk, count(*)::BIGINT AS n,
             sum(cents)::BIGINT AS sc, sum(cents * cents) AS sq,
             list_sum(list_sort(list(ln(x)))) AS sln,
             list_sum(list_sort(list(1.0 / x))) AS srec
           FROM li GROUP BY 1, 2),
         l2 AS (
           SELECT flag, sum(n)::BIGINT AS n, sum(sc)::BIGINT AS sc,
             sum(sq) AS sq,
             list_sum(list_sort(list(sln))) AS sln,
             list_sum(list_sort(list(srec))) AS srec
           FROM l1 GROUP BY 1)
         SELECT flag, n,
           round(sc::DOUBLE / n / 100.0, 4) AS mean_arith,
           round(exp(sln / n), 4) AS mean_geom,
           round(n / srec, 4) AS mean_harm,
           round(sqrt(sq::DOUBLE / n) / 100.0, 4) AS mean_quad
         FROM l2 ORDER BY flag"""),

    // KAPLAN–MEIER SURVIVAL CURVE (time-to-event with right
    // censoring — retention/churn's statistically-correct form): per
    // customer, entry = first order, event = first 300k+ order,
    // censored at the observation horizon; S(t) = Π(1 − dᵢ/nᵢ) as
    // exp of a cumulative ln-sum over the day-grain event grid (a
    // frame bounded by the calendar). Risk sets are exact integer
    // cumulative counts from ONE sort of the per-customer time table.
    QueryDef("q205_kaplan_meier", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          (col("o_totalprice") >= 300000.0).as("big"))
      val per = o.groupBy("o_custkey")
        .agg(min(col("d")).as("entry"),
          min(when(col("big"), col("d"))).as("eventd"))
      val horizon = o.agg(max(col("d")).as("hz"))
      val times = per.crossJoin(broadcast(horizon))
        .select(col("o_custkey"),
          when(col("eventd").isNotNull,
            datediff(col("eventd"), col("entry")))
            .otherwise(datediff(col("hz"), col("entry"))).as("t"),
          col("eventd").isNotNull.as("ev"))
      val tot = times.agg(count(lit(1)).as("nn"))
      val byT = times.groupBy("t")
        .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("d_t"),
          count(lit(1)).as("leave"))
      val ord = Window.orderBy("t")
      val km = byT.crossJoin(broadcast(tot))
        .withColumn("n_risk", col("nn") -
          coalesce(sum(col("leave")).over(
            ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .filter(col("d_t") > 0)
        .withColumn("lnterm", log(lit(1.0) -
          col("d_t").cast("double") / col("n_risk").cast("double")))
        // sorted-fold the ln prefix (not a running float sum) so the
        // cumulative product is association-identical in both engines
        .withColumn("s", exp(ssum(collect_list(col("lnterm")).over(
          Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, 0)))))
      km.select(col("t").cast("long").as("t"), col("n_risk"),
          col("d_t"), round(col("s"), 6).as("survival"))
        .orderBy("t")
    },
      """WITH o AS (
           SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             (o_totalprice >= 300000.0) AS big
           FROM orders),
         per AS (
           SELECT o_custkey, min(d) AS entry,
             min(CASE WHEN big THEN d END) AS eventd
           FROM o GROUP BY 1),
         hz AS (SELECT max(d) AS hz FROM o),
         times AS (
           SELECT o_custkey,
             CASE WHEN eventd IS NOT NULL THEN eventd - entry
               ELSE hz - entry END AS t,
             (eventd IS NOT NULL) AS ev
           FROM per CROSS JOIN hz),
         tot AS (SELECT count(*)::BIGINT AS nn FROM times),
         byt AS (
           SELECT t, sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS d_t,
             count(*)::BIGINT AS leave
           FROM times GROUP BY 1),
         risk AS (
           SELECT *, nn - coalesce(sum(leave) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
           FROM byt CROSS JOIN tot),
         ev2 AS (
           SELECT *, ln(1.0 - d_t::DOUBLE / n_risk::DOUBLE) AS lnterm
           FROM risk WHERE d_t > 0),
         s AS (
           SELECT *, exp(list_sum(list_sort(
             list(lnterm) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))))
             AS s
           FROM ev2)
         SELECT t::BIGINT AS t, n_risk::BIGINT AS n_risk, d_t,
           round(s, 6) AS survival
         FROM s ORDER BY t"""),

    // 1-D EARTH-MOVER DISTANCE, exact (the integral twin of q195's
    // KS sup-statistic — total distribution shift, not just the worst
    // point): Σ |cumA·nB − cumB·nA| · Δvalue over one sorted pass of
    // distinct values, all integer until the final normalization.
    QueryDef("q217_emd", (s, dir) => {
      val ev = events(s, dir).select(col("event_type").as("ty"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val g = ev.crossJoin(broadcast(span))
        .groupBy("ty", "cents")
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("cb"))
      val ord = Window.partitionBy("ty").orderBy("cents")
      val full = Window.partitionBy("ty")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cuma", sum(col("ca")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cumb", sum(col("cb")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("na", sum(col("ca")).over(full))
        .withColumn("nb", sum(col("cb")).over(full))
        .withColumn("gap", lead(col("cents"), 1).over(ord) - col("cents"))
        .filter(col("gap").isNotNull)
        .withColumn("term",
          abs(col("cuma") * col("nb") - col("cumb") * col("na")) *
            col("gap"))
        .groupBy("ty")
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          sum(col("term").cast("decimal(38,0)")).as("w"))
        .select(col("ty"), col("na"), col("nb"),
          round(col("w").cast("double") /
            (col("na") * col("nb")).cast("double") / 100.0, 6)
            .as("emd"))
        .orderBy("ty")
    },
      """WITH ev AS (
           SELECT event_type AS ty, round(value * 100)::BIGINT AS cents,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         g AS (
           SELECT ty, cents,
             sum(CASE WHEN us < mid THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN us >= mid THEN 1 ELSE 0 END)::BIGINT AS cb
           FROM ev CROSS JOIN span GROUP BY 1, 2),
         c AS (
           SELECT *,
             sum(ca) OVER (PARTITION BY ty ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cuma,
             sum(cb) OVER (PARTITION BY ty ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumb,
             sum(ca) OVER (PARTITION BY ty) AS na,
             sum(cb) OVER (PARTITION BY ty) AS nb,
             lead(cents) OVER (PARTITION BY ty ORDER BY cents) - cents
               AS gap
           FROM g)
         SELECT ty, max(na)::BIGINT AS na, max(nb)::BIGINT AS nb,
           round(sum(abs(cuma * nb - cumb * na) * gap)::DOUBLE
             / (max(na) * max(nb))::DOUBLE / 100.0, 6) AS emd
         FROM c WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1"""),

    // CAPTURE–RECAPTURE POPULATION ESTIMATE (Chapman's Lincoln–
    // Petersen — estimating corpus size from two overlapping hash
    // samples, the ecology trick that audits "how many distinct users
    // are there REALLY" without a full distinct): two deterministic
    // md5 subsamples, overlap counted exactly, N̂ = (n₁+1)(n₂+1)/(m+1)
    // − 1 gated against the true distinct count it estimates.
    QueryDef("q219_capture_recapture", (s, dir) => {
      val users = events(s, dir).select(col("user_id")).distinct()
        .withColumn("h1",
          pmod(TF.md5Hash48(concat(lit("s1:"), col("user_id"))), lit(5L)))
        .withColumn("h2",
          pmod(TF.md5Hash48(concat(lit("s2:"), col("user_id"))), lit(5L)))
      users.agg(count(lit(1)).as("n_true"),
          sum(when(col("h1") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("h2") === 0, 1L).otherwise(0L)).as("n2"),
          sum(when(col("h1") === 0 && col("h2") === 0, 1L).otherwise(0L))
            .as("m"))
        .select(col("n_true"), col("n1"), col("n2"), col("m"),
          round((col("n1") + 1).cast("double") * (col("n2") + 1) /
            (col("m") + 1) - 1.0, 2).as("n_hat"),
          ((abs((col("n1") + 1).cast("double") * (col("n2") + 1) /
            (col("m") + 1) - 1.0 - col("n_true"))) <=
            lit(0.5) * col("n_true") + 100.0).as("ok"))
    },
      """WITH u AS (
           SELECT DISTINCT user_id FROM events),
         m AS (
           SELECT count(*)::BIGINT AS n_true,
             sum(CASE WHEN ('0x' || substring(md5('0:s1:' || user_id),
               1, 12))::BIGINT % 5 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n1,
             sum(CASE WHEN ('0x' || substring(md5('0:s2:' || user_id),
               1, 12))::BIGINT % 5 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n2,
             sum(CASE WHEN ('0x' || substring(md5('0:s1:' || user_id),
               1, 12))::BIGINT % 5 = 0
               AND ('0x' || substring(md5('0:s2:' || user_id),
               1, 12))::BIGINT % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS m
           FROM u)
         SELECT n_true, n1, n2, m,
           round((n1 + 1)::DOUBLE * (n2 + 1) / (m + 1) - 1.0, 2)
             AS n_hat,
           (abs((n1 + 1)::DOUBLE * (n2 + 1) / (m + 1) - 1.0 - n_true)
             <= 0.5 * n_true + 100.0) AS ok
         FROM m"""),

    // DIRECTLY STANDARDIZED RATE (the "adjust for mix shift before
    // comparing" epidemiology/ops primitive): period-A per-type
    // purchase rates applied to period-B's activity mix give the
    // EXPECTED purchases; SMR = actual/expected separates real change
    // from composition change. Exact integer strata counts; one
    // division per stratum at the end, folded sorted.
    QueryDef("q223_standardized_rate", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      // stratum = user's activity band (by event count, log2 bins)
      val strat = ev.groupBy("user_id").agg(count(lit(1)).as("na"))
        .select(col("user_id"),
          length(bin(col("na"))).cast("long").as("stratum"))
      val h = ev.crossJoin(broadcast(span))
        .join(strat, Seq("user_id"))
        .withColumn("is_a", col("us") < col("mid"))
      val rates = h.filter(col("is_a")).groupBy("stratum")
        .agg(count(lit(1)).as("na"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("pa"))
      val mix = h.filter(!col("is_a")).groupBy("stratum")
        .agg(count(lit(1)).as("nb"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("pb"))
      rates.join(mix, Seq("stratum"))
        .withColumn("expected",
          col("nb").cast("double") * col("pa") / col("na"))
        .groupBy()
        .agg(sum(col("pb")).as("actual"),
          round(ssum(collect_list(col("expected"))), 4).as("expected"),
          round(sum(col("pb")).cast("double") /
            ssum(collect_list(col("expected"))), 6).as("smr"),
          count(lit(1)).as("n_strata"))
    },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         strat AS (
           SELECT user_id, length(bin(count(*)))::BIGINT AS stratum
           FROM ev GROUP BY 1),
         h AS (
           SELECT ev.*, stratum, (us < mid) AS is_a
           FROM ev CROSS JOIN span JOIN strat USING (user_id)),
         rates AS (
           SELECT stratum, count(*)::BIGINT AS na,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS pa
           FROM h WHERE is_a GROUP BY 1),
         mix AS (
           SELECT stratum, count(*)::BIGINT AS nb,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS pb
           FROM h WHERE NOT is_a GROUP BY 1),
         j AS (
           SELECT r.stratum, pb,
             nb::DOUBLE * pa / na AS expected
           FROM rates r JOIN mix USING (stratum))
         SELECT sum(pb)::BIGINT AS actual,
           round(list_sum(list_sort(list(expected))), 4) AS expected,
           round(sum(pb)::DOUBLE
             / list_sum(list_sort(list(expected))), 6) AS smr,
           count(*)::BIGINT AS n_strata
         FROM j"""),

    // BENJAMINI–HOCHBERG FDR over per-segment A/B z-tests (q164 one
    // level up — the multiple-testing correction every experimentation
    // platform needs): exact cohort counts → z per segment → normal
    // p-value via the Abramowitz–Stegun Φ polynomial (identical fixed
    // op sequence in both engines — no erf built-in required) → BH
    // step-up by rank. One agg + one tiny rank window over segments.
    QueryDef("q224_ab_fdr", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val c = t(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_custkey"),
          (pmod(TF.md5Hash48(col("c_custkey").cast("string")), lit(2L))
            === 0).as("arm_a"),
          (col("c_acctbal") > 4500.0).as("conv"))
      val cell = c.groupBy("seg")
        .agg(sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
          sum(when(col("arm_a") && col("conv"), 1L).otherwise(0L))
            .as("xa"),
          sum(when(!col("arm_a"), 1L).otherwise(0L)).as("nb"),
          sum(when(!col("arm_a") && col("conv"), 1L).otherwise(0L))
            .as("xb"))
      val zed = cell
        .withColumn("p1", d(col("xa")) / col("na"))
        .withColumn("p2", d(col("xb")) / col("nb"))
        .withColumn("pp", d(col("xa") + col("xb")) /
          d(col("na") + col("nb")))
        // degenerate segment (pp ∈ {0,1} ⇒ zero pooled variance) would
        // give NaN z / NaN p and corrupt the BH rank order — same guard
        // as q252_aa_calibration, mirrored in the oracle
        .withColumn("z",
          when(col("pp") === 0.0 || col("pp") === 1.0, lit(0.0))
            .otherwise((col("p1") - col("p2")) /
              sqrt(col("pp") * (lit(1.0) - col("pp")) *
                (lit(1.0) / col("na") + lit(1.0) / col("nb")))))
        // Φ(|z|) via Abramowitz–Stegun 7.1.26 (max err 7.5e-8): fixed
        // polynomial in t = 1/(1 + 0.2316419|z|) times the normal pdf
        .withColumn("az", abs(col("z")))
        .withColumn("tt", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("az")))
        .withColumn("phi_tail",
          exp(col("az") * col("az") * -0.5) * lit(0.3989422804014327) *
            (((((lit(1.330274429) * col("tt") - lit(1.821255978)) *
              col("tt") + lit(1.781477937)) * col("tt") -
              lit(0.356563782)) * col("tt") + lit(0.319381530)) *
              col("tt")))
        .withColumn("p", lit(2.0) * col("phi_tail"))
      // 5-segment grain, checkpointed: the BH-rank global windows below
      // are gate-PROVEN bounded
      val zedCk = Caches.small(zed)
      val m = zedCk.agg(count(lit(1)).as("m"))
      zedCk.crossJoin(broadcast(m))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("p"), col("seg"))))
        .withColumn("bh_thresh",
          col("rk").cast("double") / col("m") * 0.10)
        .withColumn("max_rej", max(when(col("p") <= col("bh_thresh"),
          col("rk"))).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("seg"), col("na"), col("nb"),
          round(col("z"), 4).as("z"),
          round(col("p"), 6).as("p_value"), col("rk"),
          round(col("bh_thresh"), 6).as("bh_thresh"),
          (col("rk") <= coalesce(col("max_rej"), lit(0L))).as("rejected"))
        .orderBy("rk")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg, c_custkey,
             (('0x' || substring(md5('0:' || c_custkey), 1, 12))::BIGINT
               % 2 = 0) AS arm_a,
             (c_acctbal > 4500.0) AS conv
           FROM customer),
         cell AS (
           SELECT seg,
             sum(CASE WHEN arm_a THEN 1 ELSE 0 END)::BIGINT AS na,
             sum(CASE WHEN arm_a AND conv THEN 1 ELSE 0 END)::BIGINT
               AS xa,
             sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END)::BIGINT AS nb,
             sum(CASE WHEN NOT arm_a AND conv THEN 1 ELSE 0 END)
               ::BIGINT AS xb
           FROM c GROUP BY 1),
         zed AS (
           SELECT *,
             CASE WHEN (xa + xb) = 0 OR (xa + xb) = (na + nb) THEN 0.0
               ELSE (xa::DOUBLE / na - xb::DOUBLE / nb) /
                 sqrt(((xa + xb)::DOUBLE / (na + nb)) *
                   (1.0 - (xa + xb)::DOUBLE / (na + nb)) *
                   (1.0 / na + 1.0 / nb)) END AS z
           FROM cell),
         pp AS (
           SELECT *, abs(z) AS az,
             1.0 / (1.0 + 0.2316419 * abs(z)) AS tt
           FROM zed),
         pv AS (
           SELECT *,
             2.0 * exp(az * az * -0.5) * 0.3989422804014327 *
               (((((1.330274429 * tt - 1.821255978) * tt
                 + 1.781477937) * tt - 0.356563782) * tt
                 + 0.319381530) * tt) AS p
           FROM pp),
         m AS (SELECT count(*)::BIGINT AS m FROM pv),
         rks AS (
           SELECT *, row_number() OVER (ORDER BY p, seg) AS rk,
             rk::DOUBLE / m.m * 0.10 AS bh_thresh
           FROM pv CROSS JOIN m),
         mr AS (
           SELECT max(CASE WHEN p <= bh_thresh THEN rk END) AS max_rej
           FROM rks)
         SELECT seg, na, nb, round(z, 4) AS z, round(p, 6) AS p_value,
           rk::BIGINT AS rk, round(bh_thresh, 6) AS bh_thresh,
           (rk <= coalesce(max_rej, 0)) AS rejected
         FROM rks CROSS JOIN mr ORDER BY rk"""),

    // HODGES–LEHMANN LOCATION (median of pairwise means — the robust
    // center that keeps ~95% efficiency under normality, unlike the
    // median's 64%): pairwise (i ≤ j) means over the calendar-bounded
    // daily series via the q211 broadcast pair build; the estimate is
    // an exact half-cent integer picked by deterministic rank, shown
    // beside the plain mean and median it robustifies.
    QueryDef("q226_hodges_lehmann", (s, dir) => {
      // day-grain frame checkpointed: referenced ~7x downstream (pair
      // build twice, pair count twice, median rank + count, mean) —
      // each reference otherwise re-runs the full lineitem aggregation
      val daily = graft.ops.Caches.small(t(s, dir, "lineitem")
        .groupBy(expr("datediff(to_date(l_shipdate), date'1970-01-05')")
          .cast("long").as("tt"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents")))
      val pairs = daily.join(broadcast(daily
          .select(col("tt").as("t2"), col("cents").as("c2"))),
          col("t2") >= col("tt"))
        .select((col("cents") + col("c2")).as("half2"))
      // exact median Walsh sum by bracketed selection — same shape as
      // q211: only the median VALUE is needed, so Selection.kthValue's
      // two map-side passes replace the r13 single-task sort of the
      // days²/2-row pair frame (see Selection.scala scaladoc)
      val sel = graft.ops.Selection.medianValue(pairs, col("half2"))
      val med = daily.withColumn("rk", row_number().over(
          Window.orderBy(col("cents"), col("tt"))))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"))))
        .filter(col("rk") === expr("(nd + 1) div 2"))
        .select(col("cents").as("med_cents"), col("nd"))
      val mean = daily.agg(
        (sum(col("cents")) / count(lit(1))).as("mean_cents"))
      sel.crossJoin(broadcast(med)).crossJoin(broadcast(mean))
        .select(col("n").as("n_pairs"), col("nd").as("n_days"),
          // 3 decimals: half2/200 is an exact multiple of 0.005, so a
          // 2-decimal round would sit ON the tie boundary every odd sum
          round(col("kth").cast("double") / 200.0, 3).as("hl_location"),
          round(col("med_cents").cast("double") / 100.0, 2).as("median"),
          round(col("mean_cents").cast("double") / 100.0, 2).as("mean"))
    },
      """WITH daily AS (
           SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-05')::BIGINT
               AS tt,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         pairs AS (
           SELECT (a.cents + b.cents)::BIGINT AS half2, a.tt, b.tt AS t2
           FROM daily a JOIN daily b ON b.tt >= a.tt),
         r AS (
           SELECT *, row_number() OVER (ORDER BY half2, tt, t2) AS rk,
             count(*) OVER () AS np
           FROM pairs),
         med AS (
           SELECT cents AS med_cents, nd FROM (
             SELECT cents,
               row_number() OVER (ORDER BY cents, tt) AS rk,
               count(*) OVER () AS nd
             FROM daily)
           WHERE rk = (nd + 1) // 2),
         mn AS (
           SELECT sum(cents)::DOUBLE / count(*) AS mean_cents
           FROM daily)
         SELECT np::BIGINT AS n_pairs, nd::BIGINT AS n_days,
           round(half2::DOUBLE / 200.0, 3) AS hl_location,
           round(med_cents::DOUBLE / 100.0, 2) AS median,
           round(mean_cents / 100.0, 2) AS mean
         FROM r CROSS JOIN med CROSS JOIN mn
         WHERE rk = (np + 1) // 2"""),

    // Q-Q DECILE TABLE (distribution-vs-distribution at matching
    // quantiles — where a KS scalar says "different", the Q-Q table
    // says WHERE): exact decile values of two segments' balances by
    // rank cross-multiplication (rk·10 ≥ d·n picks ⌈d·n/10⌉-th), one
    // rank window per segment, joined on decile.
    QueryDef("q228_qq_table", (s, dir) => {
      def dec(seg: String, out: String) = {
        val c = t(s, dir, "customer")
          .filter(col("c_mktsegment") === seg && col("c_acctbal") > 0)
          .select(round(col("c_acctbal") * 100, 0).cast("long")
            .as("cents"), col("c_custkey"))
        val n = c.agg(count(lit(1)).as("n"))
        // two-phase global rank over the segment's customers (dimension-
        // sized frame — no single-partition sort)
        Dedup.numberRows(c, struct(col("cents"), col("c_custkey")), "rk")
          .crossJoin(broadcast(n))
          .select(col("cents"), col("rk"), col("n"),
            explode(sequence(lit(1), lit(9))).as("dec"))
          .filter(col("rk") * 10 >= col("dec") * col("n") &&
            (col("rk") - 1) * 10 < col("dec") * col("n"))
          .groupBy("dec")
          .agg(min(col("cents")).as(out))
      }
      dec("AUTOMOBILE", "q_auto").join(dec("BUILDING", "q_build"),
          Seq("dec"))
        .select(col("dec"),
          round(col("q_auto").cast("double") / 100.0, 2).as("q_auto"),
          round(col("q_build").cast("double") / 100.0, 2).as("q_build"),
          round(col("q_auto").cast("double") / col("q_build"), 4)
            .as("ratio"))
        .orderBy("dec")
    },
      """WITH a AS (
           SELECT round(c_acctbal * 100)::BIGINT AS cents, c_custkey
           FROM customer
           WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 0),
         b AS (
           SELECT round(c_acctbal * 100)::BIGINT AS cents, c_custkey
           FROM customer
           WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0),
         ra AS (
           SELECT cents, row_number() OVER (ORDER BY cents, c_custkey)
               AS rk, count(*) OVER () AS n
           FROM a),
         rb AS (
           SELECT cents, row_number() OVER (ORDER BY cents, c_custkey)
               AS rk, count(*) OVER () AS n
           FROM b),
         da AS (
           SELECT d.range AS dec, min(cents) AS q_auto
           FROM ra CROSS JOIN range(1, 10) d
           WHERE rk * 10 >= d.range * n AND (rk - 1) * 10 < d.range * n
           GROUP BY 1),
         db AS (
           SELECT d.range AS dec, min(cents) AS q_build
           FROM rb CROSS JOIN range(1, 10) d
           WHERE rk * 10 >= d.range * n AND (rk - 1) * 10 < d.range * n
           GROUP BY 1)
         SELECT dec::BIGINT AS dec,
           round(q_auto::DOUBLE / 100.0, 2) AS q_auto,
           round(q_build::DOUBLE / 100.0, 2) AS q_build,
           round(q_auto::DOUBLE / q_build, 4) AS ratio
         FROM da JOIN db USING (dec) ORDER BY dec"""),

    // MUTUAL INFORMATION between event type and value decile (the
    // information-theoretic dependence measure beside q180's chi² —
    // detects NONLINEAR association a correlation misses): global
    // decile bounds broadcast (q107 idiom), exact joint/margin counts,
    // MI = Σ p·ln(p·N²/(r·c)) folded sorted; normalized by the smaller
    // marginal entropy.
    QueryDef("q229_mutual_information", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("event_type").as("ty"),
        col("value").cast("double").as("v"))
      val bounds = ev.agg(expr(
        "percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs"))
      val binned = ev.crossJoin(broadcast(bounds))
        .select(col("ty"),
          (lit(1) + size(filter(col("bs"), b => col("v") > b))).as("bin"))
      val joint = binned.groupBy("ty", "bin").agg(count(lit(1)).as("nij"))
      val rows = joint.groupBy("ty").agg(sum(col("nij")).as("ri"))
      val cols_ = joint.groupBy("bin").agg(sum(col("nij")).as("cj"))
      val tot = joint.agg(sum(col("nij")).as("nn"))
      val mi = joint.join(broadcast(rows), Seq("ty"))
        .join(broadcast(cols_), Seq("bin"))
        .crossJoin(broadcast(tot))
        .withColumn("term", d(col("nij")) / col("nn") *
          log(d(col("nij")) * col("nn") / (d(col("ri")) * col("cj"))))
        .agg(ssum(collect_list(col("term"))).as("mi"))
      val hr = rows.crossJoin(broadcast(tot))
        .withColumn("t", -(d(col("ri")) / col("nn")) *
          log(d(col("ri")) / col("nn")))
        .agg(ssum(collect_list(col("t"))).as("h_ty"))
      val hc = cols_.crossJoin(broadcast(tot))
        .withColumn("t", -(d(col("cj")) / col("nn")) *
          log(d(col("cj")) / col("nn")))
        .agg(ssum(collect_list(col("t"))).as("h_bin"))
      mi.crossJoin(broadcast(hr)).crossJoin(broadcast(hc))
        .select(round(col("mi"), 6).as("mi"),
          round(col("h_ty"), 6).as("h_ty"),
          round(col("h_bin"), 6).as("h_bin"),
          round(col("mi") / least(col("h_ty"), col("h_bin")), 6)
            .as("nmi"))
    },
      """WITH ev AS (
           SELECT event_type AS ty, CAST(value AS DOUBLE) AS v
           FROM events),
         bounds AS (
           SELECT quantile_cont(v,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
           FROM ev),
         binned AS (
           SELECT ty, 1 + len(list_filter(bs, x -> v > x)) AS bin
           FROM ev CROSS JOIN bounds),
         joint AS (
           SELECT ty, bin, count(*)::BIGINT AS nij
           FROM binned GROUP BY 1, 2),
         rows_ AS (SELECT ty, sum(nij)::BIGINT AS ri
                   FROM joint GROUP BY 1),
         cols_ AS (SELECT bin, sum(nij)::BIGINT AS cj
                   FROM joint GROUP BY 1),
         tot AS (SELECT sum(nij)::BIGINT AS nn FROM joint),
         mi AS (
           SELECT list_sum(list_sort(list(
             nij::DOUBLE / nn *
               ln(nij::DOUBLE * nn / (ri::DOUBLE * cj))))) AS mi
           FROM joint JOIN rows_ USING (ty) JOIN cols_ USING (bin)
           CROSS JOIN tot),
         hr AS (
           SELECT list_sum(list_sort(list(
             -(ri::DOUBLE / nn) * ln(ri::DOUBLE / nn)))) AS h_ty
           FROM rows_ CROSS JOIN tot),
         hc AS (
           SELECT list_sum(list_sort(list(
             -(cj::DOUBLE / nn) * ln(cj::DOUBLE / nn)))) AS h_bin
           FROM cols_ CROSS JOIN tot)
         SELECT round(mi, 6) AS mi, round(h_ty, 6) AS h_ty,
           round(h_bin, 6) AS h_bin,
           round(mi / least(h_ty, h_bin), 6) AS nmi
         FROM mi CROSS JOIN hr CROSS JOIN hc"""),

    // ROBUST LOCATION ZOO (mean vs 10%-trimmed vs winsorized vs
    // median, per group — how much do the tails move your center?):
    // ONE per-group rank window feeds all four: exact rank cuts for
    // the trim, rank-clamped values for the winsorization, the
    // cross-multiplied middle for the median. Integer cents until
    // display.
    QueryDef("q230_robust_location", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          col("l_orderkey"), col("l_linenumber"))
      val full = Window.partitionBy("flag")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val r = li.withColumn("n", count(lit(1)).over(full))
        .withColumn("rk", row_number().over(Window.partitionBy("flag")
          .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))))
        .withColumn("lo", expr("(n + 9) div 10"))
        .withColumn("hi", expr("n - (n + 9) div 10"))
      val lov = r.filter(col("rk") === col("lo") + 1)
        .select(col("flag"), col("cents").as("lov"))
      val hiv = r.filter(col("rk") === col("hi"))
        .select(col("flag"), col("cents").as("hiv"))
      r.join(broadcast(lov), Seq("flag")).join(broadcast(hiv), Seq("flag"))
        .groupBy("flag")
        .agg(max(col("n")).as("n"),
          round(sum(col("cents")).cast("double") / max(col("n")) / 100.0,
            2).as("mean"),
          round(sum(when(col("rk") > col("lo") && col("rk") <= col("hi"),
            col("cents"))).cast("double") /
            sum(when(col("rk") > col("lo") && col("rk") <= col("hi"), 1L)
              .otherwise(0L)) / 100.0, 2).as("trimmed10"),
          round(sum(least(greatest(col("cents"), col("lov")), col("hiv")))
            .cast("double") / max(col("n")) / 100.0, 2).as("winsorized10"),
          round(min(when(col("rk") * 2 >= col("n"), col("cents")))
            .cast("double") / 100.0, 2).as("median"))
        .orderBy("flag")
    },
      """WITH li AS (
           SELECT l_returnflag AS flag,
             round(l_extendedprice * 100)::BIGINT AS cents,
             l_orderkey, l_linenumber
           FROM lineitem),
         r AS (
           SELECT *, count(*) OVER (PARTITION BY flag) AS n,
             row_number() OVER (PARTITION BY flag
               ORDER BY cents, l_orderkey, l_linenumber) AS rk
           FROM li),
         c AS (
           SELECT *, (n + 9) // 10 AS lo, n - (n + 9) // 10 AS hi
           FROM r),
         lov AS (
           SELECT flag, cents AS lov FROM c WHERE rk = lo + 1),
         hiv AS (
           SELECT flag, cents AS hiv FROM c WHERE rk = hi)
         SELECT c.flag, max(n)::BIGINT AS n,
           round(sum(cents)::DOUBLE / max(n) / 100.0, 2) AS mean,
           round(sum(CASE WHEN rk > lo AND rk <= hi THEN cents END)
             ::DOUBLE / sum(CASE WHEN rk > lo AND rk <= hi
               THEN 1 ELSE 0 END) / 100.0, 2) AS trimmed10,
           round(sum(least(greatest(cents, lov), hiv))::DOUBLE
             / max(n) / 100.0, 2) AS winsorized10,
           round(min(CASE WHEN rk * 2 >= n THEN cents END)::DOUBLE
             / 100.0, 2) AS median
         FROM c JOIN lov USING (flag) JOIN hiv USING (flag)
         GROUP BY 1 ORDER BY 1"""),

    // CUPED VARIANCE REDUCTION (Deng WSDM'13 — the pre-experiment
    // covariate adjustment every A/B platform runs): X = first-half
    // user spend, Y = second-half; θ = cov(X,Y)/var(X) from
    // DECIMAL-exact moments; the report gates the variance-reduction
    // ratio 1 − (1 − ρ²). All sums exact integers until the fixed
    // final op sequence.
    QueryDef("q250_cuped", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val per = ev.crossJoin(broadcast(span))
        .groupBy("user_id")
        .agg(sum(when(col("us") < col("mid"), col("cents"))
          .otherwise(0L)).cast("decimal(19,0)").as("x"),
          sum(when(col("us") >= col("mid"), col("cents"))
            .otherwise(0L)).cast("decimal(19,0)").as("y"))
      per.agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n").cast("long").as("n_users"),
          round(d(col("n") * col("sxy") - col("sx") * col("sy")) /
            d(col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("theta"),
          round(
            (d(col("n") * col("sxy") - col("sx") * col("sy")) *
              d(col("n") * col("sxy") - col("sx") * col("sy"))) /
            (d(col("n") * col("sxx") - col("sx") * col("sx")) *
              d(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("rho2"),
          round(lit(1.0) -
            (d(col("n") * col("sxy") - col("sx") * col("sy")) *
              d(col("n") * col("sxy") - col("sx") * col("sy"))) /
            (d(col("n") * col("sxx") - col("sx") * col("sx")) *
              d(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("var_ratio"))
    },
      """WITH ev AS (
           SELECT user_id, round(value * 100)::BIGINT AS cents,
             epoch_us(ts) AS us
           FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         per AS (
           SELECT user_id,
             sum(CASE WHEN us < mid THEN cents ELSE 0 END)::BIGINT
               AS x,
             sum(CASE WHEN us >= mid THEN cents ELSE 0 END)::BIGINT
               AS y
           FROM ev CROSS JOIN span GROUP BY 1),
         m AS (
           SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
           FROM per)
         SELECT n AS n_users,
           round((n * sxy - sx * sy)::DOUBLE
             / (n * sxx - sx * sx)::DOUBLE, 6) AS theta,
           round(((n * sxy - sx * sy)::DOUBLE
               * (n * sxy - sx * sy)::DOUBLE)
             / ((n * sxx - sx * sx)::DOUBLE
               * (n * syy - sy * sy)::DOUBLE), 6) AS rho2,
           round(1.0 - ((n * sxy - sx * sy)::DOUBLE
               * (n * sxy - sx * sy)::DOUBLE)
             / ((n * sxx - sx * sx)::DOUBLE
               * (n * syy - sy * sy)::DOUBLE), 6) AS var_ratio
         FROM m"""),

    // A/A CALIBRATION SWEEP (the experimentation-platform sanity
    // check: 20 null-effect hash splits should reject ~5% at α=.05):
    // each split is a different md5 seed over users, ALL splits
    // evaluate in ONE pass (explode over seeds, exact cohort counts),
    // z per split via the q164 machinery. The gate carries every
    // split's z — a biased splitter moves hashed values immediately.
    QueryDef("q252_aa_calibration", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val per = events(s, dir).groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"), count(lit(1)).as("n"))
        .withColumn("y", (col("conv") > 0).cast("long"))
      val splits = per.select(col("user_id"), col("y"),
          explode(sequence(lit(0), lit(19))).as("seed"))
        .withColumn("arm_a", pmod(TF.md5Hash48(
          concat(col("seed").cast("string"), lit(":"),
            col("user_id").cast("string"))), lit(2L)) === 0)
      val cells = splits.groupBy("seed")
        .agg(sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
          sum(when(col("arm_a"), col("y")).otherwise(0L)).as("xa"),
          sum(when(!col("arm_a"), 1L).otherwise(0L)).as("nb"),
          sum(when(!col("arm_a"), col("y")).otherwise(0L)).as("xb"))
      cells
        .withColumn("pp", d(col("xa") + col("xb")) /
          d(col("na") + col("nb")))
        .withColumn("z", when(col("pp") === 0 || col("pp") === 1, 0.0)
          .otherwise((d(col("xa")) / col("na") - d(col("xb")) / col("nb"))
            / sqrt(col("pp") * (lit(1.0) - col("pp")) *
              (lit(1.0) / col("na") + lit(1.0) / col("nb")))))
        .select(col("seed"), col("na"), col("nb"),
          round(col("z"), 4).as("z"),
          (abs(col("z")) > 1.96).as("rejected"))
        .orderBy("seed")
    },
      """WITH per AS (
           SELECT user_id,
             (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               > 0)::BIGINT AS y
           FROM events GROUP BY 1),
         sp AS (
           SELECT user_id, y, s.range AS seed,
             (('0x' || substring(md5('0:' || s.range || ':' || user_id),
               1, 12))::BIGINT % 2 = 0) AS arm_a
           FROM per CROSS JOIN range(0, 20) s),
         cells AS (
           SELECT seed,
             sum(CASE WHEN arm_a THEN 1 ELSE 0 END)::BIGINT AS na,
             sum(CASE WHEN arm_a THEN y ELSE 0 END)::BIGINT AS xa,
             sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END)::BIGINT AS nb,
             sum(CASE WHEN NOT arm_a THEN y ELSE 0 END)::BIGINT AS xb
           FROM sp GROUP BY 1),
         z AS (
           SELECT *, (xa + xb)::DOUBLE / (na + nb) AS pp
           FROM cells)
         SELECT seed::BIGINT AS seed, na, nb,
           round(CASE WHEN pp = 0 OR pp = 1 THEN 0.0
             ELSE (xa::DOUBLE / na - xb::DOUBLE / nb)
               / sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)) END, 4)
             AS z,
           (abs(CASE WHEN pp = 0 OR pp = 1 THEN 0.0
             ELSE (xa::DOUBLE / na - xb::DOUBLE / nb)
               / sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)) END)
             > 1.96) AS rejected
         FROM z ORDER BY seed"""),

    // DIFFERENCE-IN-DIFFERENCES (the quasi-experimental estimator when
    // you can't randomize: treated vs control, before vs after):
    // treatment = md5 half of customers, periods = exact time halves,
    // DiD = (T2−T1)−(C2−C1) on per-(group,period) mean order value
    // from exact integer cents. Four cells, one agg.
    QueryDef("q259_diff_in_diff", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          expr("unix_micros(cast(o_orderdate as timestamp))").as("us"))
      val span = o.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val cells = o.crossJoin(broadcast(span))
        .withColumn("treated",
          pmod(TF.md5Hash48(col("o_custkey").cast("string")), lit(2L))
            === 0)
        .withColumn("after", col("us") >= col("mid"))
        .groupBy("treated", "after")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
        .withColumn("mean_cents", d(col("sc")) / col("n"))
      val wide = cells.groupBy()
        .agg(max(when(col("treated") && !col("after"),
          col("mean_cents"))).as("t1"),
          max(when(col("treated") && col("after"),
            col("mean_cents"))).as("t2"),
          max(when(!col("treated") && !col("after"),
            col("mean_cents"))).as("c1"),
          max(when(!col("treated") && col("after"),
            col("mean_cents"))).as("c2"),
          sum(col("n")).as("n_orders"))
      wide.select(col("n_orders"),
        round(col("t1") / 100.0, 2).as("treated_before"),
        round(col("t2") / 100.0, 2).as("treated_after"),
        round(col("c1") / 100.0, 2).as("control_before"),
        round(col("c2") / 100.0, 2).as("control_after"),
        round(((col("t2") - col("t1")) - (col("c2") - col("c1")))
          / 100.0, 4).as("did_estimate"))
    },
      """WITH o AS (
           SELECT o_custkey, round(o_totalprice * 100)::BIGINT AS cents,
             epoch_us(o_orderdate) AS us
           FROM orders),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM o),
         cells AS (
           SELECT
             (('0x' || substring(md5('0:' || o_custkey), 1, 12))
               ::BIGINT % 2 = 0) AS treated,
             (us >= mid) AS after,
             count(*)::BIGINT AS n,
             sum(cents)::DOUBLE / count(*) AS mean_cents
           FROM o CROSS JOIN span GROUP BY 1, 2),
         wide AS (
           SELECT
             max(CASE WHEN treated AND NOT after THEN mean_cents END)
               AS t1,
             max(CASE WHEN treated AND after THEN mean_cents END)
               AS t2,
             max(CASE WHEN NOT treated AND NOT after THEN mean_cents
               END) AS c1,
             max(CASE WHEN NOT treated AND after THEN mean_cents END)
               AS c2,
             sum(n)::BIGINT AS n_orders
           FROM cells)
         SELECT n_orders, round(t1 / 100.0, 2) AS treated_before,
           round(t2 / 100.0, 2) AS treated_after,
           round(c1 / 100.0, 2) AS control_before,
           round(c2 / 100.0, 2) AS control_after,
           round(((t2 - t1) - (c2 - c1)) / 100.0, 4) AS did_estimate
         FROM wide"""),

    // KENDALL TAU-B between the revenue and quantity part rankings
    // (the exact-statistic companion to q212's RBO): concordant/
    // discordant pairs over the common top-50 — all integer counts
    // from a broadcast pair build over ≤50 items; tie-corrected
    // denominator. Where RBO weights the head, tau treats all pairs
    // equally — reporting both is the standard practice.
    QueryDef("q262_kendall_tau", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val byRev = li.groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("v"))
        .withColumn("ra", row_number().over(
          Window.orderBy(col("v").desc, col("l_partkey"))))
        .filter(col("ra") <= 50).select("l_partkey", "ra")
      val byQty = li.groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
        .withColumn("rb", row_number().over(
          Window.orderBy(col("q").desc, col("l_partkey"))))
        .filter(col("rb") <= 50).select("l_partkey", "rb")
      val common = byRev.join(byQty, Seq("l_partkey"))
      val pairs = common.select(col("ra").as("ra1"), col("rb").as("rb1"),
          col("l_partkey").as("k1"))
        .join(broadcast(common.select(col("ra").as("ra2"),
          col("rb").as("rb2"), col("l_partkey").as("k2"))),
          col("k1") < col("k2"))
        .withColumn("s", signum((col("ra1") - col("ra2")) *
          (col("rb1") - col("rb2"))).cast("long"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("s") === 1, 1L).otherwise(0L)).as("concordant"),
          sum(when(col("s") === -1, 1L).otherwise(0L)).as("discordant"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          round((col("concordant") - col("discordant")).cast("double") /
            col("n_pairs"), 6).as("tau"))
    },
      """WITH rev AS (
           SELECT l_partkey,
             row_number() OVER (ORDER BY
               sum(round(l_extendedprice * 100)::BIGINT) DESC,
               l_partkey) AS ra
           FROM lineitem GROUP BY l_partkey QUALIFY ra <= 50),
         qty AS (
           SELECT l_partkey,
             row_number() OVER (ORDER BY
               sum(CAST(l_quantity AS BIGINT)) DESC, l_partkey) AS rb
           FROM lineitem GROUP BY l_partkey QUALIFY rb <= 50),
         common AS (
           SELECT l_partkey, ra, rb FROM rev JOIN qty
             USING (l_partkey)),
         pairs AS (
           SELECT sign((a.ra - b.ra) * (a.rb - b.rb))::BIGINT AS s
           FROM common a JOIN common b
             ON a.l_partkey < b.l_partkey)
         SELECT count(*)::BIGINT AS n_pairs,
           sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT
             AS concordant,
           sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)::BIGINT
             AS discordant,
           round((sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
             - sum(CASE WHEN s = -1 THEN 1 ELSE 0 END))::DOUBLE
             / count(*), 6) AS tau
         FROM pairs"""),

    // WILSON SCORE INTERVALS for per-segment conversion (the CI that
    // behaves at small n and extreme p, unlike Wald): exact counts,
    // the closed-form Wilson bounds at z=1.96 in a fixed op sequence.
    // Pure map-side math on the cells table.
    QueryDef("q264_wilson_interval", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val cells = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("c_acctbal") > 4500.0, 1L).otherwise(0L))
            .as("x"))
      val z2 = 1.96 * 1.96
      cells
        .withColumn("p", d(col("x")) / col("n"))
        .withColumn("den", lit(1.0) + lit(z2) / col("n"))
        .withColumn("ctr", (col("p") + lit(z2) / (col("n") * 2))
          / col("den"))
        .withColumn("hw", lit(1.96) * sqrt(col("p") * (lit(1.0) -
          col("p")) / col("n") + lit(z2) / (d(col("n")) * col("n") * 4))
          / col("den"))
        .select(col("seg"), col("n"), col("x"),
          round(col("p"), 6).as("p_hat"),
          round(col("ctr") - col("hw"), 6).as("wilson_lo"),
          round(col("ctr") + col("hw"), 6).as("wilson_hi"))
        .orderBy("seg")
    },
      """WITH cells AS (
           SELECT c_mktsegment AS seg, count(*)::BIGINT AS n,
             sum(CASE WHEN c_acctbal > 4500.0 THEN 1 ELSE 0 END)
               ::BIGINT AS x
           FROM customer GROUP BY 1),
         w AS (
           SELECT *, x::DOUBLE / n AS p,
             1.0 + 3.8416 / n AS den,
             (x::DOUBLE / n + 3.8416 / (n * 2))
               / (1.0 + 3.8416 / n) AS ctr,
             1.96 * sqrt((x::DOUBLE / n) * (1.0 - x::DOUBLE / n) / n
               + 3.8416 / (n::DOUBLE * n * 4))
               / (1.0 + 3.8416 / n) AS hw
           FROM cells)
         SELECT seg, n, x, round(p, 6) AS p_hat,
           round(ctr - hw, 6) AS wilson_lo,
           round(ctr + hw, 6) AS wilson_hi
         FROM w ORDER BY seg"""),

    // BENFORD FIRST-DIGIT AUDIT (the classic fabricated-data screen —
    // Newcomb 1881 / Benford 1938): leading-digit distribution of
    // order value in cents vs log10(1+1/d), with per-digit chi-square
    // contributions and the total statistic riding on every row. Exact
    // integer counts; doubles only in the display divisions; the
    // chi-square total folds via the sorted-sum aggregator (bit-exact
    // across partitionings).
    QueryDef("q274_benford", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val digits = t(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100, 0)
          .cast("long").cast("string"), 1, 1).cast("int").as("dg"))
        .groupBy("dg").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("nn"))
      val terms = digits.crossJoin(broadcast(tot))
        .withColumn("p_exp", log10(lit(1.0) + lit(1.0) / col("dg")))
        .withColumn("n_exp", col("p_exp") * col("nn"))
        .withColumn("chi_term", (d(col("n")) - col("n_exp")) *
          (d(col("n")) - col("n_exp")) / col("n_exp"))
      val chi = terms.agg(ssum(collect_list(col("chi_term"))).as("chi2"))
      terms.crossJoin(broadcast(chi))
        .select(col("dg"), col("n"),
          round(d(col("n")) / col("nn"), 6).as("obs_share"),
          round(col("p_exp"), 6).as("exp_share"),
          round(col("chi_term"), 4).as("chi_term"),
          round(col("chi2"), 4).as("chi2"))
        .orderBy("dg")
    },
      """WITH digits AS (
           SELECT left((round(o_totalprice * 100)::BIGINT)::VARCHAR,
               1)::INT AS dg,
             count(*)::BIGINT AS n
           FROM orders GROUP BY 1),
         tot AS (SELECT sum(n)::BIGINT AS nn FROM digits),
         terms AS (
           SELECT dg, n, nn, log10(1.0 + 1.0 / dg) AS p_exp,
             log10(1.0 + 1.0 / dg) * nn AS n_exp
           FROM digits CROSS JOIN tot),
         t2 AS (
           SELECT *, (n::DOUBLE - n_exp) * (n::DOUBLE - n_exp) / n_exp
             AS chi_term
           FROM terms),
         chi AS (
           SELECT list_sum(list_sort(list(chi_term))) AS chi2 FROM t2)
         SELECT dg, n, round(n::DOUBLE / nn, 6) AS obs_share,
           round(p_exp, 6) AS exp_share,
           round(chi_term, 4) AS chi_term, round(chi2, 4) AS chi2
         FROM t2 CROSS JOIN chi ORDER BY dg"""),

    // PSI (population stability index) — the model-monitoring drift
    // score, computed for order value between a reference period
    // (pre-1998) and the current one: 10 buckets from the REFERENCE
    // decile bounds (floored to integer cents, so bucket membership is
    // integer-exact cross-engine), Laplace-smoothed shares
    // ((n+1)/(N+10) — keeps empty buckets defined, deterministically),
    // PSI = Σ (p−q)·ln(p/q) via the sorted fold. Complements q276: KL
    // watches composition, PSI watches a numeric distribution.
    QueryDef("q279_psi", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val o = t(s, dir, "orders")
        .select(expr("cast(round(o_totalprice * 100) as bigint)")
          .as("cents"),
          (col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
            .as("cur"))
      val bounds = o.filter(!col("cur")).agg(expr(
        "transform(percentile(cents, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), b -> cast(floor(b) as bigint))")
        .as("bs"))
      val bucketed = o.crossJoin(broadcast(bounds))
        .withColumn("bk",
          lit(1) + size(filter(col("bs"), b => col("cents") > b)))
        .groupBy("bk")
        .agg(sum(when(col("cur"), 0L).otherwise(1L)).as("n_ref"),
          sum(when(col("cur"), 1L).otherwise(0L)).as("n_cur"))
      val totals = bucketed.agg(sum(col("n_ref")).as("m"),
        sum(col("n_cur")).as("nn"))
      val terms = bucketed.crossJoin(broadcast(totals))
        .withColumn("q", (d(col("n_ref")) + 1.0) / (col("m") + 10))
        .withColumn("p", (d(col("n_cur")) + 1.0) / (col("nn") + 10))
        .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      val psi = terms.agg(ssum(collect_list(col("term"))).as("psi"))
      terms.crossJoin(broadcast(psi))
        .select(col("bk"), col("n_ref"), col("n_cur"),
          round(col("term"), 6).as("term"),
          round(col("psi"), 6).as("psi"))
        .orderBy("bk")
    },
      """WITH o AS (
           SELECT round(o_totalprice * 100)::BIGINT AS cents,
             (o_orderdate >= TIMESTAMP '1998-01-01') AS cur
           FROM orders),
         bounds AS (
           SELECT list_transform(
             quantile_cont(cents, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
             b -> floor(b)::BIGINT) AS bs
           FROM o WHERE NOT cur),
         bucketed AS (
           SELECT 1 + len(list_filter(bs, b -> cents > b)) AS bk,
             sum(CASE WHEN cur THEN 0 ELSE 1 END)::BIGINT AS n_ref,
             sum(CASE WHEN cur THEN 1 ELSE 0 END)::BIGINT AS n_cur
           FROM o CROSS JOIN bounds GROUP BY 1),
         totals AS (
           SELECT sum(n_ref)::BIGINT AS m, sum(n_cur)::BIGINT AS nn
           FROM bucketed),
         terms AS (
           SELECT bk, n_ref, n_cur,
             (n_ref::DOUBLE + 1.0) / (m + 10) AS q,
             (n_cur::DOUBLE + 1.0) / (nn + 10) AS p
           FROM bucketed CROSS JOIN totals),
         t2 AS (
           SELECT *, (p - q) * ln(p / q) AS term FROM terms),
         psi AS (
           SELECT list_sum(list_sort(list(term))) AS psi FROM t2)
         SELECT bk, n_ref, n_cur, round(term, 6) AS term,
           round(psi, 6) AS psi
         FROM t2 CROSS JOIN psi ORDER BY bk"""),

    // EXACT PERCENTILE BANDS PER GROUP (the p50/p90/p99 ops
    // dashboard): per event type, the k-th smallest value in cents
    // picked BY RANK (k = ceil(q·n) — the classic exact definition, no
    // interpolation, no sketch): one partitioned rank window + one
    // count per type, three conditional min-picks. Integer-exact
    // end to end.
    QueryDef("q289_percentile_bands", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val e = events(s, dir)
        .select(col("event_type").as("ty"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val w = Window.partitionBy("ty").orderBy(col("cents"),
        col("event_id"))
      val ranked = e
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("ty")))
      def pick(q: Double, as: String) =
        max(when(col("rk") === expr(s"cast(ceil($q * n) as bigint)"),
          col("cents"))).as(as)
      ranked.groupBy("ty")
        .agg(max(col("n")).as("n_events"),
          pick(0.50, "p50_cents"), pick(0.90, "p90_cents"),
          pick(0.99, "p99_cents"))
        .select(col("ty"), col("n_events"),
          round(d(col("p50_cents")) / 100.0, 2).as("p50"),
          round(d(col("p90_cents")) / 100.0, 2).as("p90"),
          round(d(col("p99_cents")) / 100.0, 2).as("p99"))
        .orderBy("ty")
    },
      """WITH e AS (
           SELECT event_type AS ty, event_id,
             round(value * 100)::BIGINT AS cents
           FROM events),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY ty
               ORDER BY cents, event_id)::BIGINT AS rk,
             count(*) OVER (PARTITION BY ty)::BIGINT AS n
           FROM e)
         SELECT ty, max(n)::BIGINT AS n_events,
           round(max(CASE WHEN rk = ceil(0.5 * n)::BIGINT
             THEN cents END)::DOUBLE / 100.0, 2) AS p50,
           round(max(CASE WHEN rk = ceil(0.9 * n)::BIGINT
             THEN cents END)::DOUBLE / 100.0, 2) AS p90,
           round(max(CASE WHEN rk = ceil(0.99 * n)::BIGINT
             THEN cents END)::DOUBLE / 100.0, 2) AS p99
         FROM r GROUP BY 1 ORDER BY 1"""),

    // QUANTILE MAPPING TABLE (quantile normalization across sources —
    // the feature-alignment op: map each source's doc-length
    // distribution onto the global one): per source, the d/10-quantile
    // value picked by EXACT integer rank (kd = ceil(d·n/10) via
    // (d·n+9) div 10) from a source-partitioned window; the GLOBAL
    // side ranks raw rows, so it runs two-phase (Dedup.numberRows).
    // Output: (source, decile, source quantile, global quantile).
    QueryDef("q292_quantile_mapping", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val sw = Window.partitionBy("source")
        .orderBy(col("n_chars"), col("doc_id"))
      val srcQ = docs
        .withColumn("rk", row_number().over(sw))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("source")))
        .withColumn("d", explode(sequence(lit(1), lit(10))))
        .filter(expr("(d * n + 9) div 10") === col("rk"))
        .select(col("source"), col("d"), col("n_chars").as("src_q"))
      val globalQ = Dedup.numberRows(docs,
          struct(col("n_chars"), col("doc_id")), "grk")
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("gn"))))
        .withColumn("d", explode(sequence(lit(1), lit(10))))
        .filter(expr("(d * gn + 9) div 10") === col("grk"))
        .select(col("d"), col("n_chars").as("global_q"))
      srcQ.join(broadcast(globalQ), Seq("d"))
        .select(col("source"), col("d").as("decile"), col("src_q"),
          col("global_q"))
        .orderBy("source", "decile")
    },
      """WITH docs AS (
           SELECT doc_id, source, n_chars FROM documents),
         sr AS (
           SELECT *,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id)::BIGINT AS rk,
             count(*) OVER (PARTITION BY source)::BIGINT AS n
           FROM docs),
         srcq AS (
           SELECT source, d.i AS decile, n_chars AS src_q
           FROM sr CROSS JOIN range(1, 11) d(i)
           WHERE (d.i * n + 9) // 10 = rk),
         gr AS (
           SELECT *,
             row_number() OVER (ORDER BY n_chars, doc_id)::BIGINT
               AS grk,
             count(*) OVER ()::BIGINT AS gn
           FROM docs),
         g AS (
           SELECT d.i AS decile, n_chars AS global_q
           FROM gr CROSS JOIN range(1, 11) d(i)
           WHERE (d.i * gn + 9) // 10 = grk)
         SELECT source, decile, src_q, global_q
         FROM srcq JOIN g USING (decile)
         ORDER BY source, decile"""),

    // BENFORD'S LAW SCREEN (the forensic first-digit test for synthetic
    // or tampered monetary data — a data-quality gate for ingested
    // training corpora): observed first-significant-digit counts of
    // order totals vs the Benford expectation, with per-digit χ²
    // contributions. The nine log₁₀(1+1/d) constants are IDENTICAL
    // literals in query and oracle (no cross-engine libm), so every
    // double op replays bit-for-bit. Map-side digit extraction, one
    // 9-row aggregate — nothing scales beyond the scan.
    QueryDef("q322_benford_screen", (s, dir) => {
      val benford = typedlit(Array(0.3010299956639812, 0.17609125905568124,
        0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
        0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
        0.04575749056067514))
      val obs = t(s, dir, "orders")
        .select(substring(expr("cast(round(o_totalprice * 100) as bigint)")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).cast("double").as("__n"))
      obs.crossJoin(broadcast(tot))
        .withColumn("__e", col("__n") *
          element_at(benford, col("digit").cast("int")))
        .select(col("digit"), col("n_obs"),
          round(element_at(benford, col("digit").cast("int")), 6)
            .as("p_benford"),
          round(col("__e"), 4).as("expected"),
          round((col("n_obs") - col("__e")) * (col("n_obs") - col("__e"))
            / col("__e"), 6).as("chi2_term"))
        .orderBy("digit")
    },
      """WITH d AS (
           SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100)
             AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           FROM orders),
         o AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS nn FROM o),
         p AS (SELECT [0.3010299956639812, 0.17609125905568124,
           0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
           0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
           0.04575749056067514] AS bl)
         SELECT digit, n_obs,
           round(bl[digit::INT], 6) AS p_benford,
           round(nn * bl[digit::INT], 4) AS expected,
           round((n_obs - nn * bl[digit::INT])
               * (n_obs - nn * bl[digit::INT])
             / (nn * bl[digit::INT]), 6) AS chi2_term
         FROM o, t, p ORDER BY digit"""),

    // GROUP-WISE WINSORIZATION (the standard outlier clamp before
    // feature scaling / reward-model stats): per market segment, clip
    // account balances at that segment's exact type-7 p10/p90
    // (Spark `percentile` ≡ DuckDB quantile_cont, proven bridge) and
    // report the clip counts and the winsorized sum (sorted fold —
    // bit-exact). Percentiles are per-group aggregates (no global
    // sort); the clip is map-side.
    QueryDef("q323_winsorize_groups", (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_mktsegment").as("seg"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("cents"))
      val cuts = c.groupBy("seg").agg(
        expr("percentile(cents, 0.1D)").as("lo"),
        expr("percentile(cents, 0.9D)").as("hi"))
      c.join(broadcast(cuts), Seq("seg"))
        .withColumn("w",
          greatest(least(col("cents").cast("double"), col("hi")), col("lo")))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents").cast("double") < col("lo"), 1L)
            .otherwise(0L)).as("n_clip_lo"),
          sum(when(col("cents").cast("double") > col("hi"), 1L)
            .otherwise(0L)).as("n_clip_hi"),
          round(min(col("lo")), 4).as("p10"),
          round(min(col("hi")), 4).as("p90"),
          round(ssum(collect_list(col("w"))), 4).as("sum_winsorized"))
        .orderBy("seg")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer),
         cuts AS (
           SELECT seg, quantile_cont(cents, 0.1) AS lo,
             quantile_cont(cents, 0.9) AS hi
           FROM c GROUP BY 1),
         j AS (
           SELECT c.seg, cents, lo, hi,
             greatest(least(CAST(cents AS DOUBLE), hi), lo) AS w
           FROM c JOIN cuts USING (seg))
         SELECT seg, count(*) AS n,
           sum(CASE WHEN CAST(cents AS DOUBLE) < lo THEN 1 ELSE 0 END)
             ::BIGINT AS n_clip_lo,
           sum(CASE WHEN CAST(cents AS DOUBLE) > hi THEN 1 ELSE 0 END)
             ::BIGINT AS n_clip_hi,
           round(min(lo), 4) AS p10, round(min(hi), 4) AS p90,
           round(list_sum(list_sort(list(w))), 4) AS sum_winsorized
         FROM j GROUP BY seg ORDER BY seg"""),
  )
}
