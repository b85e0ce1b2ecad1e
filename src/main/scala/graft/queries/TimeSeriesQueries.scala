package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SortedSumD.{sortedSum => ssum}
import graft.ops.Caches
import graft.queries.Shared.{events, t}

/** Time-series smoothing, interpolation, seasonality, trend and forecast
  * backtests. Each entry pairs a query with its DuckDB oracle
  * ([[QueryDef]]). */
object TimeSeriesQueries {

  val defs: Seq[QueryDef] = Seq(

    // TIME-SERIES GAP FILL: per-user daily scaffold (sequence+explode
    // between first and last event day) left-joined with the day's
    // closing value, forward-filled by an IGNORE NULLS window — the
    // resample/ffill primitive for event telemetry. Values pass
    // through untouched (no float re-aggregation).
    QueryDef("q80_gap_fill", (s, dir) => {
      val e = events(s, dir)
      val daily = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("day_value"))
      val scaffold = e.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"),
            expr("INTERVAL 1 DAY"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      scaffold.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          last(col("day_value"), ignoreNulls = true).over(w).as("value"),
          col("day_value").isNotNull.cast("long").as("observed"))
        .orderBy("user_id", "day")
    },
      """WITH daily AS (
           SELECT user_id, day, day_value FROM (
             SELECT user_id, CAST(ts AS DATE) AS day, value AS day_value,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1),
         bounds AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS d0,
             max(CAST(ts AS DATE)) AS d1
           FROM events GROUP BY 1),
         scaffold AS (
           SELECT user_id, CAST(unnest(generate_series(d0, d1,
             INTERVAL 1 DAY)) AS DATE) AS day
           FROM bounds)
         SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
           last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           CAST(d.day_value IS NOT NULL AS BIGINT) AS observed
         FROM scaffold s LEFT JOIN daily d
           ON d.user_id = s.user_id AND d.day = s.day
         ORDER BY s.user_id, s.day"""),

    // Time-weighted average (TWAP) over IRREGULAR event times: each
    // observation weighted by its holding interval to the next event
    // (microsecond-exact integer Δt via unix_micros; the weighted sum
    // is a sorted fold). One keyed window + one groupBy.
    QueryDef("q124_twap", (s, dir) => {
      val byUserDay = Window
        .partitionBy(col("user_id"), col("day"))
        .orderBy(col("us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_id"), col("value"), unix_micros(col("ts")).as("us"))
        .withColumn("nxt", lead(col("us"), 1).over(byUserDay))
        .filter(col("nxt").isNotNull)
        .withColumn("dt", col("nxt") - col("us"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt")).cast("long").as("total_us"),
          round(ssum(collect_list(col("value") * col("dt"))) /
            sum(col("dt")).cast("double"), 4).as("twap"))
        .orderBy("user_id", "day")
    },
      """WITH e AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             event_id, value, epoch_us(ts) AS us
           FROM events),
         n AS (
           SELECT *, lead(us) OVER (PARTITION BY user_id, day
             ORDER BY us, event_id) AS nxt
           FROM e),
         d AS (SELECT user_id, day, value, nxt - us AS dt
               FROM n WHERE nxt IS NOT NULL)
         SELECT user_id, day, count(*)::BIGINT AS n_intervals,
           sum(dt)::BIGINT AS total_us,
           round(list_sum(list_sort(list(value * dt))) /
             sum(dt)::DOUBLE, 4) AS twap
         FROM d GROUP BY 1, 2 ORDER BY 1, 2"""),

    // LINEAR INTERPOLATION gap fill — the interpolating sibling of
    // q80's LOCF: per-user daily series, missing days filled by
    // time-weighted linear blend of the bracketing observations. Two
    // windows over ONE user-keyed shuffle (forward scan + backward
    // scan), map-side arithmetic; exact integer day weights.
    QueryDef("q135_linear_interp", (s, dir) => {
      val e = events(s, dir)
      val daily = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("v"))
      val scaffold = e.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"),
            expr("INTERVAL 1 DAY"))).as("day"))
      val grid = scaffold.join(daily, Seq("user_id", "day"), "left")
      val back = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val fwd = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(0, Window.unboundedFollowing)
      grid
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pd", last(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nd", first(when(col("v").isNotNull, col("day")),
          ignoreNulls = true).over(fwd))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd")
            .as("day"),
          round(when(col("v").isNotNull, col("v"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (datediff(col("day"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")).cast("double"))), 4)
            .as("v"))
        .orderBy("user_id", "day")
    },
      """WITH daily AS (
           SELECT user_id, day, v FROM (
             SELECT user_id, CAST(ts AS DATE) AS day, value AS v,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1),
         span AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS d0,
             max(CAST(ts AS DATE)) AS d1
           FROM events GROUP BY 1),
         scaffold AS (
           SELECT user_id, unnest(generate_series(d0, d1,
             INTERVAL 1 DAY))::DATE AS day
           FROM span),
         grid AS (
           SELECT s.user_id, s.day, d.v
           FROM scaffold s LEFT JOIN daily d
             ON d.user_id = s.user_id AND d.day = s.day),
         f AS (
           SELECT user_id, day, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY day ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS pd,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY day ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
           FROM grid)
         SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           round(CASE WHEN v IS NOT NULL THEN v
             ELSE pv + (nv - pv) *
               (CAST(date_diff('day', pd, day) AS DOUBLE) /
                CAST(date_diff('day', pd, nd) AS DOUBLE)) END, 4) AS v
         FROM f ORDER BY user_id, day"""),

    // DAY-OF-WEEK SEASONALITY INDEX + residual spike counts (the
    // decomposition-lite drift/seasonality profile): per (type, dow)
    // mean vs overall mean from EXACT integer cents, residual spikes
    // detected with pure integer cross-multiplication
    // (cents·n_dow > 2·cents_dow ⇔ value > 2·dow-mean — no division,
    // no float compare). Engine-neutral dow via days-since-a-known-
    // Monday mod 7 (the q142 gotcha). Two aggregations + one broadcast
    // join back.
    QueryDef("q170_seasonality", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val ev = events(s, dir).select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        expr("(datediff(to_date(ts), date'1970-01-05') % 7 + 7) % 7")
          .as("dow"))
      val byDow = ev.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cd"))
      val tot = ev.groupBy("event_type")
        .agg(count(lit(1)).as("nt"), sum(col("cents")).as("ct"))
      val spikes = ev.join(broadcast(byDow), Seq("event_type", "dow"))
        .filter(col("cents") * col("n") > lit(2) * col("cd"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_spikes"))
      byDow.join(broadcast(tot), Seq("event_type"))
        .join(spikes, Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("dow"), col("n"),
          round(d(col("cd")) / d(col("n")) / 100.0, 4).as("mean_val"),
          round((d(col("cd")) / d(col("n"))) /
            (d(col("ct")) / d(col("nt"))), 4).as("seasonal_index"),
          coalesce(col("n_spikes"), lit(0L)).as("n_spikes"))
        .orderBy("event_type", "dow")
    },
      """WITH ev AS (
           SELECT event_type, round(value * 100)::BIGINT AS cents,
             ((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS dow
           FROM events),
         bd AS (
           SELECT event_type, dow, count(*)::BIGINT AS n,
             sum(cents)::BIGINT AS cd
           FROM ev GROUP BY 1, 2),
         tt AS (
           SELECT event_type, count(*)::BIGINT AS nt,
             sum(cents)::BIGINT AS ct
           FROM ev GROUP BY 1),
         sp AS (
           SELECT ev.event_type, ev.dow, count(*)::BIGINT AS n_spikes
           FROM ev JOIN bd ON ev.event_type = bd.event_type
             AND ev.dow = bd.dow
           WHERE ev.cents * bd.n > 2 * bd.cd
           GROUP BY 1, 2)
         SELECT bd.event_type, bd.dow::BIGINT AS dow, bd.n,
           round(cd::DOUBLE / n::DOUBLE / 100.0, 4) AS mean_val,
           round((cd::DOUBLE / n::DOUBLE) / (ct::DOUBLE / nt::DOUBLE), 4)
             AS seasonal_index,
           coalesce(sp.n_spikes, 0)::BIGINT AS n_spikes
         FROM bd JOIN tt USING (event_type)
         LEFT JOIN sp ON bd.event_type = sp.event_type
           AND bd.dow = sp.dow
         ORDER BY bd.event_type, dow"""),

    // GAPS-AND-ISLANDS interval merge (coverage analysis over shipment
    // windows): per supplier, each lineitem covers
    // [shipdate, shipdate + (qty%7+1) days]; overlapping/touching
    // intervals merge into islands (new island ⟺ start > running max
    // end over the per-supplier date order). One window shuffle
    // partitioned by supplier + one aggregation — no self-join, no
    // interval cross product.
    QueryDef("q173_islands", (s, dir) => {
      val iv = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"),
          to_date(col("l_shipdate")).as("st"),
          date_add(to_date(col("l_shipdate")),
            pmod(col("l_quantity").cast("int"), lit(7)) + lit(1)).as("en"),
          col("l_orderkey"), col("l_linenumber"))
      val ord = Window.partitionBy("supp")
        .orderBy(col("st"), col("en"), col("l_orderkey"), col("l_linenumber"))
      val flagged = iv
        .withColumn("pmax", max(col("en")).over(
          ord.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("pmax").isNull || col("st") > col("pmax"), 1L)
            .otherwise(0L))
        .withColumn("isl", sum(col("brk")).over(
          ord.rowsBetween(Window.unboundedPreceding, 0)))
      val islands = flagged.groupBy(col("supp"), col("isl"))
        .agg(min(col("st")).as("ist"), max(col("en")).as("ien"),
          count(lit(1)).as("nv"))
      val gapped = islands.withColumn("pend", lag(col("ien"), 1).over(
        Window.partitionBy("supp").orderBy("isl")))
      gapped.groupBy("supp")
        .agg(count(lit(1)).as("n_islands"),
          sum(datediff(col("ien"), col("ist"))).as("covered_days"),
          max(datediff(col("ien"), col("ist"))).cast("long")
            .as("longest_island"),
          coalesce(max(datediff(col("ist"), col("pend"))), lit(0))
            .cast("long").as("max_gap"),
          max(col("nv")).as("busiest_island"))
        .orderBy("supp")
    },
      """WITH iv AS (
           SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS st,
             CAST(l_shipdate AS DATE)
               + to_days((CAST(l_quantity AS INT) % 7 + 1)) AS en,
             l_orderkey, l_linenumber
           FROM lineitem),
         f AS (
           SELECT *, max(en) OVER (PARTITION BY supp
               ORDER BY st, en, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM iv),
         g AS (
           SELECT *, CASE WHEN pmax IS NULL OR st > pmax
               THEN 1 ELSE 0 END AS brk
           FROM f),
         h AS (
           SELECT *, sum(brk) OVER (PARTITION BY supp
               ORDER BY st, en, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM g),
         isld AS (
           SELECT supp, isl, min(st) AS ist, max(en) AS ien,
             count(*)::BIGINT AS nv
           FROM h GROUP BY 1, 2),
         gp AS (
           SELECT *, lag(ien) OVER (PARTITION BY supp ORDER BY isl)
             AS pend
           FROM isld)
         SELECT supp, count(*)::BIGINT AS n_islands,
           sum(date_diff('day', ist, ien))::BIGINT AS covered_days,
           max(date_diff('day', ist, ien))::BIGINT AS longest_island,
           coalesce(max(date_diff('day', pend, ist)), 0)::BIGINT
             AS max_gap,
           max(nv)::BIGINT AS busiest_island
         FROM gp GROUP BY 1 ORDER BY 1"""),

    // AUTOCORRELATION FUNCTION of the daily-revenue series at lags 1–7
    // (the seasonality/persistence diagnostic behind forecast features):
    // the full-size table collapses to one row per calendar day FIRST
    // (bounded by the date span, not the data), so the lag windows and
    // Pearson terms run on a metadata-sized series. Moment sums are
    // DECIMAL(38,0)-exact; doubles appear only in the final fixed
    // formula.
    QueryDef("q175_acf", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents"))
      val wd = Window.orderBy("day")
      val lagged = daily.select(
        Seq(col("day"), col("cents")) ++
          (1 to 7).map(l => lag(col("cents"), l).over(wd).as(s"x$l")): _*)
      val pairs = lagged.selectExpr("cents",
        "stack(7, 1L,x1, 2L,x2, 3L,x3, 4L,x4, 5L,x5, 6L,x6, 7L,x7)" +
          " as (lg, x)")
        .filter(col("x").isNotNull)
        .select(col("lg"), col("cents").cast("decimal(19,0)").as("y"),
          col("x").cast("decimal(19,0)").as("x"))
      pairs.groupBy("lg")
        .agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lg"), col("n").cast("long").as("n_pairs"),
          (round((d(col("n") * col("sxy") - col("sx") * col("sy"))) /
            sqrt(d(col("n") * col("sxx") - col("sx") * col("sx")) *
              d(col("n") * col("syy") - col("sy") * col("sy"))), 4)
            + 0.0).as("acf"))
        .orderBy("lg")
    },
      """WITH daily AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         idx AS (
           SELECT cents, row_number() OVER (ORDER BY day) AS rn
           FROM daily),
         lagged AS (
           SELECT l.lg, a.cents AS x, b.cents AS y
           FROM (SELECT unnest(range(1, 8)) AS lg) l
           JOIN idx b ON true
           JOIN idx a ON a.rn = b.rn - l.lg),
         m AS (
           SELECT lg, count(*)::BIGINT AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
           FROM lagged GROUP BY 1)
         SELECT lg, n AS n_pairs,
           round((n * sxy - sx * sy)::DOUBLE /
             sqrt((n * sxx - sx * sx)::DOUBLE *
                  (n * syy - sy * sy)::DOUBLE), 4) + 0.0 AS acf
         FROM m ORDER BY lg"""),

    // TRUNCATED EWMA SMOOTHING of the per-type daily series (the
    // forecast-feature primitive): the event stream collapses to one
    // row per (type, day) FIRST — the series is bounded by the
    // calendar, not the data — then a 30-step exponential window
    // (α=0.25) runs as an index-range self-join on the tiny series.
    // Weights are fixed powers; both engines fold the weighted terms in
    // ascending sorted order (sorted_sum_d ≡ list_sum∘list_sort), so
    // the double summation is order-deterministic.
    QueryDef("q177_ewma", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .withColumn("t", row_number().over(
          Window.partitionBy("ty").orderBy("day")).cast("long"))
      val a = daily.select(col("ty"), col("day"), col("t"))
      val b = daily.select(col("ty").as("ty2"), col("t").as("j"),
        col("cents"))
      a.join(b, col("ty") === col("ty2") &&
          col("j").between(col("t") - 29, col("t")))
        .withColumn("w", pow(lit(0.75), (col("t") - col("j")).cast("double")))
        .groupBy(col("ty"), col("day"))
        .agg(count(lit(1)).as("n_window"),
          (round(ssum(collect_list(col("cents").cast("double") * col("w")))
            / ssum(collect_list(col("w"))) / 100.0, 4) + 0.0).as("ewma"))
        .select(col("ty"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_window"), col("ewma"))
        .orderBy("ty", "day")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents,
             row_number() OVER (PARTITION BY event_type
               ORDER BY CAST(ts AS DATE)) AS t
           FROM events GROUP BY 1, 2),
         j AS (
           SELECT a.ty, a.day, b.cents,
             power(0.75, (a.t - b.t)::DOUBLE) AS w
           FROM daily a JOIN daily b ON a.ty = b.ty
             AND b.t BETWEEN a.t - 29 AND a.t)
         SELECT ty, day::VARCHAR AS day, count(*)::BIGINT AS n_window,
           round(list_sum(list_sort(list(cents::DOUBLE * w)))
             / list_sum(list_sort(list(w))) / 100.0, 4) + 0.0 AS ewma
         FROM j GROUP BY ty, day ORDER BY ty, day"""),

    // MAXIMUM DRAWDOWN per user over a signed running P&L (risk
    // analytics on event streams): deltas are exact cents signed by
    // event-id parity; running sum, running peak, and drawdown are
    // three frames over ONE per-user window sort; the report row is
    // the argmax-drawdown row picked by a deterministic rank — one
    // shuffle total, no self-join, all arithmetic integer until the
    // final /100 display division.
    QueryDef("q178_drawdown", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"),
        (when(col("event_id") % 2 === 0, 1L).otherwise(-1L) *
          round(col("value") * 100, 0).cast("long")).as("delta"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, 0)
      val full = Window.partitionBy("user_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev.withColumn("cum", sum(col("delta")).over(run))
        .withColumn("peak", max(col("cum")).over(run))
        .withColumn("dd", col("peak") - col("cum"))
        .withColumn("final_cents", sum(col("delta")).over(full))
        .withColumn("n_events", count(lit(1)).over(full))
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("dd").desc, col("ts"), col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"),
          round(col("final_cents").cast("double") / 100.0, 2).as("final_pnl"),
          round(col("dd").cast("double") / 100.0, 2).as("max_drawdown"),
          date_format(col("ts"), "yyyy-MM-dd").as("trough_day"))
        .orderBy("user_id")
    },
      """WITH ev AS (
           SELECT user_id, ts, event_id,
             (CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END)
               * round(value * 100)::BIGINT AS delta
           FROM events),
         r AS (
           SELECT *,
             sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM ev),
         p AS (
           SELECT *,
             max(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
             sum(delta) OVER (PARTITION BY user_id) AS final_cents,
             count(*) OVER (PARTITION BY user_id) AS n_events
           FROM r),
         dd AS (
           SELECT *, (peak - cum) AS dd,
             row_number() OVER (PARTITION BY user_id
               ORDER BY (peak - cum) DESC, ts, event_id) AS rn
           FROM p)
         SELECT user_id, n_events::BIGINT AS n_events,
           round(final_cents::DOUBLE / 100.0, 2) AS final_pnl,
           round(dd::DOUBLE / 100.0, 2) AS max_drawdown,
           strftime(ts, '%Y-%m-%d') AS trough_day
         FROM dd WHERE rn = 1 ORDER BY user_id"""),

    // INTERVAL CONCURRENCY SWEEP (max overlap depth — the
    // resource-contention / room-booking primitive): each q173-style
    // shipment interval emits +1 at start and −1 past its end; netting
    // deltas PER DAY first makes the running depth independent of
    // same-day event order, so the sweep is one per-supplier window
    // over a day-grain frame. The peak day is picked by deterministic
    // rank. No pairwise overlap join — O(n) events, not O(n²) pairs.
    QueryDef("q186_overlap_depth", (s, dir) => {
      val iv = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"),
          to_date(col("l_shipdate")).as("st"),
          date_add(to_date(col("l_shipdate")),
            pmod(col("l_quantity").cast("int"), lit(7)) + lit(2)).as("en"))
      val deltas = iv.select(col("supp"), col("st").as("day"),
          lit(1L).as("d"))
        .unionAll(iv.select(col("supp"), col("en").as("day"),
          lit(-1L).as("d")))
      val byDay = deltas.groupBy("supp", "day")
        .agg(sum(col("d")).as("net"), sum(when(col("d") > 0, 1L)
          .otherwise(0L)).as("n_starts"))
      val depth = byDay.withColumn("depth", sum(col("net")).over(
        Window.partitionBy("supp").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)))
      depth
        .withColumn("n_intervals", sum(col("n_starts")).over(
          Window.partitionBy("supp").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("rn", row_number().over(Window.partitionBy("supp")
          .orderBy(col("depth").desc, col("day"))))
        .filter(col("rn") === 1)
        .select(col("supp"), col("n_intervals"),
          col("depth").as("max_concurrent"),
          date_format(col("day"), "yyyy-MM-dd").as("peak_day"))
        .orderBy("supp")
    },
      """WITH iv AS (
           SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS st,
             CAST(l_shipdate AS DATE)
               + to_days((CAST(l_quantity AS INT) % 7 + 2)) AS en
           FROM lineitem),
         ev AS (
           SELECT supp, st AS day, 1::BIGINT AS d FROM iv
           UNION ALL
           SELECT supp, en AS day, -1::BIGINT AS d FROM iv),
         byday AS (
           SELECT supp, day, sum(d)::BIGINT AS net,
             sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS n_starts
           FROM ev GROUP BY 1, 2),
         dep AS (
           SELECT supp, day, n_starts,
             sum(net) OVER (PARTITION BY supp ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS depth,
             sum(n_starts) OVER (PARTITION BY supp) AS n_intervals
           FROM byday),
         pk AS (
           SELECT *, row_number() OVER (PARTITION BY supp
               ORDER BY depth DESC, day) AS rn
           FROM dep)
         SELECT supp, n_intervals::BIGINT AS n_intervals,
           depth::BIGINT AS max_concurrent,
           strftime(day, '%Y-%m-%d') AS peak_day
         FROM pk WHERE rn = 1 ORDER BY supp"""),

    // DATE-SPINE DENSIFICATION (zero-filled weekly series — the gap
    // every BI tool trips on): integer ISO-ish week ids (days since a
    // known Monday div 7 — engine-neutral), a generated flag × week
    // spine (metadata-sized cross of two tiny frames), left join +
    // zero-fill, and week-over-week deltas that are CORRECT across
    // gaps because the spine has no holes.
    QueryDef("q188_date_spine", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("datediff(to_date(l_shipdate), date'1970-01-05') div 7")
            .as("wk"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      val weekly = li.groupBy("flag", "wk")
        .agg(sum(col("cents")).as("cents"))
      val span = weekly.agg(min(col("wk")).as("w0"), max(col("wk")).as("w1"))
      val spine = weekly.select("flag").distinct()
        .crossJoin(broadcast(span))
        .select(col("flag"), explode(sequence(col("w0"), col("w1")))
          .as("wk"))
      spine.join(weekly, Seq("flag", "wk"), "left")
        .withColumn("cents", coalesce(col("cents"), lit(0L)))
        .withColumn("prev", lag(col("cents"), 1).over(
          Window.partitionBy("flag").orderBy("wk")))
        .select(col("flag"), col("wk"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"),
          (col("cents") === 0).as("is_gap"),
          round((col("cents") - coalesce(col("prev"), lit(0L)))
            .cast("double") / 100.0, 2).as("wow_delta"))
        .orderBy("flag", "wk")
    },
      """WITH li AS (
           SELECT l_returnflag AS flag,
             (CAST(l_shipdate AS DATE) - DATE '1970-01-05') // 7 AS wk,
             round(l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem),
         weekly AS (
           SELECT flag, wk, sum(cents)::BIGINT AS cents
           FROM li GROUP BY 1, 2),
         span AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM weekly),
         spine AS (
           SELECT f.flag, unnest(generate_series(w0, w1)) AS wk
           FROM (SELECT DISTINCT flag FROM weekly) f
           CROSS JOIN span),
         z AS (
           SELECT sp.flag, sp.wk, coalesce(w.cents, 0)::BIGINT AS cents
           FROM spine sp LEFT JOIN weekly w
             ON sp.flag = w.flag AND sp.wk = w.wk),
         lg AS (
           SELECT *, lag(cents) OVER (PARTITION BY flag ORDER BY wk)
             AS prev
           FROM z)
         SELECT flag, wk::BIGINT AS wk,
           round(cents::DOUBLE / 100.0, 2) AS revenue,
           (cents = 0) AS is_gap,
           round((cents - coalesce(prev, 0))::DOUBLE / 100.0, 2)
             AS wow_delta
         FROM lg ORDER BY flag, wk"""),

    // LINEAR-INTERPOLATION GAP FILL (time-series imputation): a
    // simulated sensor dropout (every 5th day nulled) is repaired with
    // LOCF / NOCB carries and distance-weighted linear interpolation —
    // four IGNORE-NULLS window carries over ONE per-type day-grain
    // sort; edge gaps fall back to the nearest observation. The
    // interpolated value is exact rational arithmetic over integer
    // cents and day indices (divisions happen once, at display).
    QueryDef("q192_interpolate", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("c0"))
        .withColumn("t",
          expr("datediff(day, date'1970-01-05')").cast("long"))
        .withColumn("v", when(col("t") % 5 === 0,
          lit(null).cast("long")).otherwise(col("c0")))
      val ord = Window.partitionBy("ty").orderBy("t")
      val back = ord.rowsBetween(Window.unboundedPreceding, 0)
      val fwd = ord.rowsBetween(0, Window.unboundedFollowing)
      daily
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pt", last(when(col("v").isNotNull, col("t")),
          ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nt", first(when(col("v").isNotNull, col("t")),
          ignoreNulls = true).over(fwd))
        .withColumn("fill",
          when(col("v").isNotNull, col("v").cast("double"))
            .when(col("pv").isNull, col("nv").cast("double"))
            .when(col("nv").isNull, col("pv").cast("double"))
            .otherwise(col("pv") + (col("nv") - col("pv")).cast("double")
              * (col("t") - col("pt")) / (col("nt") - col("pt"))))
        .select(col("ty"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("v").isNull.as("was_gap"),
          round(col("fill") / 100.0, 4).as("value"))
        .orderBy("ty", "day")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS c0,
             (CAST(ts AS DATE) - DATE '1970-01-05')::BIGINT AS t
           FROM events GROUP BY 1, 2, 4),
         sp AS (
           SELECT *, CASE WHEN t % 5 = 0 THEN NULL ELSE c0 END AS v
           FROM daily),
         f AS (
           SELECT *,
             last_value(v IGNORE NULLS) OVER (PARTITION BY ty ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY ty ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(v IGNORE NULLS) OVER (PARTITION BY ty ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY ty ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           FROM sp),
         o AS (
           SELECT ty, day, (v IS NULL) AS was_gap,
             CASE WHEN v IS NOT NULL THEN v::DOUBLE
               WHEN pv IS NULL THEN nv::DOUBLE
               WHEN nv IS NULL THEN pv::DOUBLE
               ELSE pv + (nv - pv)::DOUBLE * (t - pt) / (nt - pt)
             END AS fill
           FROM f)
         SELECT ty, day::VARCHAR AS day, was_gap,
           round(fill / 100.0, 4) AS value
         FROM o ORDER BY ty, day"""),

    // ROLLING EXACT MEDIAN (centered 31-day window — the robust
    // smoother a rolling mean can't be): the stream collapses to the
    // calendar-bounded day grain FIRST, then each frame's values are
    // collected IN FRAME ORDER, sorted, and indexed — exact integer
    // cents, no sketch, frame size capped at 31. One window shuffle
    // over the day-grain series.
    QueryDef("q206_rolling_median", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val frame = Window.partitionBy("ty").orderBy("day")
        .rowsBetween(-15, 15)
      daily.withColumn("arr", array_sort(collect_list(col("cents"))
          .over(frame)))
        .select(col("ty"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          size(col("arr")).cast("long").as("n_window"),
          round(element_at(col("arr"),
            ((size(col("arr")) + lit(1)) / lit(2)).cast("int"))
            .cast("double") / 100.0, 2).as("rolling_median"))
        .orderBy("ty", "day")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents
           FROM events GROUP BY 1, 2),
         f AS (
           SELECT ty, day,
             list_sort(list(cents) OVER (PARTITION BY ty ORDER BY day
               ROWS BETWEEN 15 PRECEDING AND 15 FOLLOWING)) AS arr
           FROM daily)
         SELECT ty, day::VARCHAR AS day,
           len(arr)::BIGINT AS n_window,
           round(arr[(len(arr) + 1) // 2]::DOUBLE / 100.0, 2)
             AS rolling_median
         FROM f ORDER BY ty, day"""),

    // HAAR MULTI-RESOLUTION PYRAMID (approximation + detail at 2/4/8/
    // 16-day scales — the downsampling layer of a time-series store):
    // absolute-day buckets t÷2ᴸ, approximation = bucket mean, detail =
    // half-means difference via conditional integer sums — the whole
    // pyramid is one 4× explode of the day-grain series + one
    // aggregation; every coefficient is exact until display division.
    QueryDef("q207_haar_pyramid", (s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(expr("datediff(to_date(l_shipdate), date'1970-01-05')")
          .cast("long").as("t"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents"))
      val lv = daily.select(col("t"), col("cents"),
        explode(sequence(lit(1), lit(4))).as("lvl"))
        .withColumn("bucket", expr("t div shiftleft(1, lvl)"))
        .withColumn("half", expr("(t div shiftleft(1, lvl - 1)) % 2"))
      lv.groupBy("lvl", "bucket")
        .agg(count(lit(1)).as("n_days"),
          sum(col("cents")).as("sc"),
          sum(when(col("half") === 0, col("cents"))).as("s0"),
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("half") === 1, col("cents"))).as("s1"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"))
        // integer-cent outputs via floor(x+0.5): bucket sizes are
        // powers of two, so the means land EXACTLY on .xx5 constantly
        // and round()'s tie-breaking differs between engines; floor of
        // an identically-computed double is bit-deterministic
        .select(col("lvl"), col("bucket"), col("n_days"),
          floor(col("sc").cast("double") / col("n_days") + 0.5)
            .cast("long").as("approx_cents"),
          floor(when(col("n0") > 0,
            col("s0").cast("double") / col("n0")).otherwise(lit(0.0))
            - when(col("n1") > 0,
              col("s1").cast("double") / col("n1")).otherwise(lit(0.0))
            + 0.5).cast("long").as("detail_cents"))
        .orderBy("lvl", "bucket")
    },
      """WITH daily AS (
           SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-05')::BIGINT
               AS t,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         lv AS (
           SELECT t, cents, l.range AS lvl,
             t // (1 << l.range) AS bucket,
             (t // (1 << (l.range - 1))) % 2 AS half
           FROM daily CROSS JOIN range(1, 5) l),
         a AS (
           SELECT lvl, bucket, count(*)::BIGINT AS n_days,
             sum(cents)::BIGINT AS sc,
             sum(CASE WHEN half = 0 THEN cents END)::BIGINT AS s0,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
             sum(CASE WHEN half = 1 THEN cents END)::BIGINT AS s1,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
           FROM lv GROUP BY 1, 2)
         SELECT lvl::BIGINT AS lvl, bucket, n_days,
           floor(sc::DOUBLE / n_days + 0.5)::BIGINT AS approx_cents,
           floor((CASE WHEN n0 > 0 THEN s0::DOUBLE / n0 ELSE 0.0 END
             - CASE WHEN n1 > 0 THEN s1::DOUBLE / n1 ELSE 0.0 END)
             + 0.5)::BIGINT AS detail_cents
         FROM a ORDER BY lvl, bucket"""),

    // THEIL–SEN ROBUST SLOPE (median of pairwise slopes — the trend
    // estimator outliers can't drag): the table collapses to the
    // calendar-bounded daily series FIRST, so the pairwise stage is
    // a BROADCAST day×day pair build (day grain is metadata-sized at
    // any SF — never the fact table). The median slope is picked by
    // deterministic rank; the OLS slope from exact moments rides along
    // for contrast.
    QueryDef("q211_theil_sen", (s, dir) => {
      // day-grain frame checkpointed: it feeds the pair build (twice),
      // the pair count, and the OLS moments — without it the full
      // lineitem aggregation re-runs ~5x (measured 4.3 s -> the fix)
      val daily = graft.ops.Caches.small(t(s, dir, "lineitem")
        .groupBy(expr("datediff(to_date(l_shipdate), date'1970-01-05')")
          .cast("long").as("tt"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents")))
      val pairs = daily.join(broadcast(daily
          .select(col("tt").as("t2"), col("cents").as("c2"))),
          col("t2") > col("tt"))
        .select(((col("c2") - col("cents")).cast("double") /
          (col("t2") - col("tt")).cast("double")).as("slope"))
      // exact median SLOPE by bracketed selection (Selection.kthValue):
      // the r13 form ranked the full pair frame with one global window —
      // justified then as calendar-bounded, but still a single-task sort
      // of days²/2 rows (3.1M at sf0.1, measured ~2.5 s of the query).
      // Only the median VALUE is needed (row_number's (tt,t2) tiebreak
      // picked a row, but tied rows share the slope the output rounds),
      // so selection replaces the sort with two map-side passes over the
      // broadcast-generated pairs — no shuffle of the pair frame at all.
      val sel = graft.ops.Selection.medianValue(pairs, col("slope"))
      val ols = daily.agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(col("tt").cast("decimal(19,0)")).as("sx"),
          sum(col("cents").cast("decimal(19,0)")).as("sy"),
          sum(col("tt").cast("decimal(19,0)") * col("cents")).as("sxy"),
          sum(col("tt").cast("decimal(19,0)") * col("tt")).as("sxx"))
        .select(round((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          6).as("ols_slope"))
      sel.crossJoin(broadcast(ols))
        .select(col("n").as("n_pairs"),
          round(col("kth"), 6).as("theil_sen_slope"),
          col("ols_slope"))
    },
      """WITH daily AS (
           SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-05')::BIGINT
               AS tt,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         pairs AS (
           SELECT a.tt, b.tt AS t2,
             (b.cents - a.cents)::DOUBLE / (b.tt - a.tt)::DOUBLE
               AS slope
           FROM daily a JOIN daily b ON b.tt > a.tt),
         r AS (
           SELECT *, row_number() OVER (ORDER BY slope, tt, t2) AS rk,
             count(*) OVER () AS np
           FROM pairs),
         ols AS (
           SELECT round(
             (count(*) * sum(tt * cents) - sum(tt) * sum(cents))::DOUBLE
             / (count(*) * sum(tt * tt) - sum(tt) * sum(tt))::DOUBLE, 6)
             AS ols_slope
           FROM daily)
         SELECT np::BIGINT AS n_pairs, round(slope, 6)
             AS theil_sen_slope, ols_slope
         FROM r CROSS JOIN ols WHERE rk = (np + 1) // 2"""),

    // SEASONAL-NAIVE BACKTEST (forecast f(t)=y(t−7), scored with
    // MAPE/sMAPE/bias over the final 28 days — the baseline every
    // forecasting pipeline must beat): the forecast is an equi-join of
    // the day-grain series against itself shifted 7 calendar days —
    // no window over the fact table, exact integer actuals, error
    // folds sorted. One groupBy + one self-join on the tiny series.
    QueryDef("q213_backtest_mape", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val horizon = daily.agg(date_sub(max(col("day")), 27).as("h0"))
      val f = daily.select(col("ty"), date_add(col("day"), 7).as("day"),
        col("cents").as("fc"))
      daily.join(f, Seq("ty", "day"))
        .crossJoin(broadcast(horizon))
        .filter(col("day") >= col("h0"))
        .groupBy("ty")
        .agg(count(lit(1)).as("n_eval"),
          round(ssum(collect_list(
            abs(col("cents") - col("fc")).cast("double") / col("cents")))
            / count(lit(1)), 6).as("mape"),
          round(ssum(collect_list(
            lit(2.0) * abs(col("cents") - col("fc")).cast("double") /
              (col("cents") + col("fc")))) / count(lit(1)), 6)
            .as("smape"),
          sum(col("fc") - col("cents")).as("bias_cents"))
        .orderBy("ty")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents
           FROM events GROUP BY 1, 2),
         hz AS (SELECT max(day) - 27 AS h0 FROM daily),
         f AS (
           SELECT ty, day + 7 AS day, cents AS fc FROM daily),
         j AS (
           SELECT d.ty, d.day, d.cents, f.fc
           FROM daily d JOIN f ON d.ty = f.ty AND d.day = f.day
           CROSS JOIN hz WHERE d.day >= h0)
         SELECT ty, count(*)::BIGINT AS n_eval,
           round(list_sum(list_sort(list(
             abs(cents - fc)::DOUBLE / cents))) / count(*), 6) AS mape,
           round(list_sum(list_sort(list(
             2.0 * abs(cents - fc)::DOUBLE / (cents + fc))))
             / count(*), 6) AS smape,
           sum(fc - cents)::BIGINT AS bias_cents
         FROM j GROUP BY 1 ORDER BY 1"""),

    // LEAD-LAG CROSS-CORRELATION (which series moves first — the
    // click→purchase latency discovery): zero-filled daily click and
    // purchase counts on a shared spine, CCF at lags −7..+7 via
    // calendar-shifted equi-joins, Pearson terms from exact integer
    // moments. The whole computation runs on the metadata-sized day
    // grain; the best lag is a deterministic rank pick.
    QueryDef("q215_lead_lag", (s, dir) => {
      val ev = events(s, dir)
      val byDay = (tpe: String, name: String) => ev
        .filter(col("event_type") === tpe)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as(name))
      val span = ev.agg(to_date(min(col("ts"))).as("d0"),
        to_date(max(col("ts"))).as("d1"))
      val spine = span.select(explode(expr(
        "sequence(d0, d1, interval 1 day)")).as("day"))
      val base = spine
        .join(byDay("click", "x"), Seq("day"), "left")
        .join(byDay("purchase", "y"), Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
      val lags = base.select(col("day"), col("x"),
        explode(sequence(lit(-7), lit(7))).as("lg"))
      val joined = lags.join(base.select(
          col("day").as("dy"), col("y")),
          col("dy") === expr("date_add(day, lg)"))
        .select(col("lg").cast("long").as("lg"),
          col("x").cast("decimal(19,0)").as("x"),
          col("y").cast("decimal(19,0)").as("y"))
      val m = joined.groupBy("lg")
        .agg(count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lg"), col("n").cast("long").as("n_days"),
          (round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")), 4) + 0.0).as("ccf"))
      m.withColumn("best", row_number().over(
          Window.orderBy(col("ccf").desc, col("lg"))) === 1)
        .orderBy("lg")
    },
      """WITH ev AS (
           SELECT event_type, CAST(ts AS DATE) AS day FROM events),
         sp AS (
           SELECT unnest(generate_series(min(day), max(day),
             INTERVAL 1 DAY))::DATE AS day
           FROM ev),
         cx AS (
           SELECT day, count(*)::BIGINT AS x FROM ev
           WHERE event_type = 'click' GROUP BY 1),
         py AS (
           SELECT day, count(*)::BIGINT AS y FROM ev
           WHERE event_type = 'purchase' GROUP BY 1),
         base AS (
           SELECT sp.day, coalesce(cx.x, 0) AS x, coalesce(py.y, 0) AS y
           FROM sp LEFT JOIN cx USING (day) LEFT JOIN py USING (day)),
         lagged AS (
           SELECT l.range AS lg, a.x, b.y
           FROM base a
           CROSS JOIN range(-7, 8) l
           JOIN base b ON b.day = a.day + to_days(l.range::INT)),
         m AS (
           SELECT lg, count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
           FROM lagged GROUP BY 1),
         cc AS (
           SELECT lg::BIGINT AS lg, n AS n_days,
             round((n * sxy - sx * sy)::DOUBLE /
               sqrt((n * sxx - sx * sx)::DOUBLE *
                 (n * syy - sy * sy)::DOUBLE), 4) + 0.0 AS ccf
           FROM m)
         SELECT lg, n_days, ccf,
           (row_number() OVER (ORDER BY ccf DESC, lg) = 1) AS best
         FROM cc ORDER BY lg"""),

    // MANN–KENDALL TREND TEST (the non-parametric "is there a trend at
    // all" companion to q211's Theil–Sen slope): S = Σ sign(y_j − y_i)
    // over day pairs — an EXACT integer statistic on the calendar-
    // bounded series (broadcast pair build); variance with tie
    // correction, z with the ±1 continuity adjustment. Doubles appear
    // only in the final z.
    QueryDef("q225_mann_kendall", (s, dir) => {
      // day-grain frame checkpointed — referenced 4x downstream (pair
      // build twice, tie table, day count); see q211/q226
      val daily = graft.ops.Caches.small(t(s, dir, "lineitem")
        .groupBy(expr("datediff(to_date(l_shipdate), date'1970-01-05')")
          .cast("long").as("tt"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents")))
      val pairs = daily.join(broadcast(daily
          .select(col("tt").as("t2"), col("cents").as("c2"))),
          col("t2") > col("tt"))
        .select(signum(col("c2") - col("cents")).cast("long").as("sgn"))
      val sstat = pairs.agg(sum(col("sgn")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
      val ties = daily.groupBy("cents").agg(count(lit(1)).as("tj"))
        .agg(sum(expr("tj * (tj - 1) * (2 * tj + 5)")).as("tie_corr"))
      val n = daily.agg(count(lit(1)).as("n"))
      sstat.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
        .withColumn("vars",
          (expr("n * (n - 1) * (2 * n + 5)") - col("tie_corr"))
            .cast("double") / 18.0)
        .withColumn("z",
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(col("vars")))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast("double") / sqrt(col("vars")))
            .otherwise(lit(0.0)))
        .select(col("n").as("n_days"), col("n_pairs"), col("s_stat"),
          round(col("vars"), 2).as("var_s"), round(col("z"), 4).as("z"),
          (abs(col("z")) > 1.96).as("significant"))
    },
      """WITH daily AS (
           SELECT (CAST(l_shipdate AS DATE) - DATE '1970-01-05')::BIGINT
               AS tt,
             sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
           FROM lineitem GROUP BY 1),
         prs AS (
           SELECT sign(b.cents - a.cents)::BIGINT AS sgn
           FROM daily a JOIN daily b ON b.tt > a.tt),
         st AS (
           SELECT sum(sgn)::BIGINT AS s_stat,
             count(*)::BIGINT AS n_pairs
           FROM prs),
         ties AS (
           SELECT sum(tj * (tj - 1) * (2 * tj + 5))::BIGINT AS tie_corr
           FROM (SELECT count(*)::BIGINT AS tj FROM daily
                 GROUP BY cents)),
         nn AS (SELECT count(*)::BIGINT AS n FROM daily),
         v AS (
           SELECT s_stat, n_pairs, n,
             (n * (n - 1) * (2 * n + 5) - tie_corr)::DOUBLE / 18.0
               AS vars
           FROM st CROSS JOIN nn CROSS JOIN ties)
         SELECT n AS n_days, n_pairs, s_stat,
           round(vars, 2) AS var_s,
           round(CASE WHEN s_stat > 0
               THEN (s_stat - 1)::DOUBLE / sqrt(vars)
             WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(vars)
             ELSE 0.0 END, 4) AS z,
           (abs(CASE WHEN s_stat > 0
               THEN (s_stat - 1)::DOUBLE / sqrt(vars)
             WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(vars)
             ELSE 0.0 END) > 1.96) AS significant
         FROM v"""),

    // VALUE-AT-RISK + EXPECTED SHORTFALL (the tail-risk pair — CVaR is
    // coherent, VaR alone is not): per-type signed daily P&L (q178's
    // parity deltas at day grain), the k = ⌈0.05n⌉ worst days picked by
    // ONE rank window; VaR95 is the k-th worst exactly, CVaR95 the
    // exact integer mean of the tail. No percentile sketch; doubles
    // only at display.
    QueryDef("q227_var_cvar", (s, dir) => {
      val pnl = events(s, dir)
        .select(col("event_type").as("ty"), to_date(col("ts")).as("day"),
          (when(col("event_id") % 2 === 0, 1L).otherwise(-1L) *
            round(col("value") * 100, 0).cast("long")).as("delta"))
        .groupBy("ty", "day").agg(sum(col("delta")).as("d"))
      val full = Window.partitionBy("ty")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      pnl.withColumn("n", count(lit(1)).over(full))
        .withColumn("rk", row_number().over(Window.partitionBy("ty")
          .orderBy(col("d"), col("day"))))
        .withColumn("k", expr("(n + 19) div 20"))
        .filter(col("rk") <= col("k"))
        .groupBy("ty")
        .agg(max(col("n")).as("n_days"), max(col("k")).as("k_tail"),
          (-max(col("d"))).as("var95_cents"),
          // integer cents via floor(x+0.5): mean of k integers lands
          // exactly on .5 whenever k=2 — round()'s tie zone
          floor(-(sum(col("d")).cast("double") / count(lit(1))) + 0.5)
            .cast("long").as("cvar95_cents"),
          date_format(min(struct(col("d"), col("day")))("day"),
            "yyyy-MM-dd").as("worst_day"))
        .orderBy("ty")
    },
      """WITH pnl AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum((CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END)
               * round(value * 100)::BIGINT)::BIGINT AS d
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT *, count(*) OVER (PARTITION BY ty) AS n,
             row_number() OVER (PARTITION BY ty ORDER BY d, day) AS rk
           FROM pnl),
         k AS (SELECT *, (n + 19) // 20 AS k FROM r)
         SELECT ty, max(n)::BIGINT AS n_days, max(k)::BIGINT AS k_tail,
           (-max(d))::BIGINT AS var95_cents,
           floor(-(sum(d)::DOUBLE / count(*)) + 0.5)::BIGINT
             AS cvar95_cents,
           max(CASE WHEN rk = 1 THEN strftime(day, '%Y-%m-%d') END)
             AS worst_day
         FROM k WHERE rk <= k GROUP BY 1 ORDER BY 1"""),

    // SLA ERROR-BUDGET BURN-DOWN (SRE's 30-day rolling error rate vs a
    // 1% budget): day-grain error/total counts, a 30-row rolling frame
    // over the calendar-bounded series, burn = errors/(budget·total)
    // by integer cross-multiplication until the display division; the
    // breach flag never touches a float.
    QueryDef("q240_error_budget", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("e"))
      val w = Window.orderBy("day").rowsBetween(-29, 0)
      daily.withColumn("n30", sum(col("n")).over(w))
        .withColumn("e30", sum(col("e")).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n30"), col("e30"),
          round(col("e30").cast("double") * 100.0 / col("n30"), 4)
            .as("err_pct"),
          (col("e30") * 100 > col("n30")).as("over_budget"))
        .orderBy("day")
    },
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               ::BIGINT AS e
           FROM events GROUP BY 1),
         r AS (
           SELECT day,
             sum(n) OVER (ORDER BY day
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS n30,
             sum(e) OVER (ORDER BY day
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS e30
           FROM daily)
         SELECT day::VARCHAR AS day, n30::BIGINT AS n30,
           e30::BIGINT AS e30,
           round(e30::DOUBLE * 100.0 / n30, 4) AS err_pct,
           (e30 * 100 > n30) AS over_budget
         FROM r ORDER BY day"""),

    // ADDITIVE DECOMPOSITION (trend + day-of-week seasonal + residual
    // — STL-lite with deterministic components): trend = centered
    // 7-day moving average over the day grain; seasonal = mean
    // detrended value per dow (sorted folds); residual closes the sum
    // exactly. The gate carries per-component variance shares so a
    // wrong component shifts hashed numbers, not just shape.
    QueryDef("q251_decomposition", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .withColumn("dow",
          expr("(datediff(day, date'1970-01-05') % 7 + 7) % 7"))
      val wtr = Window.orderBy("day").rowsBetween(-3, 3)
      // trend BEFORE the edge filter — filtering first would shift the
      // ±3 frame of rows adjacent to the removed edges
      val trended = daily
        .withColumn("nw", count(lit(1)).over(wtr))
        .withColumn("trend", sum(col("cents")).over(wtr)
          .cast("double") / 7.0)
        .filter(col("nw") === 7)
        .withColumn("detr", col("cents") - col("trend"))
      val seas = trended.groupBy("dow")
        .agg((ssum(collect_list(col("detr"))) / count(lit(1)))
          .as("seasonal"))
      val dec = trended.join(broadcast(seas), Seq("dow"))
        .withColumn("resid", col("detr") - col("seasonal"))
      dec.groupBy("dow")
        .agg(count(lit(1)).as("n_days"),
          round(max(col("seasonal")) / 100.0, 4).as("seasonal"),
          round(ssum(collect_list(col("resid") * col("resid")))
            / count(lit(1)) / 10000.0, 2).as("resid_var"),
          round(ssum(collect_list(abs(col("resid"))))
            / count(lit(1)) / 100.0, 4).as("resid_mad"))
        .orderBy("dow")
    },
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents,
             ((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7
               AS dow
           FROM events GROUP BY 1, 3),
         tr AS (
           SELECT *,
             count(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw,
             sum(cents) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)::DOUBLE / 7.0
               AS trend
           FROM daily),
         det AS (
           SELECT *, cents - trend AS detr FROM tr WHERE nw = 7),
         seas AS (
           SELECT dow,
             list_sum(list_sort(list(detr))) / count(*) AS seasonal
           FROM det GROUP BY 1),
         dec AS (
           SELECT det.*, seasonal, detr - seasonal AS resid
           FROM det JOIN seas USING (dow))
         SELECT dow::BIGINT AS dow, count(*)::BIGINT AS n_days,
           round(max(seasonal) / 100.0, 4) AS seasonal,
           round(list_sum(list_sort(list(resid * resid)))
             / count(*) / 10000.0, 2) AS resid_var,
           round(list_sum(list_sort(list(abs(resid))))
             / count(*) / 100.0, 4) AS resid_mad
         FROM dec GROUP BY 1 ORDER BY 1"""),

    // PERCENTILE-OF-LATEST (the "is today normal?" monitor: where the
    // most recent daily value ranks against its own 90-day history):
    // exact integer comparisons on the day-grain series — latest value
    // per type picked by rank, percentile = count(history ≤ latest)/n.
    // No percentile sketch, no sort beyond the day grain.
    QueryDef("q263_percentile_of_latest", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val latest = daily.withColumn("rn", row_number().over(
          Window.partitionBy("ty").orderBy(col("day").desc)))
        .filter(col("rn") === 1)
        .select(col("ty"), col("day").as("lday"),
          col("cents").as("lcents"))
      val hist = daily.join(latest, Seq("ty"))
        .filter(col("day") < col("lday") &&
          col("day") >= date_sub(col("lday"), 90))
      hist.groupBy("ty")
        .agg(count(lit(1)).as("n_hist"),
          max(col("lcents")).as("latest_cents"),
          sum(when(col("cents") <= col("lcents"), 1L).otherwise(0L))
            .as("n_below"))
        .withColumn("pctile", round(col("n_below").cast("double") /
          col("n_hist"), 4))
        .withColumn("alert", col("n_below") * 20 >= col("n_hist") * 19
          || col("n_below") * 20 <= col("n_hist"))
        .orderBy("ty")
    },
      """WITH daily AS (
           SELECT event_type AS ty, CAST(ts AS DATE) AS day,
             sum(round(value * 100)::BIGINT)::BIGINT AS cents
           FROM events GROUP BY 1, 2),
         latest AS (
           SELECT ty, day AS lday, cents AS lcents FROM (
             SELECT *, row_number() OVER (PARTITION BY ty
               ORDER BY day DESC) AS rn
             FROM daily)
           WHERE rn = 1),
         hist AS (
           SELECT d.ty, d.cents, l.lcents
           FROM daily d JOIN latest l ON d.ty = l.ty
           WHERE d.day < l.lday AND d.day >= l.lday - 90)
         SELECT ty, count(*)::BIGINT AS n_hist,
           max(lcents)::BIGINT AS latest_cents,
           sum(CASE WHEN cents <= lcents THEN 1 ELSE 0 END)::BIGINT
             AS n_below,
           round(sum(CASE WHEN cents <= lcents THEN 1 ELSE 0 END)
             ::DOUBLE / count(*), 4) AS pctile,
           (sum(CASE WHEN cents <= lcents THEN 1 ELSE 0 END) * 20
               >= count(*) * 19
             OR sum(CASE WHEN cents <= lcents THEN 1 ELSE 0 END) * 20
               <= count(*)) AS alert
         FROM hist GROUP BY 1 ORDER BY 1"""),

    // THRESHOLD-CROSSING FORECAST (when does the trend line hit the
    // ceiling — the capacity-planning "days of headroom" number):
    // q211's exact-moment OLS over the day grain, crossing day =
    // (threshold − intercept)/slope in closed form, gated alongside
    // the fitted line's endpoints. Metadata-sized all the way.
    QueryDef("q272_threshold_crossing", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .select(expr("datediff(day, date'1970-01-05')").cast("long")
          .as("tt"), col("n"))
      val m = daily.agg(count(lit(1)).cast("decimal(19,0)").as("k"),
        sum(col("tt").cast("decimal(19,0)")).as("sx"),
        sum(col("n").cast("decimal(19,0)")).as("sy"),
        sum(col("tt").cast("decimal(19,0)") * col("n")).as("sxy"),
        sum(col("tt").cast("decimal(19,0)") * col("tt")).as("sxx"),
        max(col("tt")).as("tmax"))
      m.withColumn("slope", d(col("k") * col("sxy") -
          col("sx") * col("sy")) /
          d(col("k") * col("sxx") - col("sx") * col("sx")))
        .withColumn("intercept",
          (d(col("sy")) - col("slope") * d(col("sx"))) / d(col("k")))
        .withColumn("threshold", d(col("sy")) / d(col("k")) * 1.5)
        .withColumn("cross_t",
          (col("threshold") - col("intercept")) / col("slope"))
        .select(col("k").cast("long").as("n_days"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 4).as("intercept"),
          round(col("threshold"), 4).as("threshold"),
          round(col("cross_t") - col("tmax"), 2)
            .as("days_to_threshold"),
          (col("slope") > 0).as("growing"))
    },
      """WITH daily AS (
           SELECT (CAST(ts AS DATE) - DATE '1970-01-05')::BIGINT AS tt,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1),
         m AS (
           SELECT count(*)::BIGINT AS k, sum(tt) AS sx, sum(n) AS sy,
             sum(tt * n) AS sxy, sum(tt * tt) AS sxx,
             max(tt)::BIGINT AS tmax
           FROM daily),
         f AS (
           SELECT *,
             (k * sxy - sx * sy)::DOUBLE
               / (k * sxx - sx * sx)::DOUBLE AS slope
           FROM m),
         g AS (
           SELECT *,
             (sy::DOUBLE - slope * sx::DOUBLE) / k::DOUBLE
               AS intercept,
             sy::DOUBLE / k::DOUBLE * 1.5 AS threshold
           FROM f)
         SELECT k AS n_days, round(slope, 6) AS slope,
           round(intercept, 4) AS intercept,
           round(threshold, 4) AS threshold,
           round((threshold - intercept) / slope - tmax, 2)
             AS days_to_threshold,
           (slope > 0) AS growing
         FROM g"""),

    // DISTRIBUTION-DRIFT MONITOR: per-day KL divergence of the
    // event-type mix against the corpus-wide mix — the composition-
    // drift alarm a training-data pipeline runs on every ingest day
    // ("this day's traffic mix changed"). Exact counts at the
    // (day, type) grain; the per-day KL folds via the sorted-sum
    // aggregator over the observed support (absent types contribute
    // no term). Day grain stays metadata-sized at any corpus scale.
    QueryDef("q276_daily_kl_drift", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val dt = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"),
          col("event_type").as("ty"))
        .agg(count(lit(1)).as("n"))
      val byTy = dt.groupBy("ty").agg(sum(col("n")).as("nt"))
      val tot = byTy.agg(sum(col("nt")).as("nn"))
      dt.join(broadcast(byTy), Seq("ty"))
        .crossJoin(broadcast(tot))
        .withColumn("nd", sum(col("n")).over(Window.partitionBy("day")))
        .withColumn("term", d(col("n")) / col("nd") *
          log((d(col("n")) / col("nd")) / (d(col("nt")) / col("nn"))))
        .groupBy("day")
        .agg(max(col("nd")).as("n_events"),
          count(lit(1)).as("n_types"),
          ssum(collect_list(col("term"))).as("kl"))
        .select(col("day").cast("string").as("day"), col("n_events"),
          col("n_types"), round(col("kl"), 6).as("kl"))
        .orderBy("day")
    },
      """WITH dt AS (
           SELECT CAST(ts AS DATE) AS day, event_type AS ty,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         bt AS (SELECT ty, sum(n)::BIGINT AS nt FROM dt GROUP BY 1),
         tot AS (SELECT sum(nt)::BIGINT AS nn FROM bt),
         j AS (
           SELECT dt.day, dt.n, bt.nt, tot.nn,
             sum(dt.n) OVER (PARTITION BY dt.day)::BIGINT AS nd
           FROM dt JOIN bt USING (ty) CROSS JOIN tot),
         k AS (
           SELECT day, max(nd)::BIGINT AS n_events,
             count(*)::BIGINT AS n_types,
             list_sum(list_sort(list(n::DOUBLE / nd
               * ln((n::DOUBLE / nd) / (nt::DOUBLE / nn))))) AS kl
           FROM j GROUP BY 1)
         SELECT day::VARCHAR AS day, n_events, n_types,
           round(kl, 6) AS kl
         FROM k ORDER BY day"""),

    // EWMA ERROR-RATE ANOMALY (the ops-alerting smoother): per day,
    // the normalized exponentially-weighted moving average of daily
    // error counts (α=0.3 → weights 0.7^k, normalized so no init
    // convention is needed) and today's ratio against it — spike =
    // ratio > 1.5. The weighted sums run over the calendar-day PAIR
    // grain (days² is metadata-sized — the q211/q226 pattern) and
    // fold via the sorted-sum aggregator for bit-exactness.
    QueryDef("q280_ewma_anomaly", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = events(s, dir).filter(col("event_type") === "error")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val a = daily.select(col("day").as("d1"), col("n").as("n1"))
      val b = Caches.small(
        daily.select(col("day").as("d2"), col("n").as("n2")))
      val pairs = a.join(broadcast(b), col("d2") <= col("d1"))
        .withColumn("w", pow(lit(0.7), datediff(col("d1"), col("d2"))))
      pairs.groupBy("d1")
        .agg(max(col("n1")).as("n_err"),
          ssum(collect_list(col("w") * col("n2"))).as("wx"),
          ssum(collect_list(col("w"))).as("ws"))
        .withColumn("ewma", col("wx") / col("ws"))
        .withColumn("ratio", round(d(col("n_err")) / col("ewma"), 4))
        .select(col("d1").cast("string").as("day"), col("n_err"),
          round(col("ewma"), 4).as("ewma"), col("ratio"),
          (col("ratio") > 1.5).as("spike"))
        .orderBy("day")
    },
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
           FROM events WHERE event_type = 'error' GROUP BY 1),
         pairs AS (
           SELECT a.day AS d1, a.n AS n1, b.n AS n2,
             power(0.7, datediff('day', b.day, a.day)) AS w
           FROM daily a JOIN daily b ON b.day <= a.day),
         e AS (
           SELECT d1, max(n1)::BIGINT AS n_err,
             list_sum(list_sort(list(w * n2))) AS wx,
             list_sum(list_sort(list(w))) AS ws
           FROM pairs GROUP BY 1),
         r AS (
           SELECT d1, n_err, wx / ws AS ewma,
             round(n_err::DOUBLE / (wx / ws), 4) AS ratio
           FROM e)
         SELECT d1::VARCHAR AS day, n_err, round(ewma, 4) AS ewma,
           ratio, (ratio > 1.5) AS spike
         FROM r ORDER BY day"""),

    // SEASONAL-NAIVE FORECAST BACKTEST (the baseline every forecaster
    // must beat): predict each day's per-type event count with the
    // value 7 days earlier (day-grain self-join — no window state),
    // score MAPE and sMAPE per type from exact integer counts with
    // sorted folds over the day grain.
    QueryDef("q299_seasonal_backtest", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"),
          expr("datediff(to_date(ts), date'1970-01-05')").as("dd"))
        .agg(count(lit(1)).as("n"))
      val pred = daily.select(col("ty"), (col("dd") + 7).as("dd"),
        col("n").as("pred"))
      val scored = daily.join(pred, Seq("ty", "dd"))
        .withColumn("ape", abs(d(col("n") - col("pred"))) / col("n"))
        .withColumn("sape", abs(d(col("n") - col("pred"))) * 2.0
          / (col("n") + col("pred")))
      scored.groupBy("ty")
        .agg(count(lit(1)).as("n_days"),
          round(ssum(collect_list(col("ape"))) / count(lit(1)) * 100, 4)
            .as("mape_pct"),
          round(ssum(collect_list(col("sape"))) / count(lit(1)) * 100, 4)
            .as("smape_pct"))
        .orderBy("ty")
    },
      """WITH daily AS (
           SELECT event_type AS ty,
             datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) AS dd,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         pred AS (
           SELECT ty, dd + 7 AS dd, n AS pred FROM daily),
         scored AS (
           SELECT d.ty,
             abs((d.n - p.pred)::DOUBLE) / d.n AS ape,
             abs((d.n - p.pred)::DOUBLE) * 2.0 / (d.n + p.pred) AS sape
           FROM daily d JOIN pred p USING (ty, dd))
         SELECT ty, count(*)::BIGINT AS n_days,
           round(list_sum(list_sort(list(ape))) / count(*) * 100, 4)
             AS mape_pct,
           round(list_sum(list_sort(list(sape))) / count(*) * 100, 4)
             AS smape_pct
         FROM scored GROUP BY 1 ORDER BY 1"""),

    // HOLT LINEAR-TREND BACKTEST (double exponential smoothing,
    // α = β = 0.5): one-step-ahead forecasts over each type's daily
    // count series, MAPE from observation 3 on. The dyadic smoothing
    // constants keep every level/trend update EXACT binary arithmetic
    // on integer counts, so the sequential fold replays bit-for-bit in
    // the oracle's list_reduce. One shuffle to the (type, day) grain,
    // then a per-type sorted fold — no window state, no driver loop.
    QueryDef("q303_holt_backtest", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type").as("ty"),
          expr("datediff(to_date(ts), date'1970-01-05')").as("dd"))
        .agg(count(lit(1)).as("n"))
      val obs = sort_array(collect_list(array(col("dd").cast("double"),
        col("n").cast("double"))))
      val folded = aggregate(obs,
        typedlit(Array(0.0, 0.0, 0.0, 0.0, 0.0)),
        (acc, x) => {
          val idx = element_at(acc, 1)
          val l = element_at(acc, 2)
          val tr = element_at(acc, 3)
          val y = element_at(x, 2)
          val l2 = (y + l + tr) * 0.5
          when(idx === 0.0,
              array(lit(1.0), y, lit(0.0), lit(0.0), lit(0.0)))
            .when(idx === 1.0,
              array(lit(2.0), y, y - l, lit(0.0), lit(0.0)))
            .otherwise(array(idx + 1.0, l2,
              (l2 - l) * 0.5 + tr * 0.5,
              element_at(acc, 4) + abs(y - (l + tr)) / y,
              element_at(acc, 5) + 1.0))
        })
      daily.groupBy("ty").agg(folded.as("st"))
        .select(col("ty"),
          element_at(col("st"), 5).cast("long").as("n_scored"),
          round(element_at(col("st"), 4) / element_at(col("st"), 5)
            * 100, 4).as("holt_mape_pct"))
        .orderBy("ty")
    },
      """WITH daily AS (
           SELECT event_type AS ty,
             datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) AS dd,
             count(*)::BIGINT AS n
           FROM events GROUP BY 1, 2),
         folded AS (
           SELECT ty, list_reduce(list_prepend(
             CAST([0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]),
             list_sort(list([dd::DOUBLE, n::DOUBLE]))), (acc, x) ->
             CASE WHEN acc[1] = 0.0
                  THEN [1.0, x[2], 0.0, 0.0, 0.0]
                  WHEN acc[1] = 1.0
                  THEN [2.0, x[2], x[2] - acc[2], 0.0, 0.0]
                  ELSE [acc[1] + 1.0,
                        (x[2] + acc[2] + acc[3]) * 0.5,
                        ((x[2] + acc[2] + acc[3]) * 0.5 - acc[2]) * 0.5
                          + acc[3] * 0.5,
                        acc[4] + abs(x[2] - (acc[2] + acc[3])) / x[2],
                        acc[5] + 1.0] END) AS st
           FROM daily GROUP BY 1)
         SELECT ty, st[5]::BIGINT AS n_scored,
           round(st[4] / st[5] * 100, 4) AS holt_mape_pct
         FROM folded ORDER BY ty"""),
  )
}
