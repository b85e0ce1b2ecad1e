package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{TextFunctions => TF}
import graft.ops.{Caches, Sampling, Sketches}
import graft.queries.Shared.{events, normText, t}

/** Sketches and sampling: HLL, KMV, Count-Min, Bloom, KLL and deterministic
  * samples. Each entry pairs a query with its DuckDB oracle ([[QueryDef]]). */
object SketchQueries {

  val defs: Seq[QueryDef] = Seq(

    // Reproducible hash-based sampling + train/val/test splits — pure
    // functions of the record key (no RNG): re-runs, backfills and other
    // engines all agree on membership. Map-side only.
    QueryDef("q35_hash_split", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Sampling.hashBucket(col("doc_id"), 100, "exp1").as("bucket"),
          Sampling.split(col("doc_id"), 80, 10, "exp1").as("split"))
        .orderBy("doc_id")
    },
      """WITH b AS (
           SELECT doc_id,
             ('0x' || substring(md5('0:' || CAST(doc_id AS VARCHAR)
               || 'exp1'), 1, 12))::BIGINT % 100 AS bucket
           FROM documents)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM b ORDER BY doc_id"""),

    QueryDef("q36_stratified_counts", (s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), Sampling.split(col("doc_id"), 80, 10, "exp1")
          .as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    },
      """WITH b AS (
           SELECT lang,
             ('0x' || substring(md5('0:' || CAST(doc_id AS VARCHAR)
               || 'exp1'), 1, 12))::BIGINT % 100 AS bucket
           FROM documents)
         SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n
         FROM b GROUP BY 1,2 ORDER BY 1,2"""),

    // KMV bottom-k distinct-count sketch over normalized doc text, with
    // the exact count alongside so the oracle row itself exhibits the
    // estimator's accuracy. Deterministic md5 hashing → the whole sketch
    // is hash-verifiable cross-engine (unlike opaque HLL registers).
    QueryDef("q50_kmv_sketch", (s, dir) => {
      val docs = t(s, dir, "documents")
      val est = graft.ops.Sketches.kmvDistinct(docs,
        TF.normalizeText(col("text")), k = 64)
      val exact = docs
        .agg(countDistinct(TF.normalizeText(col("text")))
          .as("exact_distinct"))
      est.crossJoin(broadcast(exact))
    },
      """WITH h AS (
           SELECT DISTINCT ('0x' || substring(md5('0:' ||
             lower(trim(regexp_replace(text,'\s+',' ','g')))),1,12))::BIGINT
             AS h
           FROM documents),
         k AS (SELECT h FROM h ORDER BY h LIMIT 64),
         s AS (SELECT count(*) AS n, max(h) AS hk FROM k),
         e AS (SELECT count(DISTINCT
             lower(trim(regexp_replace(text,'\s+',' ','g')))) AS ex
           FROM documents)
         SELECT CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                ELSE round(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                           / hk, 4) END
             AS est_distinct,
           CAST(n AS BIGINT) AS k_used,
           CAST(ex AS BIGINT) AS exact_distinct
         FROM s CROSS JOIN e"""),

    // EXACTLY-n-per-stratum deterministic sample (Sampling
    // .stratifiedTake): salted-hash rank inside each stratum, fixed
    // SIZE per group (vs q35/q36's fixed rate) — replayable by any
    // engine with md5.
    QueryDef("q60_stratified_sample", (s, dir) => {
      Sampling.stratifiedTake(
          t(s, dir, "documents").select("doc_id", "lang"),
          strata = Seq("lang"), key = "doc_id", n = 5, salt = "exp1")
        .orderBy("lang", "doc_id")
    },
      """WITH h AS (
           SELECT doc_id, lang,
             ('0x' || substring(md5('0:exp1:' || CAST(doc_id AS VARCHAR)),
               1, 12))::BIGINT AS hk
           FROM documents),
         r AS (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
           FROM h)
         SELECT doc_id, lang FROM r WHERE rk <= 5
         ORDER BY lang, doc_id"""),

    // EXACT heavy hitters with sketch-pruned counting (ops.Sketches):
    // Misra–Gries candidates per partition (capacity 1000 ≫ the
    // guaranteed-complete bound for the n/1000 threshold), exact
    // recount of candidates only — the corpus bigram stream never
    // shuffles its full key universe. Oracle is the plain GROUP BY
    // HAVING (sound because the final counts are exact).
    QueryDef("q72_heavy_hitters", (s, dir) => {
      val ws = split(TF.normalizeText(col("text")), " ")
      val bigrams = t(s, dir, "documents")
        .select(ws.as("__ws"))
        .select(explode(expr(
          "transform(slice(__ws, 1, size(__ws) - 1)," +
            " (w, i) -> concat(w, ' ', element_at(__ws, i + 2)))")).as("g"))
      val total = bigrams.agg(count(lit(1)).cast("double").as("__tot"))
      Sketches.heavyHitters(bigrams, "g", capacity = 1000)
        .crossJoin(broadcast(total))
        .filter(col("cnt") >= col("__tot") / lit(1000.0))
        .select(col("g"), col("cnt"))
        .orderBy("g")
    },
      """WITH n AS (
           SELECT string_split(
             lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') AS ws
           FROM documents),
         b AS (
           SELECT unnest(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i+1])) AS g
           FROM n),
         c AS (SELECT g, count(*) AS cnt FROM b GROUP BY 1),
         t AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM b)
         SELECT g, cnt FROM c, t WHERE cnt >= tot / 1000.0 ORDER BY g"""),

    // Deterministic WEIGHTED sample (Sampling.weightedSample): A-ES
    // priorities from the md5 hash, weight = n_chars (longer docs drawn
    // proportionally more often); top-25, hash-replayable by the oracle.
    QueryDef("q73_weighted_sample", (s, dir) => {
      Sampling.weightedSample(
          t(s, dir, "documents").select("doc_id", "n_chars"),
          key = "doc_id", weight = col("n_chars"), k = 25, salt = "w1")
        .orderBy("doc_id")
    },
      """WITH p AS (
           SELECT doc_id, n_chars,
             ln((('0x' || substring(md5('0:' || CAST(doc_id AS VARCHAR)
                    || 'w1'), 1, 12))::BIGINT + 0.5) / 281474976710656.0)
               / CAST(n_chars AS DOUBLE) AS pri
           FROM documents)
         SELECT doc_id, n_chars FROM p ORDER BY pri DESC, doc_id LIMIT 25"""),

    // Per-group KMV distinct sketch (Sketches.kmvDistinctGrouped):
    // distinct users per event type, one bottom-32 sketch per group in
    // a single pass — exact below k (sf0.001: 15 users), estimated
    // above (sf0.1: 1500), so BOTH estimator paths are oracle-gated.
    QueryDef("q84_kmv_grouped", (s, dir) => {
      Sketches.kmvDistinctGrouped(events(s, dir), Seq("event_type"),
          col("user_id").cast("string"), k = 32)
        .orderBy("event_type")
    },
      """WITH h AS (
           SELECT DISTINCT event_type,
             ('0x' || substring(md5('0:' || CAST(user_id AS VARCHAR)),
               1, 12))::BIGINT AS h
           FROM events),
         r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
               FROM h),
         s AS (SELECT event_type, count(*) AS n, max(h) AS hk
               FROM r WHERE rn <= 32 GROUP BY 1)
         SELECT event_type,
           CASE WHEN n < 32 THEN CAST(n AS DOUBLE)
                ELSE round(CAST(31 AS DOUBLE)
                           * CAST(281474976710656 AS DOUBLE) / hk, 4) END
             AS est_distinct,
           n AS k_used
         FROM s ORDER BY event_type"""),

    // COUNT-MIN sketch (Sketches.countMin/countMinLookup): 4×256 exact
    // counter grid over the corpus token stream — fixed-size mergeable
    // state (the shuffle carries ≤ partitions·4·256 partial cells no
    // matter the corpus), then point lookups for a probe term set. The
    // exact count rides along so the CM one-sided guarantee
    // (est >= exact, always) is itself oracle-gated.
    QueryDef("q86_count_min", (s, dir) => {
      import s.implicits._
      val words = t(s, dir, "documents")
        .select(explode(split(normText, " ")).as("w"))
      val sketch = Sketches.countMin(words, col("w"), depth = 4, width = 256)
      val probes = Seq("dup", "vector", "stream").toDF("w")
      val exact = words.groupBy("w").agg(count(lit(1)).as("exact"))
      Sketches.countMinLookup(sketch, probes, "w", depth = 4, width = 256)
        .join(exact, Seq("w"), "left")
        .select(col("w"), col("est"),
          coalesce(col("exact"), lit(0L)).as("exact"))
        .orderBy("w")
    },
      """WITH w AS (
           SELECT unnest(string_split(
             lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS w
           FROM documents),
         cells AS (
           SELECT d,
             ('0x' || substring(md5(CAST(d AS VARCHAR) || ':' || w),
               1, 12))::BIGINT % 256 AS bucket,
             count(*) AS cnt
           FROM w, unnest([0,1,2,3]) AS t(d)
           GROUP BY 1, 2),
         probes AS (SELECT unnest(['dup','vector','stream']) AS w),
         pb AS (
           SELECT p.w, d,
             ('0x' || substring(md5(CAST(d AS VARCHAR) || ':' || p.w),
               1, 12))::BIGINT % 256 AS bucket
           FROM probes p, unnest([0,1,2,3]) AS t(d)),
         est AS (
           SELECT pb.w, min(coalesce(c.cnt, 0)) AS est
           FROM pb LEFT JOIN cells c USING (d, bucket) GROUP BY 1),
         ex AS (SELECT w, count(*) AS exact FROM w GROUP BY 1)
         SELECT est.w, est.est, coalesce(ex.exact, 0) AS exact
         FROM est LEFT JOIN ex USING (w) ORDER BY w"""),

    // HLL cardinality sketch (Sketches.hllEstimate): 64 registers over
    // distinct users — linear-counting regime at sf<=0.01 (few users,
    // empty registers), raw-estimator regime at sf0.1, so both branches
    // of the standard estimator are oracle-gated. Exact distinct rides
    // along for the error contrast.
    QueryDef("q88_hll", (s, dir) => {
      val ev = events(s, dir)
      val exact = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
      Sketches.hllEstimate(ev, col("user_id").cast("string"), p = 6)
        .crossJoin(broadcast(exact))
    },
      """WITH h AS (
           SELECT ('0x' || substring(md5('0:' || CAST(user_id AS VARCHAR)),
             1, 12))::BIGINT AS h
           FROM events),
         rk AS (
           SELECT h % 64 AS bucket,
             CASE WHEN h // 64 = 0 THEN 43
                  ELSE 43 - length(format('{:b}', h // 64)) END AS rank
           FROM h),
         reg AS (SELECT bucket, max(rank) AS mx FROM rk GROUP BY 1),
         s AS (SELECT CAST(count(*) AS BIGINT) AS nz,
                 list_sum(list_sort(list(
                   power(CAST(2 AS DOUBLE), -mx)))) AS s
               FROM reg),
         e AS (SELECT nz, s + (CAST(64 AS DOUBLE) - nz) AS st,
                 64 - nz AS v FROM s),
         raw AS (SELECT nz, v,
                   CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                     * CAST(64 AS DOUBLE) / st AS eraw
                 FROM e),
         fin AS (SELECT CASE WHEN eraw <= CAST(160 AS DOUBLE) AND v > 0
                   THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
                   ELSE eraw END AS est, nz FROM raw),
         x AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                 AS exact_distinct FROM events)
         SELECT round(est, 4) AS est_distinct, nz AS nonzero_buckets,
           exact_distinct
         FROM fin, x"""),

    // HLL SKETCH ALGEBRA: per-source registers (Sketches.hllRegistersBy)
    // merged by max-per-bucket into the global sketch — the lossless
    // roll-up that lets a warehouse sketch per partition and aggregate
    // register rows instead of rescanning. Per-source estimates and the
    // merged estimate in one report.
    QueryDef("q113_hll_merge", (s, dir) => {
      val regs = Sketches.hllRegistersBy(events(s, dir),
        col("event_type"), col("user_id").cast("string"), p = 6)
      val per = Sketches.hllEstimateFromRegisters(regs, Seq("grp"), 6)
        .select(col("grp").as("source"), col("est_distinct"),
          col("nonzero_buckets"))
      val merged = Sketches.hllEstimateFromRegisters(
          regs.groupBy("bucket").agg(max(col("mx")).as("mx")), Seq.empty, 6)
        .select(lit("__MERGED__").as("source"), col("est_distinct"),
          col("nonzero_buckets"))
      per.unionByName(merged).orderBy("source")
    },
      """WITH h AS (
           SELECT event_type, ('0x' || substring(md5('0:'
             || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
           FROM events),
         rk AS (
           SELECT event_type, h % 64 AS bucket,
             CASE WHEN h // 64 = 0 THEN 43
                  ELSE 43 - length(format('{:b}', h // 64)) END AS rank
           FROM h),
         reg AS (SELECT event_type AS source, bucket, max(rank) AS mx
                 FROM rk GROUP BY 1, 2),
         allreg AS (
           SELECT source, bucket, mx FROM reg
           UNION ALL
           SELECT '__MERGED__', bucket, max(mx) FROM reg GROUP BY 2),
         s AS (SELECT source, CAST(count(*) AS BIGINT) AS nz,
                 list_sum(list_sort(list(
                   power(CAST(2 AS DOUBLE), -mx)))) AS s
               FROM allreg GROUP BY 1),
         e AS (SELECT source, nz, s + (CAST(64 AS DOUBLE) - nz) AS st,
                 64 - nz AS v FROM s),
         raw AS (SELECT source, nz, v,
                   CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                     * CAST(64 AS DOUBLE) / st AS eraw
                 FROM e)
         SELECT source,
           round(CASE WHEN eraw <= CAST(160 AS DOUBLE) AND v > 0
             THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
             ELSE eraw END, 4) AS est_distinct,
           nz AS nonzero_buckets
         FROM raw ORDER BY source"""),

    // KMV set-similarity: Jaccard of clicker vs purchaser user sets
    // estimated from two bottom-64 sketches (the sets never meet in a
    // join — only the k-row artifacts do); exact values ride along.
    QueryDef("q117_kmv_jaccard", (s, dir) => {
      val ev = events(s, dir)
      Sketches.kmvJaccard(
        ev.filter(col("event_type") === "click" && col("value") > 80)
          .select("user_id"),
        ev.filter(col("event_type") === "purchase" && col("value") > 80)
          .select("user_id"),
        "user_id", k = 64)
    },
      """WITH a AS (
           SELECT DISTINCT ('0x' || substring(md5('0:'
             || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
           FROM events WHERE event_type = 'click' AND value > 80),
         b AS (
           SELECT DISTINCT ('0x' || substring(md5('0:'
             || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
           FROM events WHERE event_type = 'purchase' AND value > 80),
         ka AS (SELECT h FROM a ORDER BY h LIMIT 64),
         kb AS (SELECT h FROM b ORDER BY h LIMIT 64),
         u AS (SELECT DISTINCT h FROM
                 (SELECT h FROM ka UNION ALL SELECT h FROM kb)
               ORDER BY h LIMIT 64),
         f AS (
           SELECT count(*)::BIGINT AS usz,
             sum((ka.h IS NOT NULL AND kb.h IS NOT NULL)::BIGINT)::BIGINT
               AS inboth
           FROM u LEFT JOIN ka ON u.h = ka.h LEFT JOIN kb ON u.h = kb.h),
         ex AS (
           SELECT
             sum((A.x IS NOT NULL AND B.x IS NOT NULL)::BIGINT)::BIGINT
               AS ei,
             count(*)::BIGINT AS eu
           FROM (SELECT DISTINCT CAST(user_id AS VARCHAR) AS x
                 FROM events WHERE event_type = 'click' AND value > 80) A
           FULL JOIN (SELECT DISTINCT CAST(user_id AS VARCHAR) AS x
                 FROM events WHERE event_type = 'purchase' AND value > 80) B
             ON A.x = B.x)
         SELECT 64 AS sketch_k, usz AS union_sketch_size,
           inboth AS in_both,
           round(inboth::DOUBLE / usz::DOUBLE, 4) AS j_est,
           ei AS exact_inter, eu AS exact_union,
           round(ei::DOUBLE / eu::DOUBLE, 4) AS j_exact
         FROM f, ex"""),

    // KLL quantile sketch (functions.QuantileSketchAgg) under its
    // rank-error CONTRACT: the sketch estimate's true rank must lie
    // within eps*n of the target rank ceil(p*n). The estimate itself is
    // partition-order-dependent (like every mergeable sketch), so the
    // oracle row carries only deterministic columns: the probe, the
    // EXACT quantile (percentile(array(...)) ≡ DuckDB quantile_cont,
    // the parity q38/q107 already gate — ONE buffer for all probes),
    // and the boolean bound check. If the sketch ever violates its
    // eps=0.05 contract (worst-case analytic bound at k=512 is ~1% of n
    // here), within_eps flips false and the row hash-mismatches — a
    // driver-visible gate on the approximation, not just on plumbing.
    QueryDef("q151_kll_quantile_bound", (s, dir) => {
      val probes = Seq(1, 5, 25, 50, 75, 90, 99)
      val eps = 0.05
      // native TypedImperativeAggregate (KllQuantiles) — same sketch
      // kernel as the typed Aggregator, minus the per-row encoder round
      // trip that dominated this query (see KllQuantiles scaladoc)
      val sk = (c: Column) => graft.functions.KllQuantiles
        .kllQuantiles(c, 512, probes.map(_ / 100.0))
      val vals = t(s, dir, "lineitem")
        .select(col("l_extendedprice").cast("double").as("v"))
      // exact ground-truth quantiles by bracketed selection
      // (Selection.exactQuantilesCont, bit-parity with Spark's
      // percentile): the built-in exact Percentile aggregate hashes
      // every distinct double (boxed) and sorts the whole domain —
      // measured 2.7 s of this query at sf0.1 and the wrong shape for
      // an exact ground truth at corpus scale
      val exacts = graft.ops.Selection.exactQuantilesCont(
        vals, col("v"), probes.map(_ / 100.0))
      val ests = vals.agg(sk(col("v")).as("ests"))
      // true rank of each estimate: ONE groupless scan carrying the
      // 7-entry estimate array (broadcast scalar frame) and emitting 7
      // conditional sums — all map-side codegen. The r13 form exploded
      // the estimates to 7 rows and crossJoined them back onto the
      // corpus (7× the rows through a mixed-key hash aggregate,
      // measured ~2.5 s of the query at sf0.1); the rank counts never
      // needed a groupBy at all.
      val counted = vals.crossJoin(broadcast(ests))
        .agg(array(probes.indices.map(i =>
            sum(when(col("v") <= element_at(col("ests"), i + 1), 1L)
              .otherwise(0L))): _*).as("rks"))
      counted.select(col("rks"), posexplode(lit(probes.toArray)))
        .join(broadcast(exacts), Seq("pos"))
        .select(col("col").as("probe_pct"),
          round(col("exact"), 2).as("exact_q"),
          (abs(element_at(col("rks"), col("pos") + 1) -
            ceil(col("col") / lit(100.0) * col("n")))
            <= lit(eps) * col("n")).as("within_eps"))
        .orderBy("probe_pct")
    },
      """WITH q AS (SELECT
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.01), 2) AS q1,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05), 2) AS q5,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 2) AS q25,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50), 2) AS q50,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 2) AS q75,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.90), 2) AS q90,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 2) AS q99
         FROM lineitem)
         SELECT 1 AS probe_pct, q1 AS exact_q, true AS within_eps FROM q
         UNION ALL SELECT 5, q5, true FROM q
         UNION ALL SELECT 25, q25, true FROM q
         UNION ALL SELECT 50, q50, true FROM q
         UNION ALL SELECT 75, q75, true FROM q
         UNION ALL SELECT 90, q90, true FROM q
         UNION ALL SELECT 99, q99, true FROM q
         ORDER BY probe_pct"""),

    // BITMAP-WORD DISTINCT AGGREGATION (roaring-bitmap idea in pure
    // SQL): distinct users per event type via 63-bit words — bit_or of
    // (1 << id mod 63) grouped by (type, id div 63), then Σ bit_count.
    // The bitmap form's shuffle rows are CAPPED at |id-space|/63 per
    // group regardless of event volume (countDistinct shuffles every
    // distinct id), and words merge associatively — the same reason
    // warehouse engines keep bitmap indexes. 63-bit words sidestep
    // signed-shift overflow on bit 63. Gated against exact
    // countDistinct in the same row.
    QueryDef("q159_bitmap_distinct", (s, dir) => {
      val ev = events(s, dir)
      val words = ev.select(col("event_type"),
          expr("user_id div 63").as("word"),
          expr("shiftleft(1L, cast(user_id % 63 as int))").as("bitv"))
        .groupBy("event_type", "word")
        .agg(expr("bit_or(bitv)").as("bits"))
      val viaBitmap = words.groupBy("event_type")
        .agg(expr("sum(bit_count(bits))").as("n_bitmap"),
          count(lit(1)).as("n_words"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      viaBitmap.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("n_bitmap"),
          col("n_words"), (col("n_exact") === col("n_bitmap")).as("agree"))
        .orderBy("event_type")
    },
      """WITH w AS (
           SELECT event_type, user_id // 63 AS word,
             bit_or(1::BIGINT << (user_id % 63)::INT) AS bits
           FROM events GROUP BY 1, 2),
         b AS (
           SELECT event_type, sum(bit_count(bits))::BIGINT AS n_bitmap,
             count(*)::BIGINT AS n_words
           FROM w GROUP BY 1),
         x AS (
           SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
           FROM events GROUP BY 1)
         SELECT b.event_type, x.n_exact, b.n_bitmap, b.n_words,
           (x.n_exact = b.n_bitmap) AS agree
         FROM b JOIN x USING (event_type) ORDER BY event_type"""),

    // GROUPED KLL quantile contract (q151 per group): one mergeable
    // sketch per event type in a single pass — the shape a 100 TB
    // profiling job actually runs (per-partition/day sketches that
    // merge upward). Same rank-error gate, exact quantiles from one
    // percentile(array(...)) buffer per group.
    QueryDef("q163_kll_grouped", (s, dir) => {
      val probes = Seq(25, 50, 75, 90)
      val eps = 0.05
      // native form — see q151's note / KllQuantiles scaladoc
      val sk = (c: Column) => graft.functions.KllQuantiles
        .kllQuantiles(c, 512, probes.map(_ / 100.0))
      val vals = events(s, dir)
        .select(col("event_type"), col("value").cast("double").as("v"))
      // Measured rejection (r15, verdict item 6): swapping the exact
      // ground truth to Selection.exactQuantilesContGrouped
      // (bit-parity pinned by SelectionSpec's grouped differential
      // test) ran 1.21 -> 2.05 s isolated at sf0.1 — three selection
      // passes + joins vs ONE grouped agg computing KLL + percentile
      // + count together, while the per-type value maps stay
      // memory-resident at every bench SF. The grouped selection
      // remains the scale path for corpus-sized per-group domains.
      val est = vals.groupBy("event_type").agg(
        sk(col("v")).as("ests"),
        expr(s"percentile(v, array(${probes.map(_ / 100.0).mkString(",")}))")
          .as("exacts"),
        count(lit(1)).as("n"))
      val probed = est.select(col("event_type"), col("ests"),
          col("exacts"), col("n"), posexplode(lit(probes.toArray)))
        .select(col("event_type"), col("col").as("probe_pct"),
          element_at(col("ests"), col("pos") + 1).as("est"),
          element_at(col("exacts"), col("pos") + 1).as("exact_q"),
          col("n"))
      vals.join(broadcast(probed), Seq("event_type"))
        .groupBy("event_type", "probe_pct", "exact_q", "n")
        .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("rk"))
        .select(col("event_type"), col("probe_pct"),
          round(col("exact_q"), 4).as("exact_q"),
          (abs(col("rk") - ceil(col("probe_pct") / lit(100.0) * col("n")))
            <= lit(eps) * col("n")).as("within_eps"))
        .orderBy("event_type", "probe_pct")
    },
      """WITH q AS (
           SELECT event_type,
             quantile_cont(CAST(value AS DOUBLE), [0.25, 0.5, 0.75, 0.9])
               AS qs
           FROM events GROUP BY 1)
         SELECT event_type, 25 AS probe_pct, round(qs[1], 4) AS exact_q,
           true AS within_eps FROM q
         UNION ALL SELECT event_type, 50, round(qs[2], 4), true FROM q
         UNION ALL SELECT event_type, 75, round(qs[3], 4), true FROM q
         UNION ALL SELECT event_type, 90, round(qs[4], 4), true FROM q
         ORDER BY event_type, probe_pct"""),

    // KMV θ-SKETCH SET ALGEBRA (pairwise audience overlap without a
    // pairwise distinct-count): per event-type the K=64 smallest
    // distinct user-hashes form the sketch; for each type pair the
    // union sketch's θ estimates |A∪B| and the common-hash fraction
    // scales it to |A∩B| (Beyer et al., SIGMOD'07). The gate carries
    // BOTH the estimate and the exact intersection — the estimate is
    // deterministic (md5 48-bit), so it hash-matches, and `ok` PROVES
    // the error bound holds in-data. Sketch build is one rank window
    // over distinct hashes; pair stage touches K-sized sketches only.
    QueryDef("q176_kmv_intersection", (s, dir) => {
      val K = 64
      val dh = events(s, dir)
        .select(col("event_type").as("ty"),
          TF.md5Hash48(col("user_id").cast("string")).as("h"))
        .distinct()
      val types = dh.select("ty").distinct()
      // broadcast the pair build: a plain non-equi self-join would plan
      // as a CartesianProduct (both sides shuffled) — ContractSpec gate
      val tagged = Caches.small(types.join(
          broadcast(Caches.small(types.select(col("ty").as("ty2")))),
          col("ty") < col("ty2"))
        .select(col("ty").as("ta"), col("ty2").as("tb")))
      val memb = dh.join(broadcast(tagged),
          col("ty") === col("ta") || col("ty") === col("tb"))
        .groupBy("ta", "tb", "h")
        .agg(max(when(col("ty") === col("ta"), 1).otherwise(0)).as("ina"),
          max(when(col("ty") === col("tb"), 1).otherwise(0)).as("inb"))
      val unionTop = memb.withColumn("rn", row_number().over(
          Window.partitionBy("ta", "tb").orderBy("h")))
        .filter(col("rn") <= K)
      val sk = unionTop.groupBy("ta", "tb")
        .agg(max(col("h")).as("theta"), count(lit(1)).as("k"),
          sum(col("ina") * col("inb")).as("common"))
        .withColumn("est_union",
          when(col("k") < K, col("k").cast("double"))
            .otherwise(lit((K - 1).toDouble) * lit(math.pow(2, 48)) /
              col("theta").cast("double")))
        .withColumn("est_inter", col("common").cast("double") / col("k")
          * col("est_union"))
      val exact = memb.filter(col("ina") === 1 && col("inb") === 1)
        .groupBy("ta", "tb").agg(count(lit(1)).as("exact_inter"))
      sk.join(exact, Seq("ta", "tb"), "left")
        .select(col("ta"), col("tb"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          col("common"), round(col("est_inter"), 1).as("est_inter"),
          (abs(col("est_inter") -
            coalesce(col("exact_inter"), lit(0L)).cast("double")) <=
            lit(0.25) * coalesce(col("exact_inter"), lit(0L)) + lit(50.0))
            .as("ok"))
        .orderBy("ta", "tb")
    },
      """WITH dh AS (
           SELECT DISTINCT event_type AS ty,
             ('0x' || substring(md5('0:' || user_id), 1, 12))::BIGINT AS h
           FROM events),
         ty AS (SELECT DISTINCT ty FROM dh),
         pairs AS (
           SELECT a.ty AS ta, b.ty AS tb
           FROM ty a JOIN ty b ON a.ty < b.ty),
         memb AS (
           SELECT ta, tb, h,
             max(CASE WHEN dh.ty = ta THEN 1 ELSE 0 END) AS ina,
             max(CASE WHEN dh.ty = tb THEN 1 ELSE 0 END) AS inb
           FROM dh JOIN pairs ON dh.ty = ta OR dh.ty = tb
           GROUP BY 1, 2, 3),
         ut AS (
           SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY h)
             AS rn
           FROM memb),
         sk AS (
           SELECT ta, tb, max(h) AS theta, count(*)::BIGINT AS k,
             sum(ina * inb)::BIGINT AS common
           FROM ut WHERE rn <= 64 GROUP BY 1, 2),
         est AS (
           SELECT ta, tb, k, common,
             CASE WHEN k < 64 THEN k::DOUBLE
               ELSE 63::DOUBLE * 281474976710656::DOUBLE
                 / theta::DOUBLE END AS est_union
           FROM sk),
         ex AS (
           SELECT ta, tb, count(*)::BIGINT AS exact_inter
           FROM memb WHERE ina = 1 AND inb = 1 GROUP BY 1, 2)
         SELECT e.ta, e.tb,
           coalesce(x.exact_inter, 0)::BIGINT AS exact_inter, e.common,
           round(e.common::DOUBLE / e.k * e.est_union, 1) AS est_inter,
           (abs(e.common::DOUBLE / e.k * e.est_union
              - coalesce(x.exact_inter, 0)::DOUBLE)
            <= 0.25 * coalesce(x.exact_inter, 0) + 50.0) AS ok
         FROM est e LEFT JOIN ex x ON e.ta = x.ta AND e.tb = x.tb
         ORDER BY e.ta, e.tb"""),

    // PRIORITY SAMPLING without replacement (Efraimidis–Spirakis
    // '06 — the weighted sample that composes across partitions): each
    // row's priority key −ln(u)/w comes from a DETERMINISTIC md5
    // uniform (no RNG, replayable); the per-stratum top-5 is one rank
    // window with WindowGroupLimit. The scale story: keys are map-side,
    // the sample is mergeable by just keeping the k smallest anywhere.
    QueryDef("q221_priority_sampling", (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_mktsegment").as("seg"), col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("w"))
        .withColumn("u",
          (TF.md5Hash48(col("c_custkey").cast("string"))
            .cast("double") + 0.5) / lit(math.pow(2, 48)))
        .withColumn("key", -log(col("u")) / col("w").cast("double"))
      c.withColumn("rk", row_number().over(Window.partitionBy("seg")
          .orderBy(col("key"), col("c_custkey"))))
        .filter(col("rk") <= 5)
        .select(col("seg"), col("rk"), col("c_custkey"), col("w"),
          round(col("key") * 1e9, 6).as("priority_x1e9"))
        .orderBy("seg", "rk")
    },
      """WITH c AS (
           SELECT c_mktsegment AS seg, c_custkey,
             round(c_acctbal * 100)::BIGINT AS w,
             (('0x' || substring(md5('0:' || c_custkey), 1, 12))::BIGINT
               ::DOUBLE + 0.5) / 281474976710656.0 AS u
           FROM customer WHERE c_acctbal > 0),
         k AS (
           SELECT *, -ln(u) / w::DOUBLE AS key,
             row_number() OVER (PARTITION BY seg
               ORDER BY -ln(u) / w::DOUBLE, c_custkey) AS rk
           FROM c)
         SELECT seg, rk::BIGINT AS rk, c_custkey, w,
           round(key * 1e9, 6) AS priority_x1e9
         FROM k WHERE rk <= 5 ORDER BY seg, rk"""),

    // BLOOM-FILTER FALSE-POSITIVE AUDIT (the membership sketch's
    // error contract proven in-data): a 2048-bit / k=3 bloom over the
    // first-half user set, built as 33 bit_or'd 63-bit words (the q159 encoding
    // — bit 63 would overflow DuckDB's checked shift) (associative —
    // partial aggregation does real work map-side), broadcast, probed
    // by the second-half NEW users; measured FPR lands beside the
    // (1−e^{−kn/m})^k theory value. All hashing md5, all bit ops
    // integer.
    QueryDef("q254_bloom_fpr", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("unix_micros(ts)").as("us"))
      val span = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val h = ev.crossJoin(broadcast(span))
        .groupBy("user_id", "mid")
        .agg(min(col("us")).as("first_us"))
        .withColumn("in_a", col("first_us") < col("mid"))
      def hashes(c: Column) = (0 until 3).map(k =>
        pmod(TF.md5Hash48(concat(lit(s"bl$k:"), c)), lit(2048L)))
      val words = h.filter(col("in_a"))
        .select(explode(array(hashes(col("user_id")): _*)).as("hb"))
        .select(expr("hb div 63").as("w"),
          expr("cast(shiftleft(1L, cast(hb % 63 as int)) as long)")
            .as("b"))
        .groupBy("w").agg(expr("bit_or(b)").as("word"))
      val probes = h.filter(!col("in_a"))
      val tested = probes.select(Seq(col("user_id")) ++
        hashes(col("user_id")).zipWithIndex.map { case (hc, i) =>
          hc.as(s"h$i")
        }: _*)
      def bitSet(i: Int) =
        col(s"word$i").isNotNull &&
          expr(s"(word$i & shiftleft(1L, cast(h$i % 63 as int))) != 0")
      // join each hash bit's word (3 broadcast joins of the 32-row table)
      val w0 = words.select(expr("w").as("w0"), col("word").as("word0"))
      val w1 = words.select(expr("w").as("w1"), col("word").as("word1"))
      val w2 = words.select(expr("w").as("w2"), col("word").as("word2"))
      val withWords = tested
        .join(broadcast(w0), expr("h0 div 63") === col("w0"), "left")
        .join(broadcast(w1), expr("h1 div 63") === col("w1"), "left")
        .join(broadcast(w2), expr("h2 div 63") === col("w2"), "left")
      val nA = h.filter(col("in_a")).agg(count(lit(1)).as("n_a"))
      withWords
        .withColumn("hit", bitSet(0) && bitSet(1) && bitSet(2))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_fp"))
        .crossJoin(broadcast(nA))
        .select(col("n_a"), col("n_probes"), col("n_fp"),
          round(col("n_fp").cast("double") / col("n_probes"), 4)
            .as("fpr_measured"),
          round(pow(lit(1.0) - exp(lit(-3.0) * col("n_a") / 2048.0),
            3.0), 4).as("fpr_theory"))
    },
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS us FROM events),
         span AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         h AS (
           SELECT user_id, (min(us) < mid) AS in_a
           FROM ev CROSS JOIN span GROUP BY user_id, mid),
         bits AS (
           SELECT unnest([
             ('0x' || substring(md5('0:bl0:' || user_id), 1, 12))
               ::BIGINT % 2048,
             ('0x' || substring(md5('0:bl1:' || user_id), 1, 12))
               ::BIGINT % 2048,
             ('0x' || substring(md5('0:bl2:' || user_id), 1, 12))
               ::BIGINT % 2048]) AS hb
           FROM h WHERE in_a),
         words AS (
           SELECT hb // 63 AS w, bit_or(1::BIGINT << (hb % 63)::INT)
             AS word
           FROM bits GROUP BY 1),
         probes AS (
           SELECT user_id,
             ('0x' || substring(md5('0:bl0:' || user_id), 1, 12))
               ::BIGINT % 2048 AS h0,
             ('0x' || substring(md5('0:bl1:' || user_id), 1, 12))
               ::BIGINT % 2048 AS h1,
             ('0x' || substring(md5('0:bl2:' || user_id), 1, 12))
               ::BIGINT % 2048 AS h2
           FROM h WHERE NOT in_a),
         ww AS (
           SELECT p.*,
             w0.word AS word0, w1.word AS word1, w2.word AS word2
           FROM probes p
           LEFT JOIN words w0 ON p.h0 // 63 = w0.w
           LEFT JOIN words w1 ON p.h1 // 63 = w1.w
           LEFT JOIN words w2 ON p.h2 // 63 = w2.w),
         res AS (
           SELECT count(*)::BIGINT AS n_probes,
             sum(CASE WHEN word0 IS NOT NULL
               AND (word0 & (1::BIGINT << (h0 % 63)::INT)) != 0
               AND word1 IS NOT NULL
               AND (word1 & (1::BIGINT << (h1 % 63)::INT)) != 0
               AND word2 IS NOT NULL
               AND (word2 & (1::BIGINT << (h2 % 63)::INT)) != 0
               THEN 1 ELSE 0 END)::BIGINT AS n_fp
           FROM ww),
         na AS (SELECT count(*)::BIGINT AS n_a FROM h WHERE in_a)
         SELECT n_a, n_probes, n_fp,
           round(n_fp::DOUBLE / n_probes, 4) AS fpr_measured,
           round(pow(1.0 - exp(-3.0 * n_a / 2048.0), 3.0), 4)
             AS fpr_theory
         FROM res CROSS JOIN na"""),

    // WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–Spirakis
    // A-ES): per-source top-3 by key u^(1/w), u a deterministic
    // md5-uniform in (0,1], w = doc length — the quality-weighted
    // document picker every data-mix pipeline needs, fully replayable
    // (no RNG). One partitioned rank window (WindowGroupLimit-capped).
    QueryDef("q295_weighted_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("u",
          (TF.md5Hash48(col("doc_id").cast("string")) + 1)
            / lit(281474976710656.0))
        .withColumn("key", pow(col("u"), lit(1.0) / col("n_chars")))
      docs.withColumn("rk", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("key").desc, col("doc_id"))))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk"), col("doc_id"), col("n_chars"),
          round(col("key"), 6).as("key"))
        .orderBy("source", "rk")
    },
      """WITH docs AS (
           SELECT doc_id, source, n_chars,
             (('0x' || substring(md5('0:' || doc_id::VARCHAR), 1, 12))
               ::BIGINT + 1) / 281474976710656.0 AS u
           FROM documents),
         keyed AS (
           SELECT *, power(u, 1.0 / n_chars) AS key FROM docs),
         r AS (
           SELECT source, doc_id, n_chars, key,
             row_number() OVER (PARTITION BY source
               ORDER BY key DESC, doc_id) AS rk
           FROM keyed)
         SELECT source, rk, doc_id, n_chars, round(key, 6) AS key
         FROM r WHERE rk <= 3 ORDER BY source, rk"""),

    // JOIN-SIZE ESTIMATION via Count-Min inner product (the AMS
    // estimator every CBO wants and no per-key histogram can afford at
    // 100 TB): |A ⋈_k B| = Σ_k f_A(k)·f_B(k), estimated by the
    // depth-wise MINIMUM of Σ_buckets cmA·cmB — two 4×256 sketches,
    // each one groupBy, joined on (d, bucket). Exact answer from the
    // key-frequency join for the error report. Estimate ≥ exact always
    // (CM collisions only inflate).
    QueryDef("q311_join_size_cm", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // ONE corpus scan + ONE key-grain shuffle feed BOTH sketches AND
      // the exact inner product (r15; §6 read amplification): the old
      // shape scanned lineitem four times (each sketch's cell explode,
      // each side of the exact key-frequency join). CM cells are plain
      // sums, so building them from per-key counts via
      // countMinWeighted is integer-identical to counting raw rows
      // (SketchSampleSpec pins the equivalence); the b-side keys are
      // exactly those with cb > 0. Checkpointed (key-cardinality
      // grain, registered corpus-scale) for its three consumers.
      val kc = Caches.corpusScale(li
        .select(col("l_partkey").cast("string").as("k"),
          when(col("l_shipdate") > lit("2000-01-01").cast("timestamp"),
            lit(1L)).otherwise(lit(0L)).as("__inb"))
        .groupBy("k")
        .agg(count(lit(1)).as("ca"), sum(col("__inb")).as("cb")))
      val skA = Sketches.countMinWeighted(kc, col("k"), col("ca"),
        depth = 4, width = 256)
      val skB = Sketches.countMinWeighted(kc.filter(col("cb") > 0),
          col("k"), col("cb"), depth = 4, width = 256)
        .withColumnRenamed("cnt", "cntb")
      val est = skA.join(skB, Seq("d", "bucket"))
        .groupBy("d").agg(sum(col("cnt") * col("cntb")).as("ip"))
        .agg(min(col("ip")).as("est_pairs"))
      // a null key joins nothing: the oracle's JOIN USING (k) drops it
      val exact = kc.filter(col("cb") > 0 && col("k").isNotNull)
        .agg(sum(col("ca") * col("cb")).as("exact_pairs"))
      // broadcast hint is load-bearing: both sides are one-row aggs,
      // but without it the planner may pick a shuffled CartesianProduct
      // when a sibling suite's session conf disables auto-broadcast
      est.crossJoin(broadcast(exact))
        .withColumn("inflation", round(
          col("est_pairs").cast("double") / col("exact_pairs"), 4))
    },
      """WITH a AS (
           SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
         b AS (
           SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
           WHERE l_shipdate > TIMESTAMP '2000-01-01'),
         ska AS (
           SELECT d, ('0x' || substring(md5(CAST(d AS VARCHAR) || ':'
               || k), 1, 12))::BIGINT % 256 AS bucket,
             count(*)::BIGINT AS cnt
           FROM a, unnest([0, 1, 2, 3]) AS t(d) GROUP BY 1, 2),
         skb AS (
           SELECT d, ('0x' || substring(md5(CAST(d AS VARCHAR) || ':'
               || k), 1, 12))::BIGINT % 256 AS bucket,
             count(*)::BIGINT AS cntb
           FROM b, unnest([0, 1, 2, 3]) AS t(d) GROUP BY 1, 2),
         est AS (
           SELECT min(ip)::BIGINT AS est_pairs FROM (
             SELECT ska.d, sum(cnt * cntb)::BIGINT AS ip
             FROM ska JOIN skb USING (d, bucket) GROUP BY 1)),
         ex AS (
           SELECT sum(ca * cb)::BIGINT AS exact_pairs FROM (
             SELECT k, count(*)::BIGINT AS ca FROM a GROUP BY 1) fa
           JOIN (
             SELECT k, count(*)::BIGINT AS cb FROM b GROUP BY 1) fb
           USING (k))
         SELECT est_pairs, exact_pairs,
           round(est_pairs::DOUBLE / exact_pairs, 4) AS inflation
         FROM est CROSS JOIN ex"""),

    // BLOCK vs ROW SAMPLING BIAS (the scan-design lesson behind
    // TABLESAMPLE SYSTEM vs BERNOULLI): estimating mean line revenue
    // from a ~10% sample drawn by ROWS (md5 on the line identity) vs
    // by BLOCKS (md5 on l_orderkey — whole orders in or out, the way
    // block sampling admits whole files). Lines within an order are
    // correlated, so the block design pays a design effect the row
    // design doesn't; both estimators and the truth are exact-cents
    // sums with deterministic membership — the bias is measured, not
    // argued.
    QueryDef("q313_sampling_design", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      val tagged = li
        .withColumn("row_in", pmod(TF.md5Hash48(concat(
          col("ok").cast("string"), lit("_"), col("ln").cast("string"))),
          lit(10L)) === 0)
        .withColumn("blk_in", pmod(TF.md5Hash48(col("ok").cast("string")),
          lit(10L)) === 0)
      def est(flag: String, name: String) = tagged
        .filter(col(flag))
        .agg(lit(name).as("design"), count(lit(1)).as("n_rows"),
          round(sum(col("cents")).cast("double") / count(lit(1)) / 100.0,
            4).as("mean_price"))
      val truth = tagged.agg(lit("full").as("design"),
        count(lit(1)).as("n_rows"),
        round(sum(col("cents")).cast("double") / count(lit(1)) / 100.0, 4)
          .as("mean_price"))
      est("blk_in", "block10").unionByName(est("row_in", "row10"))
        .unionByName(truth)
        .orderBy("design")
    },
      """WITH li AS (
           SELECT l_orderkey AS ok, l_linenumber AS ln,
             round(l_extendedprice * 100)::BIGINT AS cents
           FROM lineitem),
         tg AS (
           SELECT cents,
             ('0x' || substring(md5('0:' || CAST(ok AS VARCHAR) || '_'
               || CAST(ln AS VARCHAR)), 1, 12))::BIGINT % 10 = 0 AS row_in,
             ('0x' || substring(md5('0:' || CAST(ok AS VARCHAR)), 1, 12))
               ::BIGINT % 10 = 0 AS blk_in
           FROM li)
         SELECT * FROM (
           SELECT 'block10' AS design, count(*)::BIGINT AS n_rows,
             round(sum(cents)::DOUBLE / count(*) / 100.0, 4) AS mean_price
           FROM tg WHERE blk_in
           UNION ALL
           SELECT 'row10', count(*)::BIGINT,
             round(sum(cents)::DOUBLE / count(*) / 100.0, 4)
           FROM tg WHERE row_in
           UNION ALL
           SELECT 'full', count(*)::BIGINT,
             round(sum(cents)::DOUBLE / count(*) / 100.0, 4)
           FROM tg)
         ORDER BY design"""),
  )
}
