package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SortedSumD.{sortedSum => ssum}
import graft.ops.{Caches, Similarity}
import graft.queries.Shared.t

/** Embedding similarity: brute-force and approximate nearest neighbours,
  * LSH, PQ and geometry diagnostics. Each entry pairs a query with its
  * DuckDB oracle ([[QueryDef]]). */
object SimilarityQueries {

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-k against the vec_id=0 query vector — the
    // ANN baseline: broadcast query, map-side score, TakeOrdered.
    QueryDef("q22_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val query = Caches.small(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q")))
      Similarity.cosineTopK(emb, "vec_id", "embedding", query, k = 10)
        .orderBy(col("cos").desc, col("vec_id"))
    },
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         s AS (
           SELECT vec_id, round(
             list_sum(list_transform(range(1, len(embedding)+1),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, len(embedding)+1),
                 i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, len(qv)+1),
                 i -> CAST(qv[i] AS DOUBLE)*CAST(qv[i] AS DOUBLE))))), 4)
             AS cos
           FROM embeddings, q)
         SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id LIMIT 10"""),

    // Embedding-cosine near-duplicate pairs above a threshold — the
    // SCALE path: multi-table sign-LSH blocking (8 tables × 4 planes,
    // key-equality join on the bucket — no cross join, no corpus
    // broadcast), exact cosine verified on candidates only. The O(n²)
    // brute-force form stays a spec-level recall oracle (OpsSpec).
    QueryDef("q23_embedding_neardup", (s, dir) => {
      // planesPerTable omitted → derived as log₂(corpus/targetBucket)
      // (Similarity.resolvePlanes): 4 at the gate SFs — bit-identical
      // to the oracle's pinned range(0,4) — and 8+ at 10×+ corpora,
      // where fixed geometry was measured pair-quadratic (SCALE.md §6g)
      Similarity.cosineNearDupPairsBucketed(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4, tables = 8, dims = 64)
        .orderBy("id_a", "id_b")
    },
      """WITH banded AS (
           SELECT vec_id,
             unnest(list_transform(range(0,8), t ->
               CAST(t AS VARCHAR) || ':' ||
               CAST(CAST(list_sum(list_transform(range(0,4), p ->
                 CASE WHEN list_sum(list_transform(range(1,65), i ->
                   CAST(embedding[i] AS DOUBLE) *
                   ((((('0x' || substring(md5(CAST(t*4+p AS VARCHAR) || '_'
                         || CAST(i-1 AS VARCHAR)),1,12))::BIGINT) % 1000)
                     / 500.0) - 1.0))) >= 0
                 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS VARCHAR)))
               AS band_key
           FROM embeddings),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM banded a JOIN banded b
             ON a.band_key = b.band_key AND a.vec_id < b.vec_id),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1, len(embedding)+1),
               i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
               AS nrm
           FROM embeddings),
         p AS (
           SELECT id_a, id_b, round(
             list_sum(list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
             / (a.nrm * b.nrm), 4) AS cos
           FROM cand JOIN v a ON cand.id_a = a.vec_id
                     JOIN v b ON cand.id_b = b.vec_id)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4
         ORDER BY id_a, id_b"""),

    // IVF ANN: deterministic centroids (vec_id<8), assign-by-max-cosine,
    // probe only the query's cluster — the partition-pruned scale path.
    QueryDef("q24_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = Caches.small(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv")))
      val query = Caches.small(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q")))
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
        centroids, "cid", "cv")
      Similarity.ivfTopK(assigned, "vec_id", "embedding",
          centroids, "cid", "cv", query, k = 5, nprobe = 1)
        .orderBy(col("cos").desc, col("vec_id"))
    },
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                       FROM embeddings WHERE vec_id < 8),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id, e.embedding, c.cid, round(
             list_sum(list_transform(range(1, len(e.embedding)+1),
               i -> CAST(e.embedding[i] AS DOUBLE)*CAST(c.cv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
                 i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, len(c.cv)+1),
                 i -> CAST(c.cv[i] AS DOUBLE)*CAST(c.cv[i] AS DOUBLE))))), 6)
             AS cs
           FROM embeddings e CROSS JOIN cent c),
         assigned AS (
           SELECT vec_id, embedding, cid AS cluster FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY cs DESC, cid) AS rn FROM scored)
           WHERE rn = 1),
         qcl AS (
           SELECT cid AS cluster FROM (
             SELECT c.cid, round(
               list_sum(list_transform(range(1, len(c.cv)+1),
                 i -> CAST(c.cv[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, len(c.cv)+1),
                   i -> CAST(c.cv[i] AS DOUBLE)*CAST(c.cv[i] AS DOUBLE))))
                 * sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
                   i -> CAST(q.qv[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE))))), 6)
               AS cs
             FROM cent c CROSS JOIN q)
           ORDER BY cs DESC, cid LIMIT 1),
         hits AS (
           SELECT a.vec_id, round(
             list_sum(list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, len(q.qv)+1),
                 i -> CAST(q.qv[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE))))), 4)
             AS cos
           FROM assigned a JOIN qcl ON a.cluster = qcl.cluster CROSS JOIN q)
         SELECT vec_id, cos FROM hits ORDER BY cos DESC, vec_id LIMIT 5"""),

    // Sign-LSH bucketing over embeddings — the map-side blocking step of
    // bucketed ANN (deterministic md5-derived hyperplanes).
    QueryDef("q31_embedding_lsh", (s, dir) => {
      Similarity.lshBuckets(t(s, dir, "embeddings"), "vec_id", "embedding",
          planes = 4, dims = 64)
        .orderBy("vec_id")
    },
      """SELECT vec_id,
           CAST(list_sum(list_transform(range(0,4), p ->
             CASE WHEN list_sum(list_transform(range(1,65), i ->
               CAST(embedding[i] AS DOUBLE) *
               ((((('0x' || substring(md5(CAST(p AS VARCHAR) || '_'
                     || CAST(i-1 AS VARCHAR)),1,12))::BIGINT) % 1000)
                 / 500.0) - 1.0))) >= 0
             THEN (1::BIGINT << p) ELSE 0 END)) AS INTEGER) AS bucket
         FROM embeddings ORDER BY vec_id"""),

    // Product quantization ANN: deterministic codebooks (subvectors of
    // vec_id<16), per-subspace argmin encode, asymmetric-distance (ADC)
    // top-k — the compressed-index scale path (m bytes per vector at
    // query time, no full vectors touched).
    QueryDef("q49_ann_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, k = 16, dims = 64)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding",
        cb, m = 4, dims = 64)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q"))
      Similarity.pqTopK(codes, "vec_id", cb, query, m = 4, dims = 64, k = 10)
        .orderBy(col("adc"), col("vec_id"))
    },
      """WITH js AS (SELECT unnest(range(0,4)) AS j),
         cb AS (
           SELECT j, vec_id AS c,
             list_transform(range(1,17),
               i -> CAST(embedding[j*16+i] AS DOUBLE)) AS cv
           FROM embeddings CROSS JOIN js WHERE vec_id < 16),
         sub AS (
           SELECT vec_id, j,
             list_transform(range(1,17),
               i -> CAST(embedding[j*16+i] AS DOUBLE)) AS sv
           FROM embeddings CROSS JOIN js),
         scored AS (
           SELECT vec_id, sub.j, c, round(
             list_sum(list_transform(range(1,17), i -> sv[i]*sv[i]))
             - 2.0 * list_sum(list_transform(range(1,17), i -> sv[i]*cv[i]))
             + list_sum(list_transform(range(1,17), i -> cv[i]*cv[i])), 6)
             AS d
           FROM sub JOIN cb ON sub.j = cb.j),
         codes AS (
           SELECT vec_id, j, c AS code FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, j
               ORDER BY d, c) AS rn FROM scored)
           WHERE rn = 1),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         qsub AS (
           SELECT j, list_transform(range(1,17),
             i -> CAST(qe[j*16+i] AS DOUBLE)) AS qs
           FROM q CROSS JOIN js),
         tbl AS (
           SELECT qsub.j, c AS code, round(
             list_sum(list_transform(range(1,17), i -> qs[i]*qs[i]))
             - 2.0 * list_sum(list_transform(range(1,17), i -> qs[i]*cv[i]))
             + list_sum(list_transform(range(1,17), i -> cv[i]*cv[i])), 6)
             AS d
           FROM cb JOIN qsub ON cb.j = qsub.j),
         adc AS (
           SELECT vec_id,
             round(list_sum(list(d ORDER BY codes.j)), 4) AS adc
           FROM codes JOIN tbl ON codes.j = tbl.j AND codes.code = tbl.code
           GROUP BY vec_id)
         SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT 10"""),

    // Grouped embedding CENTROIDS (Similarity.groupCentroids): per-label
    // mean vector in long (label, pos, centroid) form — one shuffle
    // keyed on (label, dim) after a map-side posexplode; the class-
    // prototype op every embedding pipeline runs. TWO-LEVEL sorted-fold
    // means bucketed by vec_id%4096 (q82 discipline): bit-exact across
    // engines AND no buffer ever holds a whole label's rows — one label
    // over a 100 TB corpus would OOM a single-level fold.
    QueryDef("q87_group_centroid", (s, dir) => {
      Similarity.groupCentroids(t(s, dir, "embeddings"), "label",
          "embedding", bucket = Some(col("vec_id")))
        .select(col("label"), col("pos"),
          round(col("centroid"), 6).as("centroid"))
        .orderBy("label", "pos")
    },
      """WITH x AS (
           SELECT label, vec_id % 4096 AS b, i - 1 AS pos,
             CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
         l1 AS (
           SELECT label, pos, b,
             list_sum(list_sort(list(v))) AS s1, count(v) AS n1
           FROM x GROUP BY 1, 2, 3)
         SELECT label, pos,
           round(list_sum(list_sort(list(s1))) / sum(n1), 6) AS centroid
         FROM l1 GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Batch k-NN JOIN (Similarity.knnJoin): every embedding's top-3
    // neighbors via the q23 multi-table sign-LSH blocking (key-equality
    // band joins only), directed candidate mirror, per-query window
    // top-k. The all-queries ANN workload — graph construction /
    // retrieval labeling — with the oracle replaying hyperplanes,
    // blocking, and ranking end-to-end.
    QueryDef("q91_knn_join", (s, dir) => {
      // auto blocking geometry (q23 discipline): derived planes = the
      // pinned 4 at gate SFs, log₂-scaled beyond
      Similarity.knnJoin(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3, tables = 8, dims = 64)
        .orderBy("qid", "rank")
    },
      """WITH banded AS (
           SELECT vec_id,
             unnest(list_transform(range(0,8), t ->
               CAST(t AS VARCHAR) || ':' ||
               CAST(CAST(list_sum(list_transform(range(0,4), p ->
                 CASE WHEN list_sum(list_transform(range(1,65), i ->
                   CAST(embedding[i] AS DOUBLE) *
                   ((((('0x' || substring(md5(CAST(t*4+p AS VARCHAR) || '_'
                         || CAST(i-1 AS VARCHAR)),1,12))::BIGINT) % 1000)
                     / 500.0) - 1.0))) >= 0
                 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS VARCHAR)))
               AS band_key
           FROM embeddings),
         cand AS (
           SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
           FROM banded a JOIN banded b
             ON a.band_key = b.band_key AND a.vec_id <> b.vec_id),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1, len(embedding)+1),
               i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
               AS nrm
           FROM embeddings),
         p AS (
           SELECT qid, nid, round(
             list_sum(list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
             / (a.nrm * b.nrm), 4) AS cos
           FROM cand JOIN v a ON cand.qid = a.vec_id
                     JOIN v b ON cand.nid = b.vec_id),
         r AS (
           SELECT qid, nid, cos, row_number() OVER (
             PARTITION BY qid ORDER BY cos DESC, nid) AS rank
           FROM p)
         SELECT qid, nid, cos, rank FROM r WHERE rank <= 3
         ORDER BY qid, rank"""),

    // SemDeDup-style SEMANTIC dedup (Similarity.semanticDedup):
    // cluster against the q24 seeded centroids, exemplar per cluster
    // (max cosine, id tie-break), drop members with cosine >= 0.4 to
    // their exemplar. Linear member⋈exemplar comparison — the scale-
    // bounded special case of intra-cluster pairwise pruning.
    QueryDef("q92_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = Caches.small(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv")))
      Similarity.semanticDedup(emb, "vec_id", "embedding",
          centroids, "cid", "cv", threshold = 0.4)
        .orderBy("vec_id")
    },
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                       FROM embeddings WHERE vec_id < 8),
         nv AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1, len(embedding)+1),
               i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
               AS nrm
           FROM embeddings),
         nc AS (SELECT cid, cv,
             sqrt(list_sum(list_transform(range(1, len(cv)+1),
               i -> CAST(cv[i] AS DOUBLE)*CAST(cv[i] AS DOUBLE)))) AS nrm
           FROM cent),
         scored AS (
           SELECT e.vec_id, e.embedding, e.nrm AS enrm, c.cid, round(
             list_sum(list_transform(range(1, len(e.embedding)+1),
               i -> CAST(e.embedding[i] AS DOUBLE)*CAST(c.cv[i] AS DOUBLE)))
             / (e.nrm * c.nrm), 6) AS cs
           FROM nv e CROSS JOIN nc c),
         assigned AS (
           SELECT vec_id, embedding, enrm, cid AS cluster, cs FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY cs DESC, cid) AS rn FROM scored)
           WHERE rn = 1),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY cluster
             ORDER BY cs DESC, vec_id) AS rn
           FROM assigned),
         ex AS (SELECT cluster, vec_id AS eid, embedding AS ev,
                  enrm AS enrm_e
                FROM ranked WHERE rn = 1),
         sim AS (
           SELECT r.vec_id, r.cluster, r.cs, x.eid, round(
             list_sum(list_transform(range(1, len(r.embedding)+1),
               i -> CAST(r.embedding[i] AS DOUBLE)*CAST(x.ev[i] AS DOUBLE)))
             / (r.enrm * x.enrm_e), 4) AS cos_ex
           FROM ranked r JOIN ex x USING (cluster))
         SELECT vec_id, cluster, cs, cos_ex,
           CAST(CASE WHEN vec_id = eid OR cos_ex < 0.4 THEN 1 ELSE 0 END
             AS BIGINT) AS keep
         FROM sim ORDER BY vec_id"""),

    // Embedding-dimension COVARIANCE (Similarity.dimCovariance): the
    // d(d+1)/2-cell Gram/covariance profile (first 8 dims here), one
    // (i,j)-keyed aggregation after map-side pair expansion; sorted-fold
    // sums → bit-exact.
    QueryDef("q93_dim_covariance", (s, dir) => {
      Similarity.dimCovariance(t(s, dir, "embeddings"), "embedding",
          dims = 8, bucket = Some(col("vec_id")))
        .orderBy("i", "j")
    },
      """WITH p AS (
           SELECT i, j, vec_id % 4096 AS b,
                  CAST(embedding[i + 1] AS DOUBLE) AS xi,
                  CAST(embedding[j + 1] AS DOUBLE) AS xj
           FROM embeddings, unnest(range(0, 8)) AS t1(i),
                unnest(range(0, 8)) AS t2(j)
           WHERE j >= i),
         l1 AS (
           SELECT i, j, b,
             list_sum(list_sort(list(xi * xj))) AS sxy1,
             list_sum(list_sort(list(xi))) AS sx1,
             list_sum(list_sort(list(xj))) AS sy1,
             count(*) AS n1
           FROM p GROUP BY 1, 2, 3),
         st AS (
           SELECT i, j,
             list_sum(list_sort(list(sxy1))) AS sxy,
             list_sum(list_sort(list(sx1))) AS sx,
             list_sum(list_sort(list(sy1))) AS sy,
             CAST(sum(n1) AS DOUBLE) AS n
           FROM l1 GROUP BY 1, 2)
         SELECT i, j, round((sxy - sx * sy / n) / n, 6) AS cov
         FROM st ORDER BY 1, 2"""),

    // Symmetric int8 embedding quantization — per-vector max-abs scale,
    // codes = round(127·x/scale): the 4× shrink before ANN serving.
    // Map-side transform() over built-ins, no shuffle. The codes ARRAY is
    // serialized to CSV on both sides so the driver gate sorts/hashes
    // scalars (pandas can't sort ndarray cells).
    QueryDef("q100_quantize_int8", (s, dir) => {
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"),
          array_join(col("codes").cast("array<string>"), ",").as("codes_csv"),
          col("scale"))
        .orderBy("vec_id")
    },
      // Same double sequence: float→double is exact, 127 is exact, round
      // is half-away-from-zero in both engines. Codes serialized to CSV so
      // the gate hashes scalars (see the Spark side).
      """WITH s AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               x -> abs(x::DOUBLE))) AS scale
           FROM embeddings)
         SELECT vec_id,
           array_to_string(
             CASE WHEN scale = 0
               THEN list_transform(embedding, x -> 0)
               ELSE list_transform(embedding, x -> greatest(-127, least(127,
                 CAST(round(x::DOUBLE * 127.0 / scale) AS INTEGER))))
             END, ',') AS codes_csv,
           scale
         FROM s ORDER BY vec_id"""),

    // EMBEDDING ISOTROPY DIAGNOSTICS (mean-vector norm vs mean squared
    // norm — anisotropic embeddings break cosine retrieval, Ethayarajh
    // EMNLP'19): per-dimension means through the q93 TWO-LEVEL bucketed
    // folds (no per-dim buffer scales with corpus), per-row norms
    // folded within the 64-dim row then two-level across rows.
    QueryDef("q231_embedding_isotropy", (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"))
        .withColumn("bk", pmod(col("vec_id"), lit(4096)))
      val cells = emb.select(col("bk"), posexplode(col("v")))
        .groupBy(col("pos"), col("bk"))
        .agg(ssum(collect_list(col("col"))).as("s1"),
          count(lit(1)).as("n1"))
      val mu = cells.groupBy("pos")
        .agg((ssum(collect_list(col("s1"))) / sum(col("n1"))).as("mu"))
      val mu2 = mu.agg(ssum(collect_list(col("mu") * col("mu")))
        .as("mu_norm2"), count(lit(1)).as("dims"))
      val norms = emb.select(col("bk"),
          aggregate(expr("transform(v, x -> x * x)"), lit(0.0),
            (a, x) => a + x).as("n2"))
        .groupBy("bk")
        .agg(ssum(collect_list(sqrt(col("n2")))).as("sn"),
          ssum(collect_list(col("n2"))).as("sn2"),
          count(lit(1)).as("nb"))
      val agg2 = norms.agg(ssum(collect_list(col("sn"))).as("sn"),
        ssum(collect_list(col("sn2"))).as("sn2"),
        sum(col("nb")).as("n"))
      agg2.crossJoin(broadcast(mu2))
        .select(col("n"), col("dims").cast("long").as("dims"),
          round(col("sn") / col("n"), 6).as("mean_norm"),
          round(col("mu_norm2") / (col("sn2") / col("n")), 6)
            .as("isotropy"))
    },
      """WITH e AS (
           SELECT vec_id, vec_id % 4096 AS bk,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         px AS (
           SELECT bk, u.pos, u.x FROM e,
             LATERAL (SELECT unnest(range(1, len(v) + 1)) AS pos,
               unnest(v) AS x) u),
         cells AS (
           SELECT pos, bk, list_sum(list_sort(list(x))) AS s1,
             count(*)::BIGINT AS n1
           FROM px GROUP BY 1, 2),
         mu AS (
           SELECT pos, list_sum(list_sort(list(s1))) / sum(n1) AS mu
           FROM cells GROUP BY 1),
         mu2 AS (
           SELECT list_sum(list_sort(list(mu * mu))) AS mu_norm2,
             count(*)::BIGINT AS dims
           FROM mu),
         rows_ AS (
           SELECT bk,
             list_sum(list_transform(v, x -> x * x)) AS n2
           FROM e),
         l1 AS (
           SELECT bk, list_sum(list_sort(list(sqrt(n2)))) AS sn,
             list_sum(list_sort(list(n2))) AS sn2,
             count(*)::BIGINT AS nb
           FROM rows_ GROUP BY 1),
         l2 AS (
           SELECT list_sum(list_sort(list(sn))) AS sn,
             list_sum(list_sort(list(sn2))) AS sn2,
             sum(nb)::BIGINT AS n
           FROM l1)
         SELECT n, dims, round(sn / n, 6) AS mean_norm,
           round(mu_norm2 / (sn2 / n), 6) AS isotropy
         FROM l2 CROSS JOIN mu2"""),

    // ANN RECALL@10 EVALUATION (the metric that justifies an
    // approximate index): IVF(nprobe=1) hits vs brute-force truth for
    // a deterministic query panel, recall per query + the panel mean.
    // Truth and approx both rank by round-6 cosine with id tie-break
    // (the q24 determinism contract); candidate scoring touches only
    // the probed cluster.
    QueryDef("q232_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // Caches.small: the panel build side becomes a checkpointed scan
      // the plan gate PROVES bounded (no allowlist entry needed)
      val queries = Caches.small(emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("q")))
      val exact = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("q")), 6)
            .as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
      val centroids = Caches.small(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv")))
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
        centroids, "cid", "cv")
      val qcl = queries.crossJoin(broadcast(centroids))
        .select(col("qid"), col("q"), col("cid"),
          round(Similarity.cosine(col("q"), col("cv")), 6).as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("cid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("q"), col("cid").as("cluster"))
      val approx = assigned.join(broadcast(qcl), Seq("cluster"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("q")), 6)
            .as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
      exact.join(approx.select(col("qid"), col("vec_id"), lit(1).as("hit")),
          Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_truth"), 4))
        .orderBy("qid")
    },
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm
           FROM e),
         qs AS (
           SELECT vec_id AS qid, v AS q, nm AS qn FROM nr
           WHERE vec_id % 101 = 0),
         cent AS (
           SELECT vec_id AS cid, v AS cv, nm AS cn FROM nr
           WHERE vec_id < 16),
         exact AS (
           SELECT qid, vec_id FROM (
             SELECT q.qid, n.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * q.q[i])) / (n.nm * q.qn), 6) DESC,
                 n.vec_id) AS rn
             FROM nr n CROSS JOIN qs q WHERE n.vec_id <> q.qid)
           WHERE rn <= 10),
         assigned AS (
           SELECT vec_id, v, nm, cid AS cluster FROM (
             SELECT n.vec_id, n.v, n.nm, c.cid,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * c.cv[i])) / (n.nm * c.cn), 6) DESC,
                 c.cid) AS rn
             FROM nr n CROSS JOIN cent c)
           WHERE rn = 1),
         qcl AS (
           SELECT qid, q, qn, cid AS cluster FROM (
             SELECT s.qid, s.q, s.qn, c.cid,
               row_number() OVER (PARTITION BY s.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(s.q) + 1),
                   i -> s.q[i] * c.cv[i])) / (s.qn * c.cn), 6) DESC,
                 c.cid) AS rn
             FROM qs s CROSS JOIN cent c)
           WHERE rn = 1),
         approx AS (
           SELECT qid, vec_id FROM (
             SELECT k.qid, a.vec_id,
               row_number() OVER (PARTITION BY k.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(a.v) + 1),
                   i -> a.v[i] * k.q[i])) / (a.nm * k.qn), 6) DESC,
                 a.vec_id) AS rn
             FROM assigned a JOIN qcl k ON a.cluster = k.cluster
             WHERE a.vec_id <> k.qid)
           WHERE rn <= 10)
         SELECT e.qid, count(*)::BIGINT AS n_truth,
           sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             ::BIGINT AS n_hit,
           round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             ::DOUBLE / count(*), 4) AS recall
         FROM exact e LEFT JOIN approx ap
           ON e.qid = ap.qid AND e.vec_id = ap.vec_id
         GROUP BY 1 ORDER BY 1"""),

    // HARD-NEGATIVE MINING (the contrastive-training data op: for each
    // anchor, the most similar vector with a DIFFERENT label): a
    // deterministic anchor panel broadcast against the corpus, top
    // cross-label cosine by the q24 round-6 rank contract. At corpus
    // scale the panel loop is the same broadcast shape — candidates
    // would come from the LSH buckets instead of a full scan.
    QueryDef("q244_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val anchors = Caches.small(emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("aid"), col("embedding").as("av"),
          col("label").as("albl")))
      emb.crossJoin(broadcast(anchors))
        .filter(col("label") =!= col("albl"))
        .select(col("aid"), col("albl"), col("vec_id"), col("label"),
          round(Similarity.cosine(col("embedding"), col("av")), 6)
            .as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("aid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("aid"), col("albl"), col("vec_id").as("hard_neg"),
          col("label").as("neg_label"), col("cs").as("cosine"))
        .orderBy("aid")
    },
      """WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm
           FROM e),
         an AS (
           SELECT vec_id AS aid, label AS albl, v AS av, nm AS anm
           FROM nr WHERE vec_id % 101 = 0),
         sc AS (
           SELECT an.aid, an.albl, nr.vec_id, nr.label,
             round(list_sum(list_transform(range(1, len(nr.v) + 1),
               i -> nr.v[i] * an.av[i])) / (nr.nm * an.anm), 6) AS cs,
             row_number() OVER (PARTITION BY an.aid ORDER BY
               round(list_sum(list_transform(range(1, len(nr.v) + 1),
                 i -> nr.v[i] * an.av[i])) / (nr.nm * an.anm), 6)
               DESC, nr.vec_id) AS rn
           FROM nr CROSS JOIN an WHERE nr.label <> an.albl)
         SELECT aid, albl, vec_id AS hard_neg, label AS neg_label,
           cs AS cosine
         FROM sc WHERE rn = 1 ORDER BY aid"""),

    // kNN LABEL PURITY (label-noise screening: if a vector's neighbors
    // disagree with its label, the label is suspect): for the anchor
    // panel, the 5 nearest neighbors' label agreement per anchor and
    // the per-label mean purity. Same broadcast-panel shape as q244;
    // purity from exact integer votes.
    QueryDef("q246_knn_label_purity", (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val anchors = Caches.small(emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("aid"), col("embedding").as("av"),
          col("label").as("albl")))
      val nn = emb.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("aid"))
        .select(col("aid"), col("albl"), col("label"),
          round(Similarity.cosine(col("embedding"), col("av")), 6)
            .as("cs"), col("vec_id"))
        .withColumn("rn", row_number().over(Window.partitionBy("aid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
      nn.groupBy("aid", "albl")
        .agg(sum(when(col("label") === col("albl"), 1L).otherwise(0L))
          .as("agree"))
        .groupBy(col("albl").as("label"))
        .agg(count(lit(1)).as("n_anchors"),
          sum(col("agree")).as("n_agree"),
          round(sum(col("agree")).cast("double") /
            (count(lit(1)) * 5), 4).as("mean_purity"))
        .orderBy("label")
    },
      """WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id, label, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm
           FROM e),
         an AS (
           SELECT vec_id AS aid, label AS albl, v AS av, nm AS anm
           FROM nr WHERE vec_id % 101 = 0),
         sc AS (
           SELECT an.aid, an.albl, nr.label,
             row_number() OVER (PARTITION BY an.aid ORDER BY
               round(list_sum(list_transform(range(1, len(nr.v) + 1),
                 i -> nr.v[i] * an.av[i])) / (nr.nm * an.anm), 6)
               DESC, nr.vec_id) AS rn
           FROM nr CROSS JOIN an WHERE nr.vec_id <> an.aid),
         ag AS (
           SELECT aid, albl,
             sum(CASE WHEN label = albl THEN 1 ELSE 0 END)::BIGINT
               AS agree
           FROM sc WHERE rn <= 5 GROUP BY 1, 2)
         SELECT albl AS label, count(*)::BIGINT AS n_anchors,
           sum(agree)::BIGINT AS n_agree,
           round(sum(agree)::DOUBLE / (count(*) * 5), 4)
             AS mean_purity
         FROM ag GROUP BY 1 ORDER BY 1"""),

    // LABEL-CENTROID SIMILARITY MATRIX (the label-noise / class-overlap
    // diagnostic): per-label mean embedding at the (label, dim) grain
    // with sorted-fold sums (bit-exact under any partitioning), then
    // pairwise centroid cosine via a dim-keyed self-join — label² pairs
    // of 64-term folds, all metadata-sized. Classes whose centroids
    // cosine ≈ 1 are candidates for merged or mislabeled data.
    QueryDef("q287_label_centroids", (s, dir) => {
      val cells = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).as("dim"),
          col("col").cast("double").as("v"))
      val cent = cells.groupBy("label", "dim")
        .agg((ssum(collect_list(col("v"))) / count(lit(1))).as("m"))
      cent.select(col("label").as("la"), col("dim"), col("m").as("ma"))
        .join(cent.select(col("label").as("lb"), col("dim"),
          col("m").as("mb")), Seq("dim"))
        .filter(col("la") < col("lb"))
        .groupBy("la", "lb")
        .agg(ssum(collect_list(col("ma") * col("mb"))).as("dot"),
          ssum(collect_list(col("ma") * col("ma"))).as("na"),
          ssum(collect_list(col("mb") * col("mb"))).as("nb"))
        .select(col("la").as("label_a"), col("lb").as("label_b"),
          round(col("dot") / sqrt(col("na") * col("nb")), 6)
            .as("cosine"))
        .orderBy("label_a", "label_b")
    },
      """WITH cells AS (
           SELECT label, i AS dim, embedding[i]::DOUBLE AS v
           FROM embeddings CROSS JOIN range(1, 65) r(i)),
         cent AS (
           SELECT label, dim,
             list_sum(list_sort(list(v))) / count(*) AS m
           FROM cells GROUP BY 1, 2),
         p AS (
           SELECT a.label AS la, b.label AS lb, a.m AS ma, b.m AS mb
           FROM cent a JOIN cent b USING (dim)
           WHERE a.label < b.label)
         SELECT la AS label_a, lb AS label_b,
           round(list_sum(list_sort(list(ma * mb)))
             / sqrt(list_sum(list_sort(list(ma * ma)))
                  * list_sum(list_sort(list(mb * mb)))), 6) AS cosine
         FROM p GROUP BY 1, 2 ORDER BY 1, 2"""),

    // RETRIEVAL MRR@10 (the ranking-eval companion to q232's
    // recall@10): per probe, the brute-force TOP-1 neighbor is the
    // relevant item; the IVF system list (q24 path) is scored by the
    // reciprocal of the rank at which it surfaces (0 beyond depth 10).
    // Per-probe reciprocal ranks plus the corpus MRR (sorted fold over
    // the probe grain) on every row.
    QueryDef("q293_retrieval_mrr", (s, dir) => {
      val d = (c: Column) => c.cast("double")
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // Caches.small: the panel build side becomes a checkpointed scan
      // the plan gate PROVES bounded (no allowlist entry needed)
      val queries = Caches.small(emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("q")))
      val truth = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("q")), 6)
            .as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("truth_id"))
      val centroids = Caches.small(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv")))
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
        centroids, "cid", "cv")
      val qcl = queries.crossJoin(broadcast(centroids))
        .select(col("qid"), col("q"), col("cid"),
          round(Similarity.cosine(col("q"), col("cv")), 6).as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("cid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("q"), col("cid").as("cluster"))
      val approx = assigned.join(broadcast(qcl), Seq("cluster"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("q")), 6)
            .as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
      val scored = truth
        .join(approx.select(col("qid"), col("vec_id").as("truth_id"),
          col("rn").as("sys_rank")), Seq("qid", "truth_id"), "left")
        .withColumn("rr", when(col("sys_rank").isNotNull,
          lit(1.0) / col("sys_rank")).otherwise(lit(0.0)))
      val mrr = scored.agg(
        round(ssum(collect_list(col("rr"))) / count(lit(1)), 6)
          .as("mrr"))
      scored.crossJoin(broadcast(mrr))
        .select(col("qid"), col("truth_id"),
          coalesce(col("sys_rank"), lit(0)).as("sys_rank"),
          round(col("rr"), 6).as("rr"), col("mrr"))
        .orderBy("qid")
    },
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm
           FROM e),
         qs AS (
           SELECT vec_id AS qid, v AS q, nm AS qn FROM nr
           WHERE vec_id % 101 = 0),
         cent AS (
           SELECT vec_id AS cid, v AS cv, nm AS cn FROM nr
           WHERE vec_id < 16),
         truth AS (
           SELECT qid, vec_id AS truth_id FROM (
             SELECT q.qid, n.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * q.q[i])) / (n.nm * q.qn), 6) DESC,
                 n.vec_id) AS rn
             FROM nr n CROSS JOIN qs q WHERE n.vec_id <> q.qid)
           WHERE rn = 1),
         assigned AS (
           SELECT vec_id, v, nm, cid AS cluster FROM (
             SELECT n.vec_id, n.v, n.nm, c.cid,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * c.cv[i])) / (n.nm * c.cn), 6) DESC,
                 c.cid) AS rn
             FROM nr n CROSS JOIN cent c)
           WHERE rn = 1),
         qcl AS (
           SELECT qid, q, qn, cid AS cluster FROM (
             SELECT s.qid, s.q, s.qn, c.cid,
               row_number() OVER (PARTITION BY s.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(s.q) + 1),
                   i -> s.q[i] * c.cv[i])) / (s.qn * c.cn), 6) DESC,
                 c.cid) AS rn
             FROM qs s CROSS JOIN cent c)
           WHERE rn = 1),
         approx AS (
           SELECT qid, vec_id, rn AS sys_rank FROM (
             SELECT k.qid, a.vec_id,
               row_number() OVER (PARTITION BY k.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(a.v) + 1),
                   i -> a.v[i] * k.q[i])) / (a.nm * k.qn), 6) DESC,
                 a.vec_id) AS rn
             FROM assigned a JOIN qcl k ON a.cluster = k.cluster
             WHERE a.vec_id <> k.qid)
           WHERE rn <= 10),
         scored AS (
           SELECT t.qid, t.truth_id, a.sys_rank,
             CASE WHEN a.sys_rank IS NOT NULL
               THEN 1.0 / a.sys_rank ELSE 0.0 END AS rr
           FROM truth t LEFT JOIN approx a
             ON a.qid = t.qid AND a.vec_id = t.truth_id),
         m AS (
           SELECT round(list_sum(list_sort(list(rr))) / count(*), 6)
             AS mrr
           FROM scored)
         SELECT qid, truth_id,
           coalesce(sys_rank, 0)::BIGINT AS sys_rank,
           round(rr, 6) AS rr, mrr
         FROM scored CROSS JOIN m ORDER BY qid"""),

    // EMBEDDING-GEOMETRY DIAGNOSTIC: cosine-distance histogram from a
    // fixed probe panel against the corpus (0.05-wide buckets of
    // 1−cos) — concentration of the distance distribution is the
    // high-dimensional pathology check run before trusting any ANN
    // index. Probe-set broadcast, integer bucketing of the rounded
    // cosine (exact cross-engine).
    QueryDef("q297_distance_histogram", (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val probes = Caches.small(emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("q")))
      emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("qid"))
        .select(floor((lit(1.0) -
          round(Similarity.cosine(col("embedding"), col("q")), 6))
          / 0.05).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("dist_lo", round(col("bucket") * 0.05, 2))
        .orderBy("bucket")
    },
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm
           FROM e),
         qs AS (
           SELECT vec_id AS qid, v AS q, nm AS qn FROM nr
           WHERE vec_id % 101 = 0),
         d AS (
           SELECT floor((1.0 -
             round(list_sum(list_transform(range(1, len(n.v) + 1),
               i -> n.v[i] * q.q[i])) / (n.nm * q.qn), 6)) / 0.05)
             ::BIGINT AS bucket
           FROM nr n CROSS JOIN qs q WHERE n.vec_id <> q.qid)
         SELECT bucket, count(*)::BIGINT AS n_pairs,
           round(bucket * 0.05, 2) AS dist_lo
         FROM d GROUP BY 1 ORDER BY 1"""),

    // HUBNESS (the other high-dim pathology: a few points appearing in
    // EVERYONE's top-k): in-degree of the k-NN graph from the q91
    // LSH-bucketed kNN join, rolled to an in-degree histogram. A heavy
    // hub tail says the metric space needs re-scaling (e.g. q253
    // rank-gauss) before nearest-neighbor labels can be trusted.
    QueryDef("q298_hubness", (s, dir) => {
      val knn = Similarity.knnJoin(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 3, tables = 8, dims = 64)
      val indeg = knn.groupBy(col("nid")).agg(count(lit(1)).as("indeg"))
      indeg.groupBy("indeg")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("indeg")
    },
      """WITH banded AS (
           SELECT vec_id,
             unnest(list_transform(range(0,8), t ->
               CAST(t AS VARCHAR) || ':' ||
               CAST(CAST(list_sum(list_transform(range(0,4), p ->
                 CASE WHEN list_sum(list_transform(range(1,65), i ->
                   CAST(embedding[i] AS DOUBLE) *
                   ((((('0x' || substring(md5(CAST(t*4+p AS VARCHAR) || '_'
                         || CAST(i-1 AS VARCHAR)),1,12))::BIGINT) % 1000)
                     / 500.0) - 1.0))) >= 0
                 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS VARCHAR)))
               AS band_key
           FROM embeddings),
         cand AS (
           SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
           FROM banded a JOIN banded b
             ON a.band_key = b.band_key AND a.vec_id <> b.vec_id),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(range(1, len(embedding)+1),
               i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
               AS nrm
           FROM embeddings),
         p AS (
           SELECT qid, nid, round(
             list_sum(list_transform(range(1, len(a.embedding)+1),
               i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
             / (a.nrm * b.nrm), 4) AS cos
           FROM cand JOIN v a ON cand.qid = a.vec_id
                     JOIN v b ON cand.nid = b.vec_id),
         r AS (
           SELECT qid, nid, row_number() OVER (
             PARTITION BY qid ORDER BY cos DESC, nid) AS rank
           FROM p),
         knn AS (SELECT qid, nid FROM r WHERE rank <= 3),
         ind AS (
           SELECT nid, count(*)::BIGINT AS indeg FROM knn GROUP BY 1)
         SELECT indeg, count(*)::BIGINT AS n_vectors
         FROM ind GROUP BY 1 ORDER BY 1"""),

    // MULTI-PROBE sign-LSH (Lv et al., VLDB '07): instead of more hash
    // tables, probe the buckets that differ from the query's bucket in
    // ONE plane bit — 9 probes from a single 8-plane table. Recall of
    // the true top-10 under exact-bucket vs 1-bit-probe candidate
    // sets, measured per query against the brute-force truth. Bucket
    // membership IS hamming distance on the bucket codes, so the
    // probe test is bit_count(xor) ≤ 1 — no candidate join at all.
    // The panel crossJoin rides the q232 fixed-probe-set pattern.
    QueryDef("q302_multiprobe_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"))
      // Caches.small: the panel build side becomes a checkpointed scan
      // the plan gate PROVES bounded (no allowlist entry needed)
      val queries = Caches.small(emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("q")))
      val truth = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("q")), 6)
            .as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .select("qid", "vec_id")
      val buckets = Similarity.lshBuckets(emb, "vec_id", "embedding",
        planes = 8, dims = 64)
      val qb = buckets.select(col("vec_id").as("qid"),
        col("bucket").as("qbkt"))
      val nb = buckets.select(col("vec_id"), col("bucket").as("nbkt"))
      truth.join(qb, Seq("qid")).join(nb, Seq("vec_id"))
        .withColumn("hd", expr("bit_count(qbkt ^ nbkt)"))
        .groupBy("qid")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("hd") === 0, 1L).otherwise(0L)).as("hit_exact"),
          sum(when(col("hd") <= 1, 1L).otherwise(0L)).as("hit_probe1"))
        .withColumn("recall_exact",
          round(col("hit_exact").cast("double") / col("n_truth"), 4))
        .withColumn("recall_probe1",
          round(col("hit_probe1").cast("double") / col("n_truth"), 4))
        .orderBy("qid")
    },
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm
           FROM e),
         qs AS (
           SELECT vec_id AS qid, v AS q, nm AS qn FROM nr
           WHERE vec_id % 101 = 0),
         truth AS (
           SELECT qid, vec_id FROM (
             SELECT q.qid, n.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * q.q[i])) / (n.nm * q.qn), 6) DESC,
                 n.vec_id) AS rn
             FROM nr n CROSS JOIN qs q WHERE n.vec_id <> q.qid)
           WHERE rn <= 10),
         b AS (
           SELECT vec_id, CAST(list_sum(list_transform(range(0, 8), p ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               CAST(embedding[i] AS DOUBLE) *
               ((((('0x' || substring(md5(CAST(p AS VARCHAR) || '_'
                     || CAST(i - 1 AS VARCHAR)), 1, 12))::BIGINT) % 1000)
                 / 500.0) - 1.0))) >= 0
             THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bkt
           FROM embeddings),
         h AS (
           SELECT t.qid, bit_count(xor(qb.bkt, nb.bkt)) AS hd
           FROM truth t
           JOIN b qb ON qb.vec_id = t.qid
           JOIN b nb ON nb.vec_id = t.vec_id)
         SELECT qid, count(*)::BIGINT AS n_truth,
           sum(CASE WHEN hd = 0 THEN 1 ELSE 0 END)::BIGINT AS hit_exact,
           sum(CASE WHEN hd <= 1 THEN 1 ELSE 0 END)::BIGINT AS hit_probe1,
           round(sum(CASE WHEN hd = 0 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 4) AS recall_exact,
           round(sum(CASE WHEN hd <= 1 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 4) AS recall_probe1
         FROM h GROUP BY 1 ORDER BY 1"""),

    // IVF nprobe RECALL CURVE (the accuracy/cost lever every IVF
    // deployment tunes): recall@10 of the brute-force truth when the
    // query probes its 1 nearest centroid vs its 2 nearest — same
    // trained-free IVF as q232 (16 seed centroids), same fixed query
    // panel. nprobe multiplies the scanned candidate volume by
    // nprobe/nlist of the corpus — the measured recall gain is what
    // justifies (or not) that scan cost at 100 TB.
    QueryDef("q307_ivf_nprobe", (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"))
      // Caches.small: the panel build side becomes a checkpointed scan
      // the plan gate PROVES bounded (no allowlist entry needed)
      val queries = Caches.small(emb.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("q")))
      val exact = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("q")), 6)
            .as("cs"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .select("qid", "vec_id")
      val centroids = Caches.small(emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv")))
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
        centroids, "cid", "cv")
      val qcl = queries.crossJoin(broadcast(centroids))
        .select(col("qid"), col("q"), col("cid"),
          round(Similarity.cosine(col("q"), col("cv")), 6).as("cs"))
        .withColumn("np", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("cid"))))
        .filter(col("np") <= 2)
        .select(col("qid"), col("q"), col("cid").as("cluster"), col("np"))
      val scored = assigned.join(broadcast(qcl), Seq("cluster"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("np"),
          round(Similarity.cosine(col("embedding"), col("q")), 6)
            .as("cs"))
      def topHits(cand: DataFrame, as: String) = cand
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"), lit(1L).as(as))
      exact
        .join(topHits(scored.filter(col("np") === 1), "h1"),
          Seq("qid", "vec_id"), "left")
        .join(topHits(scored, "h2"), Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("h1"), lit(0L))).as("hit_np1"),
          sum(coalesce(col("h2"), lit(0L))).as("hit_np2"))
        .withColumn("recall_np1",
          round(col("hit_np1").cast("double") / col("n_truth"), 4))
        .withColumn("recall_np2",
          round(col("hit_np2").cast("double") / col("n_truth"), 4))
        .orderBy("qid")
    },
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm
           FROM e),
         qs AS (
           SELECT vec_id AS qid, v AS q, nm AS qn FROM nr
           WHERE vec_id % 101 = 0),
         cent AS (
           SELECT vec_id AS cid, v AS cv, nm AS cn FROM nr
           WHERE vec_id < 16),
         exact AS (
           SELECT qid, vec_id FROM (
             SELECT q.qid, n.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * q.q[i])) / (n.nm * q.qn), 6) DESC,
                 n.vec_id) AS rn
             FROM nr n CROSS JOIN qs q WHERE n.vec_id <> q.qid)
           WHERE rn <= 10),
         assigned AS (
           SELECT vec_id, v, nm, cid AS cluster FROM (
             SELECT n.vec_id, n.v, n.nm, c.cid,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * c.cv[i])) / (n.nm * c.cn), 6) DESC,
                 c.cid) AS rn
             FROM nr n CROSS JOIN cent c)
           WHERE rn = 1),
         qcl AS (
           SELECT qid, q, qn, cluster, np FROM (
             SELECT s.qid, s.q, s.qn, c.cid AS cluster,
               row_number() OVER (PARTITION BY s.qid ORDER BY
                 round(list_sum(list_transform(range(1, len(s.q) + 1),
                   i -> s.q[i] * c.cv[i])) / (s.qn * c.cn), 6) DESC,
                 c.cid) AS np
             FROM qs s CROSS JOIN cent c)
           WHERE np <= 2),
         scored AS (
           SELECT k.qid, a.vec_id, k.np,
             round(list_sum(list_transform(range(1, len(a.v) + 1),
               i -> a.v[i] * k.q[i])) / (a.nm * k.qn), 6) AS cs
           FROM assigned a JOIN qcl k ON a.cluster = k.cluster
           WHERE a.vec_id <> k.qid),
         ap1 AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY cs DESC, vec_id) AS rn
             FROM scored WHERE np = 1)
           WHERE rn <= 10),
         ap2 AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY cs DESC, vec_id) AS rn
             FROM scored)
           WHERE rn <= 10)
         SELECT e.qid, count(*)::BIGINT AS n_truth,
           sum(CASE WHEN a1.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             ::BIGINT AS hit_np1,
           sum(CASE WHEN a2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             ::BIGINT AS hit_np2,
           round(sum(CASE WHEN a1.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             ::DOUBLE / count(*), 4) AS recall_np1,
           round(sum(CASE WHEN a2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             ::DOUBLE / count(*), 4) AS recall_np2
         FROM exact e
         LEFT JOIN ap1 a1 ON e.qid = a1.qid AND e.vec_id = a1.vec_id
         LEFT JOIN ap2 a2 ON e.qid = a2.qid AND e.vec_id = a2.vec_id
         GROUP BY 1 ORDER BY 1"""),

    // IVF LIST-BALANCE PROFILE (the hot-partition diagnostic for the
    // q24/q232/q307 family): occupancy of every inverted list under
    // 8 vs 16 seed centroids — max/mean imbalance is the factor by
    // which the hottest list's scan cost exceeds the nprobe cost
    // model's assumption. A 100 TB IVF with imbalance 5 reads 5× the
    // budget on the unlucky probes; this table is what says whether
    // the centroid count (or a re-train) is needed.
    QueryDef("q317_ivf_list_balance", (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"))
      def occ(k: Int) = {
        val cents = Caches.small(emb.filter(col("vec_id") < k)
          .select(col("vec_id").as("cid"), col("embedding").as("cv")))
        Similarity.ivfAssign(emb, "vec_id", "embedding", cents,
            "cid", "cv")
          .groupBy("cluster").agg(count(lit(1)).as("occ"))
          .agg(lit(k.toLong).as("nlists"),
            count(lit(1)).as("lists_used"),
            min(col("occ")).as("min_occ"),
            max(col("occ")).as("max_occ"),
            sum(col("occ")).as("n_vectors"))
      }
      occ(8).unionByName(occ(16))
        .withColumn("imbalance", round(
          col("max_occ").cast("double") * col("nlists") / col("n_vectors"),
          4))
        .orderBy("nlists")
    },
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nm
           FROM e),
         c8 AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM nr
                WHERE vec_id < 8),
         c16 AS (SELECT vec_id AS cid, v AS cv, nm AS cn FROM nr
                 WHERE vec_id < 16),
         a8 AS (
           SELECT vec_id, cid AS cluster FROM (
             SELECT n.vec_id, c.cid,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * c.cv[i])) / (n.nm * c.cn), 6) DESC,
                 c.cid) AS rn
             FROM nr n CROSS JOIN c8 c)
           WHERE rn = 1),
         a16 AS (
           SELECT vec_id, cid AS cluster FROM (
             SELECT n.vec_id, c.cid,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                 round(list_sum(list_transform(range(1, len(n.v) + 1),
                   i -> n.v[i] * c.cv[i])) / (n.nm * c.cn), 6) DESC,
                 c.cid) AS rn
             FROM nr n CROSS JOIN c16 c)
           WHERE rn = 1),
         s AS (
           SELECT 8::BIGINT AS nlists, count(*)::BIGINT AS lists_used,
             min(occ)::BIGINT AS min_occ, max(occ)::BIGINT AS max_occ,
             sum(occ)::BIGINT AS n_vectors
           FROM (SELECT cluster, count(*) AS occ FROM a8 GROUP BY 1)
           UNION ALL
           SELECT 16::BIGINT, count(*)::BIGINT, min(occ)::BIGINT,
             max(occ)::BIGINT, sum(occ)::BIGINT
           FROM (SELECT cluster, count(*) AS occ FROM a16 GROUP BY 1))
         SELECT nlists, lists_used, min_occ, max_occ, n_vectors,
           round(max_occ::DOUBLE * nlists / n_vectors, 4) AS imbalance
         FROM s ORDER BY nlists"""),

    // TOP PRINCIPAL COMPONENT by DISTRIBUTED POWER ITERATION — the
    // eigensolver that never FORMS the d x d Gram (the OPQ path
    // tree-aggregates a Gram and eigendecomposes driver-side, fine
    // while d^2 is model-sized; power iteration is the big-d shape:
    // two matvec scans per round, 1-/d-row frames between). Three
    // statically-unrolled rounds from the uniform 1/sqrt(d) start,
    // per-round renormalize + 9-dp rounding; the oracle replays every
    // fold. dim = -1 carries lambda/n, the top covariance eigenvalue.
    QueryDef("q366_power_iteration", (s, dir) => {
      Similarity.powerIterationTop(t(s, dir, "embeddings"), "vec_id",
          "embedding", dims = 64, iters = 3)
        .orderBy("dim")
    },
      // three power-iteration rounds unrolled: per-vector dot = sorted
      // fold over its 64 products; per-dim sums = two-level sorted fold
      // within md5(vec_id) subbuckets; renormalize + round-9 per round
      """WITH e AS (
           SELECT vec_id, j, embedding[(j+1)::INT]::DOUBLE AS x
           FROM embeddings CROSS JOIN unnest(range(0, 64)) AS t(j)),
         mu AS (
           SELECT j, list_sum(list_sort(list(s1))) / any_value(nd) AS m FROM (
             SELECT j,
               ('0x' || substring(md5('0:' || vec_id::VARCHAR), 1, 12))::BIGINT
                 % 4096 AS sb,
               list_sum(list_sort(list(x))) AS s1,
               (SELECT count(*) FROM embeddings)::DOUBLE AS nd
             FROM e GROUP BY 1, 2) GROUP BY j),
         c AS (SELECT e.vec_id, e.j, e.x - mu.m AS x FROM e JOIN mu USING (j)),
         v0 AS (SELECT j, 0.125 AS v FROM range(0, 64) t(j)),
         s_1 AS (
           SELECT vec_id, list_sum(list_sort(list(c.x * v0.v))) AS s
           FROM c JOIN v0 USING (j) GROUP BY vec_id),
         w_1 AS (
           SELECT j, list_sum(list_sort(list(s1))) AS w FROM (
             SELECT c.j,
               ('0x' || substring(md5('0:' || c.vec_id::VARCHAR), 1, 12))::BIGINT
                 % 4096 AS sb,
               list_sum(list_sort(list(c.x * s_1.s))) AS s1
             FROM c JOIN s_1 USING (vec_id) GROUP BY 1, 2) GROUP BY j),
         l_1 AS (SELECT sqrt(list_sum(list_sort(list(w * w)))) AS l FROM w_1),
         v_1 AS (SELECT j, round(w / (SELECT l FROM l_1), 9) AS v FROM w_1),
         s_2 AS (
           SELECT vec_id, list_sum(list_sort(list(c.x * v_1.v))) AS s
           FROM c JOIN v_1 USING (j) GROUP BY vec_id),
         w_2 AS (
           SELECT j, list_sum(list_sort(list(s1))) AS w FROM (
             SELECT c.j,
               ('0x' || substring(md5('0:' || c.vec_id::VARCHAR), 1, 12))::BIGINT
                 % 4096 AS sb,
               list_sum(list_sort(list(c.x * s_2.s))) AS s1
             FROM c JOIN s_2 USING (vec_id) GROUP BY 1, 2) GROUP BY j),
         l_2 AS (SELECT sqrt(list_sum(list_sort(list(w * w)))) AS l FROM w_2),
         v_2 AS (SELECT j, round(w / (SELECT l FROM l_2), 9) AS v FROM w_2),
         s_3 AS (
           SELECT vec_id, list_sum(list_sort(list(c.x * v_2.v))) AS s
           FROM c JOIN v_2 USING (j) GROUP BY vec_id),
         w_3 AS (
           SELECT j, list_sum(list_sort(list(s1))) AS w FROM (
             SELECT c.j,
               ('0x' || substring(md5('0:' || c.vec_id::VARCHAR), 1, 12))::BIGINT
                 % 4096 AS sb,
               list_sum(list_sort(list(c.x * s_3.s))) AS s1
             FROM c JOIN s_3 USING (vec_id) GROUP BY 1, 2) GROUP BY j),
         l_3 AS (SELECT sqrt(list_sum(list_sort(list(w * w)))) AS l FROM w_3),
         v_3 AS (SELECT j, round(w / (SELECT l FROM l_3), 9) AS v FROM w_3),
         nn AS (SELECT count(*)::DOUBLE AS n FROM embeddings)
         SELECT j::BIGINT AS dim, round(v, 6) + 0.0 AS loading FROM v_3
         UNION ALL
         SELECT -1, round((SELECT l FROM l_3) / (SELECT n FROM nn), 6) + 0.0
         ORDER BY dim"""),

    // JOHNSON-LINDENSTRAUSS projection + distortion audit (Achlioptas
    // +-1/sqrt(k) signs, md5-derived — the matrix is a FORMULA, never
    // sampled or stored): project 64 -> 16, then measure what that
    // did to a deterministic 1-1 pair sample (vector i vs i + n/2;
    // equi-joins, never all pairs) — squared-distance ratio binned at
    // 0.25 grain with per-bin means. The capacity-planning table for
    // picking k before ANN indexing (Similarity.jlDistortionAudit).
    QueryDef("q367_jl_distortion", (s, dir) => {
      Similarity.jlDistortionAudit(t(s, dir, "embeddings"), "vec_id",
          "embedding", dims = 64, k = 16)
        .orderBy("bin")
    },
      // the projection replayed sign-for-sign; pair sample and folds
      // mirror the engine exactly
      """WITH e AS (
           SELECT vec_id, j, embedding[(j+1)::INT]::DOUBLE AS x
           FROM embeddings CROSS JOIN unnest(range(0, 64)) AS t(j)),
         r AS (
           SELECT t AS rt, j,
             (1.0 - 2.0 * (('0x' || substring(md5('1:' || (t*64+j)::VARCHAR),
               1, 12))::BIGINT % 2)) AS sgn
           FROM range(0, 16) a(t) CROSS JOIN range(0, 64) b(j)),
         y AS (
           SELECT e.vec_id, r.rt,
             list_sum(list_sort(list(r.sgn * e.x))) / 4.0 AS y
           FROM e JOIN r USING (j) GROUP BY e.vec_id, r.rt),
         np AS (SELECT (count(*) // 2)::BIGINT AS h FROM embeddings),
         po AS (
           SELECT a.vec_id AS pa,
             list_sum(list_sort(list((a.x - b.x) * (a.x - b.x)))) AS d2o
           FROM e a JOIN e b ON b.vec_id = a.vec_id + (SELECT h FROM np)
             AND b.j = a.j
           WHERE a.vec_id < (SELECT h FROM np)
           GROUP BY a.vec_id),
         pp AS (
           SELECT a.vec_id AS pa,
             list_sum(list_sort(list((a.y - b.y) * (a.y - b.y)))) AS d2p
           FROM y a JOIN y b ON b.vec_id = a.vec_id + (SELECT h FROM np)
             AND b.rt = a.rt
           WHERE a.vec_id < (SELECT h FROM np)
           GROUP BY a.vec_id),
         ratio AS (
           SELECT po.pa, pp.d2p / po.d2o AS rr FROM po JOIN pp USING (pa)
           WHERE po.d2o > 0)
         SELECT CAST(floor(round(rr, 6) / 0.25) AS BIGINT) AS bin,
           count(*)::BIGINT AS n_pairs,
           round(list_sum(list_sort(list(rr))) / count(*), 4) + 0.0 AS mean_ratio
         FROM ratio GROUP BY 1 ORDER BY bin"""),
  )

  /** Queries whose sign-LSH geometry is derived from the embeddings
    * count (`Similarity.adaptivePlanes`, targetBucket 125 / 32) while
    * their DuckDB oracles above pin 4 hyperplanes. A verify tier whose
    * derived geometry is not 4 would silently hash-mismatch, so
    * [[graft.Verify]] checks the derivation before running any of them. */
  val autoGeomQueries: Set[String] =
    Set("q23_embedding_neardup", "q91_knn_join", "q298_hubness")
  require(autoGeomQueries.subsetOf(defs.map(_.name).toSet),
    "autoGeomQueries names a query this family does not define")
}
