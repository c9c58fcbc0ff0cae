package graft.ops

import org.apache.spark.sql.functions._
import graft.{Op, StageMemo, Tables}
import graft.sim.Similarity
import graft.text.TextAnalysis

/** Similarity-search ops over the embeddings table (scale extensions). */
object SimOps {

  // DOUBLE[]-cast before any dot product: DuckDB's list_dot_product
  // accumulates in float32 on FLOAT[] inputs and diverges from Spark's
  // double fold in the 6th decimal.
  // The + 0.0 mirrors Similarity.cosine's signed-zero normalization
  // (round(-4e-8, 6) is -0.0 in DuckDB, +0.0 via Spark's BigDecimal).
  private val CosineSql =
    """(round(list_dot_product(q.v, c.v) /
      |       (sqrt(list_dot_product(q.v, q.v)) *
      |        sqrt(list_dot_product(c.v, c.v))), 6) + 0.0)""".stripMargin

  /** The LSH sign-projection bucketing chain (iv → bits → bk → withb):
    * DuckDB mirror of [[graft.sim.Similarity.lshBucket]]'s exact integer
    * projections over the deterministic (j·131 + d·31) % 17 − 8
    * hyperplanes. Shared by every LSH-family oracle that buckets the
    * embeddings table as-is (the ClusterOracle precedent — one spelling,
    * so a hash change can never silently diverge per op). The two
    * structural variants (sim-bucket-diversity's v-less projection and
    * sim-jl-distortion's bucketing of a derived `e` table) stay inline.
    */
  private[ops] val LshBucketOracle: String =
    """iv AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         [CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) FOR x IN embedding] AS ie
      |  FROM embeddings),
      |bits AS (
      |  SELECT vec_id, j,
      |         CASE WHEN list_sum([ie[d + 1] * (((j * 131 + d * 31) % 17) - 8)
      |                             FOR d IN generate_series(0, len(ie) - 1)]) > 0
      |              THEN (2 ** j)::BIGINT ELSE 0 END AS bitval
      |  FROM iv, (SELECT unnest(generate_series(0, 7)) AS j) g),
      |bk AS (SELECT vec_id, sum(bitval) AS bucket FROM bits GROUP BY vec_id),
      |withb AS (SELECT iv.vec_id, iv.v, bk.bucket FROM iv JOIN bk USING (vec_id))""".stripMargin

  /** Brute-force cosine top-5 per query (queries = vec_id < 10, corpus =
    * the rest): the exact baseline every ANN variant is judged against.
    */
  val simTopkCosine: Op = Op.sql(
    "sim-topk-cosine",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $CosineSql AS sim
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
       |  FROM scored)
       |SELECT q_id, n_id, sim FROM ranked WHERE rn <= 5
       |ORDER BY q_id, sim DESC, n_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5)
      .orderBy(col("q_id"), col("sim").desc, col("n_id"))
  }

  /** LSH-bucketed ANN: 8 deterministic integer sign-planes → bucket join →
    * exact cosine top-3 among bucket-mates. The scale path: bucket is a
    * join/partition key, so the corpus never all-pairs.
    */
  val simLshAnn: Op = Op.sql(
    "sim-lsh-ann",
    s"""WITH $LshBucketOracle,
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $CosineSql AS sim
       |  FROM withb q JOIN withb c ON q.bucket = c.bucket
       |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
       |  FROM scored)
       |SELECT q_id, n_id, sim FROM ranked WHERE rn <= 3
       |ORDER BY q_id, sim DESC, n_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.annTopK(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 3)
      .orderBy(col("q_id"), col("sim").desc, col("n_id"))
  }

  /** IVF-style ANN: deterministic centroids (vec_ids 10,20,…,80 — the
    * pluggable stand-in for k-means output), corpus assigned to nearest
    * list by rounded cosine (ties → lowest cid), queries probe their 2
    * nearest lists, exact cosine top-3 among candidates. The scale path
    * where LSH recall disappoints: assignment is a PROJECTION over
    * driver-collected centroid literals (config-sized), so the corpus
    * never shuffles for it.
    */
  val simIvfAnn: Op = Op.sql(
    "sim-ivf-ann",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e
       |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
       |asgn AS (
       |  SELECT c.vec_id AS n_id, c.v AS nv, cc.cid,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY round(list_dot_product(c.v, cc.cv) /
       |                          (sqrt(list_dot_product(c.v, c.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e c, cents cc WHERE c.vec_id >= 10),
       |lists AS (SELECT n_id, nv, cid FROM asgn WHERE rn = 1),
       |prb AS (
       |  SELECT q.vec_id AS q_id, q.v AS qv, cc.cid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY round(list_dot_product(q.v, cc.cv) /
       |                          (sqrt(list_dot_product(q.v, q.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e q, cents cc WHERE q.vec_id < 10),
       |probes AS (SELECT q_id, qv, cid FROM prb WHERE rn <= 2),
       |scored AS (
       |  SELECT p.q_id, l.n_id,
       |         (round(list_dot_product(p.qv, l.nv) /
       |                (sqrt(list_dot_product(p.qv, p.qv)) *
       |                 sqrt(list_dot_product(l.nv, l.nv))), 6) + 0.0) AS sim
       |  FROM probes p JOIN lists l USING (cid)),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
       |  FROM scored)
       |SELECT q_id, n_id, sim FROM ranked WHERE rn <= 3
       |ORDER BY q_id, sim DESC, n_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.ivfTopK(
      e.filter(col("vec_id") < 10),
      e.filter(col("vec_id") >= 10),
      e.filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L)),
      k = 3, nprobe = 2)
      .orderBy(col("q_id"), col("sim").desc, col("n_id"))
  }

  /** One deterministic Lloyd round of k-means (k=4, init = the 4 lowest
    * vec_ids): assignment by rounded cosine (ties → lowest centroid),
    * centroid update via order-independent integer-scaled sums. Output is
    * the per-dimension centroid table (cid, dim, v) — exploded to rows,
    * never an array column. The trainer behind sim-ivf-ann's centroid
    * input (graft.sim.KMeans).
    */
  val simKmeansCentroids: Op = Op.sql(
    "sim-kmeans-centroids",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |         FROM e ORDER BY vec_id LIMIT 4),
      |asgn AS (
      |  SELECT e.vec_id, e.v, ic.cid,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY round(list_dot_product(e.v, ic.cv) /
      |                          (sqrt(list_dot_product(e.v, e.v)) *
      |                           sqrt(list_dot_product(ic.cv, ic.cv))), 6) DESC,
      |                    ic.cid) AS rn
      |  FROM e CROSS JOIN init ic),
      |members AS (SELECT vec_id, v, cid FROM asgn WHERE rn = 1),
      |dims AS (SELECT cid, unnest(generate_series(0, len(v) - 1)) AS dim,
      |                unnest(v) AS x FROM members),
      |sums AS (SELECT cid, dim, sum(CAST(round(x * 10000) AS BIGINT)) AS sv,
      |                count(*) AS n
      |         FROM dims GROUP BY cid, dim),
      |initdims AS (SELECT cid, unnest(generate_series(0, len(cv) - 1)) AS dim,
      |                    unnest(cv) AS cx FROM init)
      |SELECT CAST(i.cid AS BIGINT) AS cid, CAST(i.dim AS BIGINT) AS dim,
      |       (coalesce(round(s.sv / s.n / 10000.0, 6), i.cx) + 0.0) AS v
      |FROM initdims i LEFT JOIN sums s ON s.cid = i.cid AND s.dim = i.dim
      |ORDER BY cid, dim""".stripMargin
  ) { (s, d) =>
    graft.sim.KMeans.fit(Tables.embeddings(s, d), k = 4, iters = 1)
      .select(col("vec_id").as("cid"), posexplode(col("embedding")))
      .toDF("cid", "dim", "v")
      // centroid coordinates cross zero — signed-zero-normalize (see
      // Similarity.cosine note)
      .select(col("cid"), col("dim").cast("long"), (col("v") + lit(0.0)).as("v"))
      .orderBy("cid", "dim")
  }

  /** Symmetric int8 scalar quantization (per-vector max-abs scale, codes
    * clipped to ±127) with per-element reconstruction error — the 4×
    * storage cut ANN candidate filtering runs on at scale. Pure per-row
    * projection, integer-exact codes; exploded to rows (no array output).
    */
  val simQuantizeInt8: Op = Op.sql(
    "sim-quantize-int8",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |             round(list_max([abs(x) FOR x IN v]) / 127.0, 9) AS scale FROM e),
      |d AS (SELECT vec_id, scale, unnest(generate_series(0, len(v) - 1)) AS dim,
      |             unnest(v) AS x FROM s),
      |c AS (SELECT vec_id, dim, scale, x,
      |             CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
      |                  ELSE greatest(CAST(-127 AS BIGINT),
      |                       least(CAST(127 AS BIGINT),
      |                             CAST(round(x / scale) AS BIGINT))) END AS code
      |      FROM d)
      |SELECT vec_id, dim, code, scale,
      |       round(abs(x - code * scale), 9) AS recon_err
      |FROM c ORDER BY vec_id, dim""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    e.select(col("vec_id"), Similarity.int8Scale(col("embedding")).as("scale"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        Similarity.int8Code(col("x"), col("scale")).as("code"),
        col("scale"),
        round(abs(col("x") - Similarity.int8Code(col("x"), col("scale")) * col("scale")), 9)
          .as("recon_err"))
      .orderBy("vec_id", "dim")
  }

  /** Recall@3 of BOTH approximate indexes (LSH buckets and IVF lists)
    * against the exact brute-force top-3, per query and per method — the
    * accuracy evaluation run before deploying any approximate index, and
    * the measurement behind "IVF is the scale path where LSH recall
    * disappoints" (on this corpus: LSH ≈ 0, IVF ≈ 0.5). All three inputs
    * are top-k tables (query-set-sized), so the evaluation itself is free
    * at any corpus scale ([[graft.sim.Similarity.annRecall]]).
    */
  val simAnnRecall: Op = Op.sql(
    "sim-ann-recall",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 3),
       |$LshBucketOracle,
       |a3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM withb q JOIN withb c ON q.bucket = c.bucket
       |    WHERE q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 3),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e
       |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
       |asgn AS (
       |  SELECT c.vec_id AS n_id, c.v AS nv, cc.cid,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY round(list_dot_product(c.v, cc.cv) /
       |                          (sqrt(list_dot_product(c.v, c.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e c, cents cc WHERE c.vec_id >= 10),
       |lists AS (SELECT n_id, nv, cid FROM asgn WHERE rn = 1),
       |prb AS (
       |  SELECT q.vec_id AS q_id, q.v AS qv, cc.cid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY round(list_dot_product(q.v, cc.cv) /
       |                          (sqrt(list_dot_product(q.v, q.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e q, cents cc WHERE q.vec_id < 10),
       |probes AS (SELECT q_id, qv, cid FROM prb WHERE rn <= 2),
       |i3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT p.q_id, l.n_id,
       |           row_number() OVER (PARTITION BY p.q_id
       |             ORDER BY round(list_dot_product(p.qv, l.nv) /
       |                            (sqrt(list_dot_product(p.qv, p.qv)) *
       |                             sqrt(list_dot_product(l.nv, l.nv))), 6) DESC,
       |                      l.n_id) AS rn
       |    FROM probes p JOIN lists l USING (cid)) t
       |  WHERE rn <= 3),
       |keff AS (SELECT q_id, count(*) AS k_eff FROM x3 GROUP BY q_id),
       |lh AS (SELECT x3.q_id, count(*) AS n_hits FROM x3
       |       JOIN a3 ON x3.q_id = a3.q_id AND x3.n_id = a3.n_id GROUP BY x3.q_id),
       |ih AS (SELECT x3.q_id, count(*) AS n_hits FROM x3
       |       JOIN i3 ON x3.q_id = i3.q_id AND x3.n_id = i3.n_id GROUP BY x3.q_id)
       |SELECT method, q_id, n_hits, recall FROM (
       |  SELECT 'lsh' AS method, k.q_id,
       |         CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |         round(coalesce(h.n_hits, 0) * 1.0 / k.k_eff, 6) AS recall
       |  FROM keff k LEFT JOIN lh h USING (q_id)
       |  UNION ALL
       |  SELECT 'ivf' AS method, k.q_id,
       |         CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |         round(coalesce(h.n_hits, 0) * 1.0 / k.k_eff, 6) AS recall
       |  FROM keff k LEFT JOIN ih h USING (q_id)) u
       |ORDER BY method, q_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    val c = e.filter(col("vec_id") >= 10)
    val cents = e.filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L))
    val exact = Similarity.bruteForceTopK(q, c, k = 3)
    val lsh = Similarity.annRecall(exact, Similarity.annTopK(q, c, k = 3))
      .select(lit("lsh").as("method"), col("q_id"), col("n_hits"), col("recall"))
    val ivf = Similarity.annRecall(exact, Similarity.ivfTopK(q, c, cents, k = 3, nprobe = 2))
      .select(lit("ivf").as("method"), col("q_id"), col("n_hits"), col("recall"))
    lsh.union(ivf).orderBy("method", "q_id")
  }

  /** Per-vector embedding health stats: dimensionality, L2 norm, element
    * range, unit-norm flag — the sanity pass a pipeline runs on an
    * embedding column before trusting cosine math downstream. Pure per-row
    * projection over codegen dot products; zero shuffle.
    */
  val simEmbedStats: Op = Op.sql(
    "sim-embed-stats",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT vec_id, len(v) AS dims,
      |       round(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
      |       (round(list_min(v), 6) + 0.0) AS min_x,
      |       (round(list_max(v), 6) + 0.0) AS max_x,
      |       (abs(round(sqrt(list_dot_product(v, v)), 6) - 1.0) < 0.001) AS is_unit
      |FROM e ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    val v = col("embedding").cast("array<double>")
    val l2 = round(Similarity.norm(v), 6)
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).as("dims"),
      l2.as("l2_norm"),
      (round(array_min(v), 6) + lit(0.0)).as("min_x"),
      (round(array_max(v), 6) + lit(0.0)).as("max_x"),
      (abs(l2 - 1.0) < 0.001).as("is_unit"))
      .orderBy("vec_id")
  }

  /** Product-quantization ANN (ADC): 4 subspaces of 16 dims, per-subspace
    * codebooks = the subvector slices of vec_ids 10/20/30/40 (the pluggable
    * stand-in for per-subspace k-means output), corpus encoded as 4 small
    * codes, queries score by summed distance-table lookups, top-3 per
    * query. Completes the ANN tier ladder (brute-force → LSH → IVF → PQ):
    * PQ is the memory-bound regime's answer — codes are 4 bytes/vector
    * here vs 256 for the raw floats ([[graft.sim.Similarity.pqTopK]]).
    */
  val simPqAnn: Op = Op.sql(
    "sim-pq-ann",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |       FROM e WHERE vec_id IN (10,20,30,40)),
      |ms AS (SELECT unnest(generate_series(0, 3)) AS m),
      |subs AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS sv FROM e, ms),
      |csubs AS (SELECT cid, m, cv[m*16+1 : m*16+16] AS csv FROM cb, ms),
      |asgn AS (
      |  SELECT s.vec_id, s.m, c.cid,
      |         row_number() OVER (PARTITION BY s.vec_id, s.m
      |           ORDER BY round(list_dot_product(s.sv, c.csv), 6) DESC, c.cid) AS rn
      |  FROM subs s JOIN csubs c USING (m) WHERE s.vec_id >= 10),
      |codes AS (SELECT vec_id AS n_id, m, cid FROM asgn WHERE rn = 1),
      |qdt AS (
      |  SELECT s.vec_id AS q_id, s.m, c.cid,
      |         round(list_dot_product(s.sv, c.csv), 6) AS d
      |  FROM subs s JOIN csubs c USING (m) WHERE s.vec_id < 10),
      |approx AS (
      |  SELECT q.q_id, codes.n_id, (round(sum(q.d), 6) + 0.0) AS approx_sim
      |  FROM codes JOIN qdt q ON q.m = codes.m AND q.cid = codes.cid
      |  GROUP BY q.q_id, codes.n_id),
      |ranked AS (
      |  SELECT q_id, n_id, approx_sim,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY approx_sim DESC, n_id) AS rn
      |  FROM approx)
      |SELECT q_id, n_id, approx_sim FROM ranked WHERE rn <= 3
      |ORDER BY q_id, approx_sim DESC, n_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.pqTopK(
      e.filter(col("vec_id") < 10),
      e.filter(col("vec_id") >= 10),
      e.filter(col("vec_id").isin(10L, 20L, 30L, 40L)),
      k = 3, m = 4)
      .orderBy(col("q_id"), col("approx_sim").desc, col("n_id"))
  }

  /** Hybrid search: reciprocal-rank fusion of a lexical retriever (token
    * Jaccard over the documents table) and the vector retriever (exact
    * cosine over the embeddings table, doc_id = vec_id). Each retriever
    * contributes its top-20; RRF = Σ 1/(60 + rank) over the lists a doc
    * appears in (absent → 0, the standard convention); top-5 fused per
    * query.
    *
    * Scale shape: both retrievals broadcast the query side and never
    * shuffle the corpus (scoring is a projection; selection is the salted
    * two-phase top-k). The fusion join and final ranking run on
    * top-k-table-sized data — ≤ 40 rows per query regardless of corpus
    * size. RRF contributions snap to integer micro-units (order-exact
    * sums).
    */
  val simRrfHybrid: Op = Op.sql(
    "sim-rrf-hybrid",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |vsc AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $CosineSql AS sim
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10),
       |vtop AS (
       |  SELECT q_id, n_id, rv FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rv
       |    FROM vsc) WHERE rv <= 20),
       |ta AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ta FROM documents),
       |lsc AS (
       |  SELECT q.doc_id AS q_id, c.doc_id AS n_id,
       |         round(len(list_intersect(q.ta, c.ta)) * 1.0 /
       |               len(list_distinct(list_concat(q.ta, c.ta))), 6) AS jac
       |  FROM ta q JOIN ta c ON q.doc_id < 10 AND c.doc_id >= 10),
       |ltop AS (
       |  SELECT q_id, n_id, rl FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY jac DESC, n_id) AS rl
       |    FROM lsc) WHERE rl <= 20),
       |fused AS (
       |  SELECT coalesce(v.q_id, l.q_id) AS q_id,
       |         coalesce(v.n_id, l.n_id) AS n_id,
       |         coalesce(rv, 0) AS r_vec, coalesce(rl, 0) AS r_lex,
       |         coalesce(CAST(round(1000000.0 / (60 + rv)) AS BIGINT), 0) +
       |         coalesce(CAST(round(1000000.0 / (60 + rl)) AS BIGINT), 0) AS rrf_micros
       |  FROM vtop v FULL JOIN ltop l ON v.q_id = l.q_id AND v.n_id = l.n_id),
       |ranked AS (
       |  SELECT q_id, n_id, r_vec, r_lex,
       |         round(rrf_micros / 1000000.0, 6) AS rrf,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY rrf_micros DESC, n_id) AS rn
       |  FROM fused)
       |SELECT q_id, n_id, r_vec, r_lex, rrf FROM ranked WHERE rn <= 5
       |ORDER BY q_id, rrf DESC, n_id""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val vtop = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 20)
      .withColumn("rv", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))))
      .select("q_id", "n_id", "rv")
    val ta = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(TextAnalysis.tokens(col("text"))).as("ta"))
    val lsc = ta.filter(col("doc_id") >= 10)
      .select(col("doc_id").as("n_id"), col("ta").as("ca"))
      .crossJoin(broadcast(ta.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("ta").as("qa"))))
      .select(col("q_id"), col("n_id"),
        round(size(array_intersect(col("qa"), col("ca"))) * lit(1.0) /
              size(array_distinct(concat(col("qa"), col("ca")))), 6).as("jac"))
    val ltop = graft.functions.TopK
      .topkPerGroup(lsc, Seq("q_id"), Seq(col("jac").desc, col("n_id").asc), 20)
      .withColumn("rl", row_number().over(
        Window.partitionBy("q_id").orderBy(col("jac").desc, col("n_id"))))
      .select("q_id", "n_id", "rl")
    def contrib(r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(round(lit(1000000.0) / (lit(60) + r)).cast("long"), lit(0L))
    val fused = vtop.join(ltop, Seq("q_id", "n_id"), "full_outer")
      .select(col("q_id"), col("n_id"),
        coalesce(col("rv"), lit(0)).as("r_vec"),
        coalesce(col("rl"), lit(0)).as("r_lex"),
        (contrib(col("rv")) + contrib(col("rl"))).as("rrf_micros"))
    fused
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("rrf_micros").desc, col("n_id"))))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("n_id"), col("r_vec"), col("r_lex"),
        round(col("rrf_micros") / lit(1000000.0), 6).as("rrf"))
      .orderBy(col("q_id"), col("rrf").desc, col("n_id"))
  }

  /** Radius (range) search: every corpus vector within cosine ≥ 0.30 of
    * each query — threshold semantics instead of top-k rank (the dedup /
    * retrieval-recall companion to sim-topk-cosine: "give me ALL close
    * vectors", unbounded result size). Same scale shape as the brute
    * baseline: queries broadcast, the corpus streams through one
    * shuffle-free scoring projection — but NO ranking window at all, so
    * this is strictly cheaper than top-k and the natural pre-filter in
    * front of exact verification at 100 TB.
    */
  val simRangeSearch: Op = Op.sql(
    "sim-range-search",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $CosineSql AS sim
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10)
       |SELECT q_id, n_id, sim FROM scored WHERE sim >= 0.30
       |ORDER BY q_id, n_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    c.crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"),
        Similarity.cosine(col("q_emb"), col("n_emb")).as("sim"))
      .filter(col("sim") >= 0.30)
      .orderBy("q_id", "n_id")
  }

  /** Per-label cluster quality: size, centroid (integer-exact micro-unit
    * element sums — the KMeans discipline) and mean squared distance to
    * the centroid (within-cluster inertia), the health report a
    * label/cluster assignment is judged by before it blocks a dedup or
    * routes an IVF probe.
    *
    * Engine-parity: per-dimension squared deviations snap to integer
    * pico-units ((x−c)·(x−c) by multiplication, never pow), so every sum
    * — across dims inside a row, across rows in a label — is an integer
    * sum with no float order sensitivity; the one terminal division
    * snaps at micro grain.
    *
    * Scale shape: centroid sums reduce the exploded dim stream with
    * map-side combine into a (labels × dims)-sized table; the assembled
    * centroid array broadcasts back to the corpus, where the deviation
    * fold is a row-local zip_with/aggregate — the corpus shuffles once
    * (label groupBy of one long per row).
    */
  val simLabelStats: Op = Op.sql(
    "sim-label-stats",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |dx AS (SELECT vec_id, label, unnest(generate_series(0, len(v) - 1)) AS dim,
      |              unnest(v) AS x FROM e),
      |ce AS (SELECT label, dim, CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS se6,
      |              count(*) AS n FROM dx GROUP BY 1, 2),
      |cd AS (SELECT label, dim, (se6 / 1000000.0) / n AS c FROM ce),
      |d2 AS (SELECT dx.vec_id, dx.label,
      |         CAST(sum(CAST(round((x - c) * (x - c) * 1000000000000.0) AS BIGINT)) AS BIGINT) AS d2e12
      |       FROM dx JOIN cd ON dx.label = cd.label AND dx.dim = cd.dim
      |       GROUP BY 1, 2),
      |ag AS (SELECT label, count(*) AS n_vecs, sum(d2e12) AS sd2 FROM d2 GROUP BY 1)
      |SELECT label, n_vecs,
      |       CAST(round(sd2 / (n_vecs * 1000000.0)) AS BIGINT) / 1000000.0 AS mean_dist2
      |FROM ag ORDER BY label""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val cent = e.select(col("label"), posexplode(col("v")))
      .select(col("label"), col("pos").as("dim"),
        round(col("col") * 1000000).cast("long").as("xe6"))
      .groupBy("label", "dim").agg(sum("xe6").as("se6"), count(lit(1)).as("n"))
    val centArr = cent.groupBy("label").agg(
      transform(array_sort(collect_list(struct(col("dim"), col("se6"), col("n")))),
        x => (x.getField("se6") / lit(1000000.0)) / x.getField("n")).as("cv"))
    e.join(broadcast(centArr), "label")
      .select(col("label"),
        aggregate(
          zip_with(col("v"), col("cv"),
            (x, c) => round((x - c) * (x - c) * lit(1000000000000.0)).cast("long")),
          lit(0L), (a, b) => a + b).as("d2e12"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("d2e12").as("sd2"))
      .select(col("label"), col("n_vecs"),
        (round(col("sd2") / (col("n_vecs") * lit(1000000.0))).cast("long")
          / lit(1000000.0)).as("mean_dist2"))
      .orderBy("label")
  }

  /** SQL mirror of one deterministic Lloyd round at `k` (the
    * init/asgn/members/dims/sums/initdims/cent chain of
    * [[simKmeansCentroids]]'s oracle parameterized by k, suffixed so
    * several ks coexist in one oracle) — shared by the elbow and
    * nlist-recall sweeps.
    */
  private def kmeansFitCtes(k: Int): String =
    s"""init$k AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |         FROM e ORDER BY vec_id LIMIT $k),
       |asgn$k AS (
       |  SELECT e.vec_id, e.v, ic.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY round(list_dot_product(e.v, ic.cv) /
       |                          (sqrt(list_dot_product(e.v, e.v)) *
       |                           sqrt(list_dot_product(ic.cv, ic.cv))), 6) DESC,
       |                    ic.cid) AS rn
       |  FROM e CROSS JOIN init$k ic),
       |members$k AS (SELECT vec_id, v, cid FROM asgn$k WHERE rn = 1),
       |dims$k AS (SELECT cid, unnest(generate_series(0, len(v) - 1)) AS dim,
       |                  unnest(v) AS x FROM members$k),
       |sums$k AS (SELECT cid, dim, sum(CAST(round(x * 10000) AS BIGINT)) AS sv,
       |                  count(*) AS n
       |           FROM dims$k GROUP BY cid, dim),
       |initdims$k AS (SELECT cid, unnest(generate_series(0, len(cv) - 1)) AS dim,
       |                      unnest(cv) AS cx FROM init$k),
       |cent$k AS (SELECT i.cid,
       |                  list(coalesce(round(s.sv / s.n / 10000.0, 6), i.cx)
       |                       ORDER BY i.dim) AS cv
       |           FROM initdims$k i LEFT JOIN sums$k s
       |             ON s.cid = i.cid AND s.dim = i.dim
       |           GROUP BY i.cid)""".stripMargin

  /** [[kmeansFitCtes]] plus assignment-to-fitted-centroids and the
    * pico-snapped within-cluster inertia — the per-k CTE chain of
    * [[simKmeansElbow]]. Assignment follows [[SemDedupCtes]]'s `sc`/`m`
    * and the deviations follow [[simLabelStats]]'s `d2`.
    */
  private def kmeansInertiaCtes(k: Int): String =
    s"""${kmeansFitCtes(k)},
       |sc$k AS (SELECT e.vec_id, e.v, c.cid, c.cv,
       |                CAST(round(list_dot_product(e.v, c.cv) /
       |                           (sqrt(list_dot_product(e.v, e.v)) *
       |                            sqrt(list_dot_product(c.cv, c.cv))) * 1000000)
       |                     AS BIGINT) AS cos_u
       |         FROM e CROSS JOIN cent$k c),
       |m$k AS (SELECT vec_id, v, cv FROM
       |          (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY cos_u DESC, cid) AS rn FROM sc$k)
       |        WHERE rn = 1),
       |dx$k AS (SELECT vec_id, cv, unnest(generate_series(1, len(v))) AS i,
       |                unnest(v) AS x FROM m$k),
       |d2_$k AS (SELECT vec_id,
       |                 sum(CAST(round((x - cv[i]) * (x - cv[i])
       |                                * 1000000000000.0) AS BIGINT)) AS d2e12
       |          FROM dx$k GROUP BY vec_id),
       |ag$k AS (SELECT CAST($k AS BIGINT) AS k,
       |                CAST(count(*) AS BIGINT) AS n_vecs,
       |                CAST(sum(d2e12) AS BIGINT) AS sd2 FROM d2_$k)""".stripMargin

  /** k-means ELBOW sweep: within-cluster inertia of the 1-round
    * deterministic fit at k ∈ {2, 4, 8}, with the relative inertia drop
    * vs the previous k — the diminishing-returns curve that picks an IVF
    * nlist ([[simIvfAnn]]) or a SemDeDup k ([[simSemanticDedup]]) BEFORE
    * an index is built or a dedup pass committed. Reference analogue:
    * the chunk-size calibration role of
    * /root/reference/src/archiver/range.rs:220-261 (how coarse should a
    * unit of organization be), lifted to the vector tier (extension
    * scope — the reference has no vector ops).
    *
    * Float discipline: fits are [[graft.sim.KMeans]] (integer-scaled
    * element sums — order-independent); assignment compares micro-int
    * cosines with ties to the lowest cid ([[cosMicro]], the SemDeDup
    * reassignment grain); per-dimension squared deviations snap to
    * integer pico-units row-locally ([[simLabelStats]]'s discipline) so
    * every aggregation is an integer sum; mean inertia and the drop
    * ratio are identical round()-snapped trees both engines, and the
    * k=2 row's drop is NULL (no predecessor) with a prev>0 guard on the
    * division both sides.
    *
    * Scale shape: each fit is one corpus-sized map-side-combined
    * shuffle + a k·dims collect (at 100 TB fit on a sample — the
    * KMeans scaladoc contract); the sweep itself adds ONE corpus scan
    * computing all three assignments as row-local greatest(struct)
    * folds over centroid LITERALS (zero corpus shuffle — the
    * [[semanticMembers]] spelling) folding into ONE 1-row aggregation;
    * the 3-row curve explodes from that row (never a re-scan per k)
    * and the lag window orders 3 rows.
    */
  val simKmeansElbow: Op = Op.sql(
    "sim-kmeans-elbow",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Seq(2, 4, 8).map(kmeansInertiaCtes).mkString(",\n")},
       |curve AS (SELECT * FROM ag2 UNION ALL SELECT * FROM ag4
       |          UNION ALL SELECT * FROM ag8),
       |mm AS (SELECT k, n_vecs,
       |              CAST(round(sd2 / (n_vecs * 1000000.0)) AS BIGINT)
       |                / 1000000.0 AS mean_dist2
       |       FROM curve),
       |lg AS (SELECT k, n_vecs, mean_dist2,
       |              lag(mean_dist2) OVER (ORDER BY k) AS prev FROM mm)
       |SELECT k, n_vecs, mean_dist2,
       |       CASE WHEN prev > 0 THEN
       |         CAST(round((prev - mean_dist2) / prev * 1000000) AS BIGINT)
       |       ELSE NULL END AS drop_micro
       |FROM lg ORDER BY k""".stripMargin
  ) { (s, d) =>
    val ks = Seq(2, 4, 8)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // per k: a row-local argmax over centroid literals that carries the
    // pico-snapped squared distance in the struct tail — (cu, nc) is
    // unique per centroid, so the d2 field can never drive the compare
    val d2Cols = ks.map { k =>
      val structs = fittedCentroids(s, d, k).map { case (cid, cv) =>
        struct(cosMicro(col("v"), typedLit(cv)).as("cu"),
          lit(-cid).as("nc"),
          aggregate(zip_with(col("v"), typedLit(cv),
            (x, c) => round((x - c) * (x - c) * lit(1000000000000.0))
              .cast("long")),
            lit(0L), (a, b) => a + b).as("d2"))
      }
      graft.sim.Similarity.bestStruct(structs).getField("d2").as(s"d2_$k")
    }
    val one = e.select(d2Cols: _*)
      .agg(count(lit(1)).as("n_vecs"),
        ks.map(k => sum(col(s"d2_$k")).as(s"s$k")): _*)
    val curve = one
      .select(explode(array(ks.map(k =>
        struct(lit(k.toLong).as("k"), col("n_vecs"),
          col(s"s$k").as("sd2"))): _*)).as("r"))
      .select(col("r.k").as("k"), col("r.n_vecs").as("n_vecs"),
        (round(col("r.sd2") / (col("r.n_vecs") * lit(1000000.0))).cast("long")
          / lit(1000000.0)).as("mean_dist2"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
    curve.withColumn("prev", lag("mean_dist2", 1).over(w))
      .select(col("k"), col("n_vecs"), col("mean_dist2"),
        when(col("prev") > 0,
          round((col("prev") - col("mean_dist2")) / col("prev") * 1000000)
            .cast("long")).as("drop_micro"))
      .orderBy("k")
  }

  /** Per-k IVF search + recall grading CTEs for [[simIvfNlistRecall]]:
    * corpus assignment to the k fitted lists, nprobe=2 query probes,
    * top-3 by exact cosine inside probed lists, hit count vs the
    * `exact` truth CTE — [[simIvfAnn]]'s oracle spelling over
    * [[kmeansFitCtes]]'s centroids.
    */
  private def ivfRecallCtes(k: Int): String =
    s"""asg$k AS (
       |  SELECT c.vec_id AS n_id, c.v AS nv, cc.cid,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY round(list_dot_product(c.v, cc.cv) /
       |                          (sqrt(list_dot_product(c.v, c.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e c, cent$k cc WHERE c.vec_id >= 10),
       |lists$k AS (SELECT n_id, nv, cid FROM asg$k WHERE rn = 1),
       |prb$k AS (
       |  SELECT q.vec_id AS q_id, q.v AS qv, cc.cid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY round(list_dot_product(q.v, cc.cv) /
       |                          (sqrt(list_dot_product(q.v, q.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e q, cent$k cc WHERE q.vec_id < 10),
       |probes$k AS (SELECT q_id, qv, cid FROM prb$k WHERE rn <= 2),
       |scq$k AS (
       |  SELECT p.q_id, l.n_id,
       |         (round(list_dot_product(p.qv, l.nv) /
       |                (sqrt(list_dot_product(p.qv, p.qv)) *
       |                 sqrt(list_dot_product(l.nv, l.nv))), 6) + 0.0) AS sim
       |  FROM probes$k p JOIN lists$k l USING (cid)),
       |top$k AS (SELECT q_id, n_id FROM (
       |            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |              ORDER BY sim DESC, n_id) AS rn FROM scq$k) WHERE rn <= 3),
       |rec$k AS (SELECT CAST($k AS BIGINT) AS nlist,
       |                 CAST(count(*) AS BIGINT) AS k_eff,
       |                 CAST(coalesce(sum(CASE WHEN t.n_id IS NOT NULL
       |                                        THEN 1 ELSE 0 END), 0)
       |                      AS BIGINT) AS n_hits
       |          FROM exact ex LEFT JOIN top$k t
       |            ON ex.q_id = t.q_id AND ex.n_id = t.n_id)""".stripMargin

  /** IVF recall-vs-nlist sweep — the QUALITY side of the elbow's cost
    * curve ([[simKmeansElbow]] picks k by inertia; this op reports what
    * each k COSTS in recall@3 at fixed nprobe=2): for nlist ∈ {2, 4, 8},
    * the fitted inverted lists of [[graft.sim.KMeans]] are probed
    * exactly as [[simIvfAnn]] does, and the top-3 candidates grade
    * against the exact brute-force truth. nlist=2 with nprobe=2 probes
    * every list (recall 1 by construction — the curve's anchor); each
    * halving of probed mass trades recall for scan cost, and this row
    * pair with sim-nprobe-sweep (nprobe at fixed nlist) spans the whole
    * IVF tuning grid. Reference analogue: chunk-size calibration of
    * /root/reference/src/archiver/range.rs:220-261 at the index grain
    * (extension scope).
    *
    * Scale shape: the exact truth ([[Similarity.bruteForceTopK]] —
    * corpus never shuffles, salted top-k) computes ONCE and persists
    * (top-k-sized); each k's search is [[Similarity.ivfTopK]] over the
    * memoized [[fittedCentroids]] (assignment = zero-shuffle centroid
    * literal fold; probes broadcast); the three gradings are
    * top-k-table-sized semi-joins, and the 3-row output unions three
    * genuinely different searches (never a re-execution of one subtree).
    */
  val simIvfNlistRecall: Op = Op.sql(
    "sim-ivf-nlist-recall",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |exsc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, $CosineSql AS sim
       |         FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10),
       |exact AS (SELECT q_id, n_id FROM (
       |            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |              ORDER BY sim DESC, n_id) AS rn FROM exsc) WHERE rn <= 3),
       |${Seq(2, 4, 8).map(k => s"${kmeansFitCtes(k)},\n${ivfRecallCtes(k)}")
        .mkString(",\n")}
       |SELECT nlist, k_eff, n_hits,
       |       CASE WHEN k_eff > 0 THEN round(n_hits * 1.0 / k_eff, 6)
       |            ELSE NULL END AS recall
       |FROM (SELECT * FROM rec2 UNION ALL SELECT * FROM rec4
       |      UNION ALL SELECT * FROM rec8)
       |ORDER BY nlist""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    val c = e.filter(col("vec_id") >= 10)
    val exact = Similarity.bruteForceTopK(q, c, k = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = Seq(2, 4, 8).map { k =>
      val cents = fittedCentroids(s, d, k).toDF("vec_id", "embedding")
      val ann = Similarity.ivfTopK(q, c, cents, k = 3, nprobe = 2)
      val hits = exact.join(broadcast(ann.select("q_id", "n_id")),
        Seq("q_id", "n_id"), "left_semi").agg(count(lit(1)).as("n_hits"))
      exact.agg(count(lit(1)).as("k_eff")).crossJoin(hits)
        .select(lit(k.toLong).as("nlist"), col("k_eff"), col("n_hits"),
          // an empty truth set (degenerate corpus with no queries or no
          // corpus rows) must grade NULL, not NaN, on both engines
          when(col("k_eff") > 0,
            round(col("n_hits") * lit(1.0) / col("k_eff"), 6)).as("recall"))
    }
    rows.reduce(_ union _).orderBy("nlist")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means clusters the
    * embedding space, then near-duplicates are resolved ONLY inside each
    * cluster — pairwise cosine within an epsilon-ball, keeping one
    * representative per ball (here the lowest vec_id, the paper's
    * arbitrary-keeper rule). This is the semantic analogue of
    * dedup-embedding-lsh: where LSH blocks by random sign projections,
    * SemDeDup blocks by LEARNED structure, so paraphrases that share no
    * surface form still collide.
    *
    * Scale shape: the clustering is sim-kmeans-centroids (one shuffle +
    * config-sized collect per Lloyd round); the k centroids BROADCAST to a
    * shuffle-free assignment pass; the pairwise stage joins on cid, so its
    * cost is Σ|cluster|² — bounded by choosing k ∝ corpus/target-cluster-
    * size exactly as the paper does (k=50k for LAION) — never corpus².
    * Cosines snap to integer micro-units before every compare (the
    * decimal-round of a derived double is not cross-engine stable).
    */
  /** The SemDeDup CTE chain (1-round k-means from the 4 lowest vec_ids,
    * reassignment to the updated centroids, within-cluster ≥ 0.35-cosine
    * pairs, lowest-id keeper) up to the `m` (membership) and `dropped`
    * CTEs — shared VERBATIM by [[simSemanticDedup]] and DedupOps'
    * dedup-semantic so the two tiers can never diverge on clustering,
    * tiebreaks or the epsilon threshold.
    */
  private[graft] val SemDedupCtes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |         FROM e ORDER BY vec_id LIMIT 4),
      |asgn AS (
      |  SELECT e.vec_id, e.v, ic.cid,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY round(list_dot_product(e.v, ic.cv) /
      |                          (sqrt(list_dot_product(e.v, e.v)) *
      |                           sqrt(list_dot_product(ic.cv, ic.cv))), 6) DESC,
      |                    ic.cid) AS rn
      |  FROM e CROSS JOIN init ic),
      |members0 AS (SELECT vec_id, v, cid FROM asgn WHERE rn = 1),
      |dims AS (SELECT cid, unnest(generate_series(0, len(v) - 1)) AS dim,
      |                unnest(v) AS x FROM members0),
      |sums AS (SELECT cid, dim, sum(CAST(round(x * 10000) AS BIGINT)) AS sv,
      |                count(*) AS n
      |         FROM dims GROUP BY cid, dim),
      |initdims AS (SELECT cid, unnest(generate_series(0, len(cv) - 1)) AS dim,
      |                    unnest(cv) AS cx FROM init),
      |cent AS (SELECT i.cid,
      |                list(coalesce(round(s.sv / s.n / 10000.0, 6), i.cx)
      |                     ORDER BY i.dim) AS cv
      |         FROM initdims i LEFT JOIN sums s ON s.cid = i.cid AND s.dim = i.dim
      |         GROUP BY i.cid),
      |sc AS (SELECT e.vec_id, e.v, c.cid,
      |              CAST(round(list_dot_product(e.v, c.cv) /
      |                         (sqrt(list_dot_product(e.v, e.v)) *
      |                          sqrt(list_dot_product(c.cv, c.cv))) * 1000000)
      |                   AS BIGINT) AS cos_u
      |       FROM e CROSS JOIN cent c),
      |sc2 AS (SELECT vec_id, v, cid,
      |               row_number() OVER (PARTITION BY vec_id
      |                 ORDER BY cos_u DESC, cid) AS rn
      |        FROM sc),
      |m AS (SELECT vec_id, v, cid FROM sc2 WHERE rn = 1),
      |dropped AS (
      |  SELECT DISTINCT a.vec_id FROM m a JOIN m b
      |  ON a.cid = b.cid AND b.vec_id < a.vec_id
      |  AND CAST(round(list_dot_product(a.v, b.v) /
      |                 (sqrt(list_dot_product(a.v, a.v)) *
      |                  sqrt(list_dot_product(b.v, b.v))) * 1000000)
      |           AS BIGINT) >= 350000)""".stripMargin

  /** Micro-integer cosine (round(cos · 10⁶) as long) — SemDeDup's compare
    * grain, shared by the keep table and the epsilon sweep. */
  private[graft] def cosMicro(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(Similarity.dot(a, b) / (Similarity.norm(a) * Similarity.norm(b))
      * 1000000).cast("long")

  /** 1-round deterministic k-means centroids for any k, sorted by cid —
    * the k = 4 entry is the SemDeDup model, the other ks back the elbow
    * sweep. KMeans.fit executes eagerly (one corpus shuffle + a k·dims
    * collect), and several board ops build on it.
    */
  private[graft] def fittedCentroids(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): IndexedSeq[(Long, Seq[Double])] =
    StageMemo(s, d, "embeddings", s"centroids-k=$k") {
      graft.sim.KMeans.fit(Tables.embeddings(s, d), k = k, iters = 1)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toIndexedSeq
        .sortBy(_._1)
    }

  private[graft] def semanticCentroids(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[(Long, Seq[Double])] = fittedCentroids(s, d, 4)

  /** SemDeDup cluster membership (vec_id, cid, embedding): 1-round
    * k-means + reassignment at the micro-cosine grain — the `m` CTE of
    * [[SemDedupCtes]], shared by [[semanticKeepTable]] and DedupOps'
    * dedup-semantic-sweep.
    *
    * Assignment is a row-local `greatest(struct(cos_u, -cid))` fold over
    * the four collected centroid LITERALS — the same zero-shuffle spelling
    * as [[simEmbedOutliers]] and [[graft.sim.KMeans]]'s own Lloyd rounds.
    * `greatest` over (cos_u, -cid) structs picks max cosine then min cid,
    * exactly the `row_number() ... ORDER BY cos_u DESC, cid` argmax of the
    * oracle's `sc2` CTE; the corpus never exchanges (the old
    * crossJoin+window spelling sorted the 4×-exploded corpus on vec_id
    * purely to argmax over 4 rows).
    */
  private[graft] def semanticMembers(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val centStructs = semanticCentroids(s, d).map { case (cid, cv) =>
      struct(cosMicro(col("embedding"), typedLit(cv)).as("cu"),
        lit(-cid).as("nc"))
    }
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("_b", graft.sim.Similarity.bestStruct(centStructs))
      .select(col("vec_id"), (-col("_b.nc")).as("cid"), col("embedding"))
  }

  /** SemDeDup keep table (vec_id, cid, embedding, keep) — the Spark half
    * of the shared subtree behind [[simSemanticDedup]], DedupOps'
    * dedup-semantic and dedup-semantic-orphans. Carries the embedding
    * through so a consumer that re-scores pairs (the orphan audit) never
    * rebuilds the members subtree just to reattach the vector column.
    */
  private[graft] def semanticKeepTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val members = semanticMembers(s, d)
    val other = members.select(col("cid").as("b_cid"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    val dropped = members.join(other,
        col("cid") === col("b_cid") && col("b_id") < col("vec_id") &&
          cosMicro(col("embedding"), col("b_emb")) >= 350000, "left_semi")
      .select(col("vec_id").as("d_id"))
    members.join(dropped, col("vec_id") === col("d_id"), "left")
      .select(col("vec_id"), col("cid"), col("embedding"),
        col("d_id").isNull.as("keep"))
  }

  /** Per-vector SemDeDup verdict (vec_id, cid, keep) — see the paper/scale
    * notes on [[SemDedupCtes]]; the per-source pipeline rollup is DedupOps'
    * dedup-semantic over the same shared subtree.
    */
  val simSemanticDedup: Op = Op.sql(
    "sim-semantic-dedup",
    s"""$SemDedupCtes
       |SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cid,
       |       dropped.vec_id IS NULL AS keep
       |FROM m LEFT JOIN dropped ON m.vec_id = dropped.vec_id
       |ORDER BY m.vec_id""".stripMargin
  ) { (s, d) =>
    semanticKeepTable(s, d).select("vec_id", "cid", "keep").orderBy("vec_id")
  }

  /** Matryoshka (MRL) truncation eval: how much top-3 recall survives when
    * cosine runs on only the FIRST 16 of 64 dimensions (Kusupati et al.
    * 2022 — MRL-trained embeddings keep their head dims information-dense,
    * so prefix truncation is the cheapest ANN accelerator there is: 4×
    * less memory and FLOPs with no index). Output: per-query hit count and
    * recall of prefix-dim search against the full-dim exact top-3 — the
    * number that decides whether a corpus's embeddings tolerate
    * truncation.
    *
    * Scale shape: both searches are [[Similarity.bruteForceTopK]] (the
    * corpus never shuffles — queries broadcast, salted two-phase top-k);
    * the truncated side slices the vector at SCAN time so the cross-join
    * moves 16-float vectors, not 64. The recall join is top-k-table-sized
    * ([[Similarity.annRecall]]).
    */
  val simMrlRecall: Op = Op.sql(
    "sim-mrl-recall",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |full3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 3),
       |pe AS (SELECT vec_id, v[1:16] AS v FROM e),
       |pre3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM pe q JOIN pe c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 3),
       |keff AS (SELECT q_id, count(*) AS k_eff FROM full3 GROUP BY q_id),
       |h AS (SELECT f.q_id, count(*) AS n_hits FROM full3 f
       |      JOIN pre3 p ON f.q_id = p.q_id AND f.n_id = p.n_id GROUP BY f.q_id)
       |SELECT k.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       round(coalesce(h.n_hits, 0) * 1.0 / k.k_eff, 6) AS recall
       |FROM keff k LEFT JOIN h USING (q_id) ORDER BY q_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    val c = e.filter(col("vec_id") >= 10)
    def prefix(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val exact = Similarity.bruteForceTopK(q, c, k = 3)
    val truncated = Similarity.bruteForceTopK(prefix(q), prefix(c), k = 3)
    Similarity.annRecall(exact, truncated).orderBy("q_id")
  }

  /** Embedding outlier detection — the data-cleaning pass before any
    * index build: assign every vector to its nearest centroid (the
    * deterministic 10..80 centroid table, same assignment rule as
    * sim-ivf-ann: rounded cosine, ties to lowest cid) and flag vectors
    * whose cosine distance exceeds their cluster's p95 (mislabeled /
    * corrupt / out-of-domain candidates). One row per vector with the
    * micro-snapped distance and the verdict.
    *
    * Scale shape: assignment is a zero-shuffle projection over broadcast
    * centroid literals (the corpus never moves); the p95 table is one
    * centroids-sized exact-percentile aggregate over integer micro-unit
    * distances (Spark `percentile` == DuckDB `quantile_cont` at
    * round 6 — the house-proven parity) broadcast back for the flag.
    */
  val simEmbedOutliers: Op = Op.sql(
    "sim-embed-outliers",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cid, v AS cv FROM e
      |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
      |asgn AS (
      |  SELECT e.vec_id, cc.cid,
      |         round(list_dot_product(e.v, cc.cv) /
      |               (sqrt(list_dot_product(e.v, e.v)) *
      |                sqrt(list_dot_product(cc.cv, cc.cv))), 6) AS sim,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY round(list_dot_product(e.v, cc.cv) /
      |                          (sqrt(list_dot_product(e.v, e.v)) *
      |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
      |                    cc.cid) AS rn
      |  FROM e, cents cc),
      |d AS (SELECT vec_id, cid,
      |             CAST(round((1 - sim) * 1000000) AS BIGINT) AS d_e6
      |      FROM asgn WHERE rn = 1),
      |p AS (SELECT cid, round(quantile_cont(d_e6, 0.95), 6) AS p95
      |      FROM d GROUP BY cid)
      |SELECT d.vec_id, d.cid, d.d_e6 / 1000000.0 AS dist,
      |       (d.d_e6 > p.p95) AS is_outlier
      |FROM d JOIN p USING (cid) ORDER BY d.vec_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val cents: Array[(Long, Seq[Double])] = e
      .filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val centStructs = cents.toIndexedSeq.map { case (cid, cv) =>
      struct(Similarity.cosine(col("embedding").cast("array<double>"),
        typedLit(cv)).as("s"), lit(-cid).as("nc"))
    }
    val assigned = e
      .withColumn("_b", graft.sim.Similarity.bestStruct(centStructs))
      .select(col("vec_id"), (-col("_b.nc")).as("cid"),
        round((lit(1) - col("_b.s")) * 1000000).cast("long").as("d_e6"))
    val p95 = assigned.groupBy("cid")
      .agg(expr("round(percentile(d_e6, 0.95), 6)").as("p95"))
    assigned.join(broadcast(p95), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        (col("d_e6") / lit(1000000.0)).as("dist"),
        (col("d_e6") > col("p95")).as("is_outlier"))
      .orderBy("vec_id")
  }

  /** Diversity-preserving corpus sample: one representative (min vec_id)
    * per LSH sign-projection bucket, with bucket occupancy — the cheap
    * geometric stratification that keeps one exemplar per similarity
    * region instead of sampling uniformly (which over-draws dense
    * regions). The same integer-exact bucket function as
    * dedup-embedding-lsh / sim-lsh-ann, so the sample aligns with the
    * dedup blocking a pipeline already computes.
    *
    * Scale shape: one projection (codegen dot products) + one groupBy on
    * the bucket key with map-side combine; output is bucket-count-sized
    * (≤ 2^planes rows). The corpus never joins or sorts.
    */
  val simBucketDiversity: Op = Op.sql(
    "sim-bucket-diversity",
    """WITH iv AS (
      |  SELECT vec_id,
      |         [CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) FOR x IN embedding] AS ie
      |  FROM embeddings),
      |bits AS (
      |  SELECT vec_id, j,
      |         CASE WHEN list_sum([ie[d + 1] * (((j * 131 + d * 31) % 17) - 8)
      |                             FOR d IN generate_series(0, len(ie) - 1)]) > 0
      |              THEN (2 ** j)::BIGINT ELSE 0 END AS bitval
      |  FROM iv, (SELECT unnest(generate_series(0, 7)) AS j) g),
      |bk AS (SELECT vec_id, CAST(sum(bitval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id)
      |SELECT bucket, CAST(min(vec_id) AS BIGINT) AS rep_id, count(*) AS n_members
      |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.sim.Similarity.lshBucket(col("embedding")).as("bucket"))
      .groupBy("bucket")
      .agg(min("vec_id").as("rep_id"), count(lit(1)).as("n_members"))
      .orderBy("bucket")
  }

  /** IVF list-balance report — the "is my index skewed" table read
    * before trusting nprobe latency: per centroid, the inverted-list
    * size, its share of the corpus, and the load factor vs perfect
    * balance. A hot list (load ≫ 1) means probes that hit it scan a
    * disproportionate corpus slice — the signal to re-train centroids or
    * split the list. Same assignment rule as sim-ivf-ann (rounded-cosine
    * argmax, ties to the lowest centroid id).
    *
    * Scale shape: assignment is the zero-shuffle broadcast-centroid
    * projection; the report is one map-side-combined groupBy to the
    * centroid-count grain plus a 1-row broadcast total.
    */
  val simIvfBalance: Op = Op.sql(
    "sim-ivf-balance",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cid, v AS cv FROM e
      |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
      |asgn AS (
      |  SELECT c.vec_id AS n_id, cc.cid,
      |         row_number() OVER (PARTITION BY c.vec_id
      |           ORDER BY round(list_dot_product(c.v, cc.cv) /
      |                          (sqrt(list_dot_product(c.v, c.v)) *
      |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
      |                    cc.cid) AS rn
      |  FROM e c, cents cc WHERE c.vec_id >= 10),
      |lists AS (SELECT cid, count(*) AS list_size FROM asgn WHERE rn = 1 GROUP BY cid),
      |tot AS (SELECT CAST(sum(list_size) AS BIGINT) AS n,
      |               count(*) AS k FROM lists)
      |SELECT CAST(l.cid AS BIGINT) AS cid, CAST(l.list_size AS BIGINT) AS list_size,
      |       CAST(round(l.list_size * 1000000.0 / tot.n) AS BIGINT) / 1000000.0
      |         AS share,
      |       CAST(round(l.list_size * tot.k * 1000000.0 / tot.n) AS BIGINT) / 1000000.0
      |         AS load_factor
      |FROM lists l, tot ORDER BY cid""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val lists = Similarity.assignToCentroids(
      e.filter(col("vec_id") >= 10),
      e.filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L)))
      .groupBy("cid").agg(count(lit(1)).as("list_size"))
    val tot = lists.agg(sum("list_size").as("n"), count(lit(1)).as("k"))
    lists.crossJoin(broadcast(tot))
      .select(col("cid").cast("long").as("cid"), col("list_size"),
        (round(col("list_size") * lit(1000000.0) / col("n")).cast("long") /
          lit(1000000.0)).as("share"),
        (round(col("list_size") * col("k") * lit(1000000.0) / col("n")).cast("long") /
          lit(1000000.0)).as("load_factor"))
      .orderBy("cid")
  }

  /** IVF nprobe tuning sweep — the recall-vs-cost curve that picks
    * sim-ivf-ann's probe count at deployment. ONE assignment + ONE probe
    * ranking at max(nprobe)=4 feed every configuration; each config is a
    * probe-rank FILTER over the shared candidate table (the
    * threshold-sweep discipline — never one pipeline re-run per config),
    * graded against the exact brute top-3. See
    * [[graft.sim.Similarity.ivfNprobeSweep]] for the plan shape.
    */
  val simNprobeSweep: Op = Op.sql(
    "sim-nprobe-sweep",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e
       |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
       |asgn AS (
       |  SELECT c.vec_id AS n_id, c.v AS nv, cc.cid,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY round(list_dot_product(c.v, cc.cv) /
       |                          (sqrt(list_dot_product(c.v, c.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e c, cents cc WHERE c.vec_id >= 10),
       |lists AS (SELECT n_id, nv, cid FROM asgn WHERE rn = 1),
       |prb AS (
       |  SELECT q.vec_id AS q_id, q.v AS qv, cc.cid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY round(list_dot_product(q.v, cc.cv) /
       |                          (sqrt(list_dot_product(q.v, q.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e q, cents cc WHERE q.vec_id < 10),
       |probes AS (SELECT q_id, qv, rn AS probe_rank, cid FROM prb WHERE rn <= 4),
       |sc AS (
       |  SELECT p.q_id, p.probe_rank, l.n_id,
       |         (round(list_dot_product(p.qv, l.nv) /
       |                (sqrt(list_dot_product(p.qv, p.qv)) *
       |                 sqrt(list_dot_product(l.nv, l.nv))), 6) + 0.0) AS sim
       |  FROM probes p JOIN lists l USING (cid)),
       |conf AS (SELECT np, q_id, probe_rank, n_id, sim
       |         FROM sc, (SELECT unnest([1, 2, 4]) AS np) WHERE probe_rank <= np),
       |rk AS (SELECT np, q_id, n_id, sim,
       |              row_number() OVER (PARTITION BY np, q_id
       |                ORDER BY sim DESC, n_id) AS rn
       |       FROM conf),
       |exsc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, $CosineSql AS sim
       |         FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10),
       |exact AS (SELECT q_id, n_id FROM (
       |            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |              ORDER BY sim DESC, n_id) AS rn
       |            FROM exsc) WHERE rn <= 3),
       |per AS (SELECT np, rk.q_id, count(*) AS cands,
       |               CAST(sum(CASE WHEN rk.rn <= 3 AND ex.n_id IS NOT NULL
       |                             THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |        FROM rk LEFT JOIN exact ex
       |          ON rk.q_id = ex.q_id AND rk.n_id = ex.n_id
       |        GROUP BY np, rk.q_id)
       |SELECT np AS nprobe, count(*) AS n_queries,
       |       CAST(round(CAST(sum(cands) AS DOUBLE) * 1000000
       |                  / CAST(count(*) AS DOUBLE)) AS BIGINT) / 1000000.0 AS avg_candidates,
       |       CAST(round(CAST(sum(hits) AS DOUBLE) * 1000000
       |                  / CAST(count(*) * 3 AS DOUBLE)) AS BIGINT) / 1000000.0 AS recall_at_k
       |FROM per GROUP BY np ORDER BY nprobe""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.ivfNprobeSweep(
      e.filter(col("vec_id") < 10),
      e.filter(col("vec_id") >= 10),
      e.filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L)),
      k = 3, nprobes = Seq(1, 2, 4))
  }

  /** IVF-PQ composed ANN ([[graft.sim.Similarity.ivfPqTopK]]): coarse IVF
    * lists (centroids 10..80, same assignment tiebreak as sim-ivf-ann)
    * restrict the candidate set, PQ codes (codebook 10/20/30/40, same
    * encode/ADC semantics as sim-pq-ann) score it — the deployment shape
    * that pairs sub-linear probing with 4-byte-per-vector storage. The
    * oracle composes the two ops' CTEs verbatim, so any drift in either
    * building block breaks this op too.
    */
  val simIvfPq: Op = Op.sql(
    "sim-ivf-pq",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cid, v AS cv FROM e
      |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
      |asgn AS (
      |  SELECT c.vec_id AS n_id, cc.cid,
      |         row_number() OVER (PARTITION BY c.vec_id
      |           ORDER BY round(list_dot_product(c.v, cc.cv) /
      |                          (sqrt(list_dot_product(c.v, c.v)) *
      |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
      |                    cc.cid) AS rn
      |  FROM e c, cents cc WHERE c.vec_id >= 10),
      |lists AS (SELECT n_id, cid FROM asgn WHERE rn = 1),
      |prb AS (
      |  SELECT q.vec_id AS q_id, cc.cid,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY round(list_dot_product(q.v, cc.cv) /
      |                          (sqrt(list_dot_product(q.v, q.v)) *
      |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
      |                    cc.cid) AS rn
      |  FROM e q, cents cc WHERE q.vec_id < 10),
      |probes AS (SELECT q_id, cid FROM prb WHERE rn <= 2),
      |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pcid, v AS cv
      |       FROM e WHERE vec_id IN (10,20,30,40)),
      |ms AS (SELECT unnest(generate_series(0, 3)) AS m),
      |subs AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS sv FROM e, ms),
      |csubs AS (SELECT pcid, m, cv[m*16+1 : m*16+16] AS csv FROM cb, ms),
      |pasgn AS (
      |  SELECT s.vec_id, s.m, c.pcid,
      |         row_number() OVER (PARTITION BY s.vec_id, s.m
      |           ORDER BY round(list_dot_product(s.sv, c.csv), 6) DESC, c.pcid) AS rn
      |  FROM subs s JOIN csubs c USING (m) WHERE s.vec_id >= 10),
      |codes AS (SELECT vec_id AS n_id, m, pcid FROM pasgn WHERE rn = 1),
      |qdt AS (
      |  SELECT s.vec_id AS q_id, s.m, c.pcid,
      |         round(list_dot_product(s.sv, c.csv), 6) AS d
      |  FROM subs s JOIN csubs c USING (m) WHERE s.vec_id < 10),
      |cand AS (SELECT p.q_id, l.n_id FROM probes p JOIN lists l USING (cid)),
      |approx AS (
      |  SELECT cand.q_id, cand.n_id, (round(sum(q.d), 6) + 0.0) AS approx_sim
      |  FROM cand
      |  JOIN codes ON codes.n_id = cand.n_id
      |  JOIN qdt q ON q.q_id = cand.q_id AND q.m = codes.m AND q.pcid = codes.pcid
      |  GROUP BY cand.q_id, cand.n_id),
      |ranked AS (
      |  SELECT q_id, n_id, approx_sim,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY approx_sim DESC, n_id) AS rn
      |  FROM approx)
      |SELECT q_id, n_id, approx_sim FROM ranked WHERE rn <= 3
      |ORDER BY q_id, approx_sim DESC, n_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(
      e.filter(col("vec_id") < 10),
      e.filter(col("vec_id") >= 10),
      e.filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L)),
      e.filter(col("vec_id").isin(10L, 20L, 30L, 40L)),
      k = 3, nprobe = 2, m = 4)
      .orderBy(col("q_id"), col("approx_sim").desc, col("n_id"))
  }

  // per-JVM-run unique root for the persisted index (same discipline as
  // SourceSinkOps' side-effect dirs)
  private lazy val indexRoot: String = java.nio.file.Files
    .createTempDirectory("graft-ivf-").toAbsolutePath.toString

  /** IVF index AS PHYSICAL LAYOUT: the corpus is written once,
    * list-partitioned (`partitionBy(cid)`), and a query reads ONLY its
    * probed lists — the probe set becomes a literal partition filter, so
    * the scan's `PartitionFilters` prunes every other list's files at
    * plan time (PlanAuditSpec pins it). This is the persisted-index half
    * of sim-ivf-ann: same centroids, same probes, same answer, but the
    * candidate fetch is file pruning instead of a join against an
    * in-flight assignment — at 100 TB the index is written once and every
    * query after that touches nprobe/nlist of the bytes. The probe-id
    * collect is q × nprobe (config-sized, documented).
    */
  val simIvfIndexLayout: Op = Op.sql(
    "sim-ivf-index-layout",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e
       |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
       |asgn AS (
       |  SELECT c.vec_id AS n_id, c.v AS nv, cc.cid,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY round(list_dot_product(c.v, cc.cv) /
       |                          (sqrt(list_dot_product(c.v, c.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e c, cents cc WHERE c.vec_id >= 10),
       |lists AS (SELECT n_id, nv, cid FROM asgn WHERE rn = 1),
       |prb AS (
       |  SELECT q.vec_id AS q_id, q.v AS qv, cc.cid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY round(list_dot_product(q.v, cc.cv) /
       |                          (sqrt(list_dot_product(q.v, q.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e q, cents cc WHERE q.vec_id < 10),
       |probes AS (SELECT q_id, qv, cid FROM prb WHERE rn <= 2),
       |scored AS (
       |  SELECT p.q_id, l.n_id,
       |         (round(list_dot_product(p.qv, l.nv) /
       |                (sqrt(list_dot_product(p.qv, p.qv)) *
       |                 sqrt(list_dot_product(l.nv, l.nv))), 6) + 0.0) AS sim
       |  FROM probes p JOIN lists l USING (cid)),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
       |  FROM scored)
       |SELECT q_id, n_id, sim FROM ranked WHERE rn <= 3
       |ORDER BY q_id, sim DESC, n_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < 10)
    val corpus = e.filter(col("vec_id") >= 10)
    val cents = e.filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L))
    val dir = s"$indexRoot/${java.util.UUID.randomUUID().toString.take(8)}"
    // index build (write once): corpus rows land under their list's dir
    corpus
      .join(Similarity.assignToCentroids(corpus, cents),
        corpus("vec_id") === col("n_id"))
      .select(col("n_id"), col("embedding").as("n_emb"), col("cid"))
      .write.partitionBy("cid").parquet(dir)
    // query: probe ids become a LITERAL partition filter on the index
    val probes = Similarity.probeLists(queries, cents, nprobe = 2)
    val probedIds = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted // q×nprobe-sized, config-scale
    val idx = s.read.parquet(dir)
      .filter(col("cid").isin(probedIds.map(_.asInstanceOf[Any]): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    idx.join(broadcast(probes), Seq("cid"))
      .withColumn("sim", Similarity.cosine(col("q_emb"), col("n_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("q_id", "n_id", "sim")
      .orderBy(col("q_id"), col("sim").desc, col("n_id"))
  }

  /** Recall@5 of int8-quantized retrieval against the exact float top-5 —
    * the accuracy price of the 4× storage cut sim-quantize-int8 buys.
    * Both sides quantize symmetrically (per-vector max-abs scale); the
    * quantized score is the INTEGER code dot (a codegen ArrayDotLong —
    * exact, engine-independent) rescaled by the two per-vector scales as
    * the last IEEE ops. This is the eval a pipeline runs before switching
    * its coarse scan to int8 (reference keeps raw payloads only —
    * src/avros.rs:200-240; the quantized tier is the scale extension).
    *
    * Scale shape: queries quantize and BROADCAST; the corpus side is one
    * projection pass (quantize is per-row) and never shuffles; both top-k
    * selections are salted two-phase ([[graft.functions.TopK]]), and the
    * recall join is k-per-query-sized.
    */
  val simInt8Recall: Op = Op.sql(
    "sim-int8-recall",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sc AS (SELECT vec_id, v,
       |              round(list_max([abs(x) FOR x IN v]) / 127.0, 9) AS scale FROM e),
       |qz AS (SELECT vec_id, scale,
       |         [CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
       |               ELSE greatest(CAST(-127 AS BIGINT),
       |                    least(CAST(127 AS BIGINT),
       |                          CAST(round(x / scale) AS BIGINT))) END
       |          FOR x IN v] AS codes
       |       FROM sc),
       |x5 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 5),
       |a5 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY round((list_dot_product(
       |                         CAST(q.codes AS DOUBLE[]),
       |                         CAST(c.codes AS DOUBLE[])) * q.scale) * c.scale,
       |                       6) DESC, c.vec_id) AS rn
       |    FROM qz q JOIN qz c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 5),
       |keff AS (SELECT q_id, count(*) AS k_eff FROM x5 GROUP BY q_id),
       |h AS (SELECT x5.q_id, count(*) AS n_hits FROM x5
       |      JOIN a5 ON x5.q_id = a5.q_id AND x5.n_id = a5.n_id GROUP BY x5.q_id)
       |SELECT k.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       round(coalesce(h.n_hits, 0) * 1.0 / k.k_eff, 6) AS recall
       |FROM keff k LEFT JOIN h USING (q_id)
       |ORDER BY q_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    val c = e.filter(col("vec_id") >= 10)
    val exact = Similarity.bruteForceTopK(q, c, k = 5)
    def quantized(df: org.apache.spark.sql.DataFrame, id: String,
                  codes: String, scale: String) = {
      val (cod, scl) = Similarity.quantizeInt8(col("embedding"))
      df.select(col("vec_id").as(id), cod.as(codes), scl.as(scale))
    }
    val qq = quantized(q, "q_id", "q_codes", "q_scale")
    val cq = quantized(c, "n_id", "n_codes", "n_scale")
    val scored = cq.crossJoin(broadcast(qq))
      .withColumn("idot",
        graft.functions.ArrayDotLong(col("q_codes"), col("n_codes")))
      .withColumn("score",
        round(col("idot").cast("double") * col("q_scale") * col("n_scale"), 6))
      .select("q_id", "n_id", "score")
    val approx = graft.functions.TopK.topkPerGroup(scored, Seq("q_id"),
      Seq(col("score").desc, col("n_id").asc), 5)
    Similarity.annRecall(exact, approx).orderBy("q_id")
  }

  /** Filtered vector search: top-5 cosine neighbors AMONG THE QUERY'S OWN
    * LABEL only — the metadata-predicate ANN every retrieval product
    * ships ("nearest within this tenant / language / category"). The
    * equality predicate joins INSIDE the candidate generation (a hash
    * join on the label), never as a post-filter over an unfiltered top-k
    * — post-filtering k results by label under-fills whenever the global
    * neighborhood is label-diverse, which is exactly the failure this
    * spelling avoids.
    *
    * Scale shape: queries broadcast; the label equality makes the scoring
    * join a Broadcast HASH join (not BNLJ) so each corpus row scores only
    * against its label's queries; with the sim-ivf-index-layout pattern
    * applied per label, the predicate becomes partition pruning and the
    * scan touches one label's files. Salted two-phase top-k as always.
    */
  val simFilteredTopk: Op = Op.sql(
    "sim-filtered-topk",
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.label AS label, c.vec_id AS n_id,
       |         $CosineSql AS sim
       |  FROM e q JOIN e c ON q.label = c.label
       |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
       |ranked AS (
       |  SELECT q_id, label, n_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)
       |           AS rn
       |  FROM scored)
       |SELECT q_id, label, n_id, sim FROM ranked WHERE rn <= 5
       |ORDER BY q_id, sim DESC, n_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label"), col("embedding").as("q_emb"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id"), col("label"), col("embedding").as("n_emb"))
    val scored = c.join(broadcast(q), Seq("label"))
      .withColumn("sim", Similarity.cosine(col("q_emb"), col("n_emb")))
      .select("q_id", "label", "n_id", "sim")
    graft.functions.TopK.topkPerGroup(scored, Seq("q_id"),
      Seq(col("sim").desc, col("n_id").asc), 5)
      .orderBy(col("q_id"), col("sim").desc, col("n_id"))
  }

  /** k-NN graph reciprocity — the mutual-neighbor rate of the LSH kNN@3
    * graph over the whole corpus (every vector queries its own bucket,
    * self excluded). Reciprocity is a standard embedding-quality gauge:
    * hubness-afflicted or anisotropic embedding spaces produce many
    * one-way edges (a hub is everyone's neighbor but reciprocates
    * almost nobody), while a healthy local metric reciprocates most
    * edges — and mutual-kNN is itself the edge filter semantic-dedup
    * graphs use. Companion to sim-hubness (this is the graph-level
    * symptom of the same pathology).
    *
    * Scale shape: the kNN build is the sim-lsh-ann shape (bucket
    * equi-join, never corpus×corpus); the reciprocity check is one
    * self-join of the 3N-row edge list on the reversed key — edge-list
    * sized, not corpus sized.
    */
  val simKnnReciprocity: Op = Op.sql(
    "sim-knn-reciprocity",
    s"""WITH $LshBucketOracle,
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $CosineSql AS sim
       |  FROM withb q JOIN withb c
       |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
       |  FROM scored),
       |e AS (SELECT q_id, n_id FROM ranked WHERE rn <= 3),
       |m AS (SELECT count(*) AS n_mutual
       |      FROM e a JOIN e b ON a.q_id = b.n_id AND a.n_id = b.q_id),
       |t AS (SELECT count(*) AS n_edges, count(DISTINCT q_id) AS n_nodes FROM e)
       |SELECT CAST(t.n_nodes AS BIGINT) AS n_nodes,
       |       CAST(t.n_edges AS BIGINT) AS n_edges,
       |       CAST(m.n_mutual AS BIGINT) AS n_mutual,
       |       CAST((m.n_mutual * 10000) // t.n_edges AS BIGINT) AS reciprocity_bp
       |FROM t, m""".stripMargin
  ) { (s, d) =>
    val wb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        Similarity.lshBucket(col("embedding")).as("bucket"))
    val q = wb.select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
    val c = wb.select(col("vec_id").as("n_id"), col("v").as("nv"), col("bucket"))
    val knn = graft.functions.TopK.topkPerGroup(
        q.join(c, "bucket").filter(col("q_id") =!= col("n_id"))
          .withColumn("sim", Similarity.cosine(col("qv"), col("nv")))
          .select("q_id", "n_id", "sim"),
        Seq("q_id"), Seq(col("sim").desc, col("n_id").asc), 3)
      .select("q_id", "n_id")
      // three consumers (both self-join sides + the totals fold) — persist
      // the 3N-row edge list so the LSH bucket join runs once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rev = knn.select(col("q_id").as("b_q"), col("n_id").as("b_n"))
    val mutual = knn
      .join(rev, col("q_id") === col("b_n") && col("n_id") === col("b_q"))
      .agg(count(lit(1)).as("n_mutual"))
    knn.agg(count(lit(1)).as("n_edges"), countDistinct("q_id").as("n_nodes"))
      .crossJoin(broadcast(mutual))
      .select(col("n_nodes"), col("n_edges"), col("n_mutual"),
        expr("(n_mutual * 10000) div n_edges").as("reciprocity_bp"))
  }

  /** Johnson–Lindenstrauss distortion audit: project the 64-dim
    * embeddings to 16 dims with a deterministic ±1 sign matrix
    * (md5-parity per (j, dim) — balanced and engine-portable) and
    * histogram the cosine distortion (projected − original, cent
    * buckets) over the query×corpus pair set, with the summed absolute
    * distortion per bucket. This is the go/no-go table for swapping an
    * ANN index to projected vectors: 4× less memory and dot-product
    * compute, at a distortion cost this op makes visible BEFORE recall
    * silently degrades. Projections are exact integers (10⁴-scaled
    * vectors × ±1 literals), so both cosines snap to the same 6 dp on
    * every engine.
    *
    * Scale shape: the sign matrix is 16 plan-time literal vectors; each
    * projection is one codegen ArrayDotLong — the projection pass is
    * shuffle-free and corpus-linear. Queries broadcast against the
    * corpus (the sampled-pair audit shape of sim-topk-cosine), and the
    * histogram is a ≤401-bucket map-side-combined groupBy.
    */
  val simJlDistortion: Op = Op.sql(
    "sim-jl-distortion",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |                  [CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
      |                   FOR x IN embedding] AS ie
      |           FROM embeddings),
      |p AS (SELECT vec_id, v,
      |             [list_sum([ie[dd + 1] *
      |                (CASE WHEN substr(md5(concat('jl:', CAST(j AS VARCHAR),
      |                                             ':', CAST(dd AS VARCHAR))),
      |                             1, 1) < '8' THEN 1 ELSE -1 END)
      |                FOR dd IN generate_series(0, len(ie) - 1)])
      |              FOR j IN generate_series(0, 15)] AS p
      |      FROM e),
      |s AS (SELECT (round(list_dot_product(q.v, c.v) /
      |               (sqrt(list_dot_product(q.v, q.v)) *
      |                sqrt(list_dot_product(c.v, c.v))), 6) + 0.0) AS orig,
      |             list_sum([q.p[j + 1] * c.p[j + 1]
      |                       FOR j IN generate_series(0, 15)]) AS pdot,
      |             list_sum([q.p[j + 1] * q.p[j + 1]
      |                       FOR j IN generate_series(0, 15)]) AS pq2,
      |             list_sum([c.p[j + 1] * c.p[j + 1]
      |                       FOR j IN generate_series(0, 15)]) AS pc2
      |      FROM p q JOIN p c ON q.vec_id < 10 AND c.vec_id >= 10),
      |d2 AS (SELECT CAST(round(((round(pdot / (sqrt(pq2) * sqrt(pc2)), 6) + 0.0)
      |                          - orig) * 1000000) AS BIGINT) AS diff_micro
      |       FROM s)
      |SELECT CAST(((diff_micro + 2000000) // 10000) - 200 AS BIGINT) AS bucket,
      |       count(*) AS n_pairs, CAST(sum(abs(diff_micro)) AS BIGINT)
      |         AS abs_sum_micro
      |FROM d2 GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    // deterministic ±1 sign matrix: md5 parity per (j, dim), computed at
    // plan time — the 16 weight vectors are literals in the plan
    val signs: IndexedSeq[Seq[Long]] = (0 until 16).map { j =>
      (0 until 64).map { dd =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"jl:$j:$dd".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.charAt(0) < '8') 1L else -1L
      }
    }
    val proj = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        Similarity.intScaled(col("embedding")).as("ie"))
      .withColumn("p", array(signs.map(w =>
        graft.functions.ArrayDotLong(col("ie"), typedLit(w))): _*))
    val q = proj.filter(col("vec_id") < 10)
      .select(col("v").as("qv"), col("p").as("qp"))
    val c = proj.filter(col("vec_id") >= 10)
      .select(col("v").as("cv"), col("p").as("cp"))
    c.crossJoin(broadcast(q))
      .withColumn("orig", Similarity.cosine(col("qv"), col("cv")))
      .withColumn("pdot", graft.functions.ArrayDotLong(col("qp"), col("cp")))
      .withColumn("pq2", graft.functions.ArrayDotLong(col("qp"), col("qp")))
      .withColumn("pc2", graft.functions.ArrayDotLong(col("cp"), col("cp")))
      .withColumn("proj", round(col("pdot").cast("double") /
        (sqrt(col("pq2").cast("double")) * sqrt(col("pc2").cast("double"))), 6)
        + lit(0.0))
      .withColumn("diff_micro",
        round((col("proj") - col("orig")) * 1e6).cast("long"))
      .select(expr("((diff_micro + 2000000) div 10000) - 200").as("bucket"),
        col("diff_micro"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("diff_micro"))).cast("long").as("abs_sum_micro"))
      .orderBy("bucket")
  }

  val ops: Seq[Op] = Seq(simTopkCosine, simLshAnn, simIvfAnn, simKmeansCentroids,
    simQuantizeInt8, simAnnRecall, simEmbedStats, simPqAnn, simRrfHybrid,
    simRangeSearch, simLabelStats, simSemanticDedup, simMrlRecall,
    simEmbedOutliers, simBucketDiversity, simIvfBalance, simNprobeSweep,
    simIvfPq, simIvfIndexLayout, simInt8Recall, simFilteredTopk, simHubness,
    simListPurity, simIndexCost, simAssignMargin, simJlDistortion,
    simKnnReciprocity, simMahalanobis, simLshMultiprobe, simProbeOrder,
    simHardNegatives, simRankEval, simKmeansElbow, simIvfNlistRecall)

  /** Assignment-confidence margins: per IVF list, the mean (top1 − top2)
    * cosine margin of its members in micro-units — low-margin lists sit
    * on centroid boundaries, where quantization flips under retraining
    * and single-probe recall dies (exactly the vectors nprobe > 1 is
    * for; sim-nprobe-sweep shows the recall side, this shows WHERE the
    * ambiguity lives). Margins subtract as exact integers after the
    * 6-dp micro snap.
    *
    * Scale shape: centroids broadcast; rank ≤ 2 per vector via the
    * per-vector window over an 8-row group (bounded by nlist, not data);
    * the rollup is list-grained.
    */
  lazy val simAssignMargin: Op = Op.sql(
    "sim-assign-margin",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e
       |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
       |asgn AS (
       |  SELECT c.vec_id AS n_id, cc.cid,
       |         CAST(round(round(list_dot_product(c.v, cc.cv) /
       |                    (sqrt(list_dot_product(c.v, c.v)) *
       |                     sqrt(list_dot_product(cc.cv, cc.cv))), 6) * 1000000)
       |           AS BIGINT) AS sm,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY round(list_dot_product(c.v, cc.cv) /
       |                          (sqrt(list_dot_product(c.v, c.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e c, cents cc WHERE c.vec_id >= 10),
       |m AS (SELECT a1.n_id, a1.cid, a1.sm - a2.sm AS margin
       |      FROM asgn a1 JOIN asgn a2 ON a1.n_id = a2.n_id
       |      WHERE a1.rn = 1 AND a2.rn = 2)
       |SELECT cid, count(*) AS n,
       |       CAST(sum(margin) // count(*) AS BIGINT) AS mean_margin_micro
       |FROM m GROUP BY cid ORDER BY cid""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val cents = e.filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val asgn = e.filter(col("vec_id") >= 10)
      .crossJoin(broadcast(cents))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("cv")))
      .withColumn("sm", round(col("sim") * 1000000).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid"))))
      .filter(col("rn") <= 2)
    val a1 = asgn.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("sm").as("sm1"))
    val a2 = asgn.filter(col("rn") === 2)
      .select(col("vec_id"), col("sm").as("sm2"))
    a1.join(a2, Seq("vec_id"))
      .select(col("cid"), (col("sm1") - col("sm2")).as("margin"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        expr("sum(margin) div count(1)").cast("long").as("mean_margin_micro"))
      .orderBy("cid")
  }

  /** Index cost card for the ANN ladder — one table a deployment reads
    * before choosing its tier: per method, stored index rows, payload
    * bytes per vector (float32=256B, int8=64B, PQ codes=8B, LSH adds an
    * 8-byte bucket key), and the PROBE row count one query actually
    * scans. flat/pq probe the whole corpus (pq wins on bytes, not rows);
    * LSH probes are MEASURED over the query set's realized buckets
    * (mean corpus bucket size met by a query — the number analytic
    * uniform-bucket estimates get wrong under skew); IVF probes
    * nprobe/nlist of the corpus on balanced lists (sim-ivf-balance
    * grades that assumption).
    *
    * Scale shape: a corpus count, one bucket rollup joined to the
    * (tiny) query bucket set, and literal arithmetic — nothing else.
    */
  lazy val simIndexCost: Op = Op.sql(
    "sim-index-cost",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT count(*) AS n FROM e WHERE vec_id >= 10),
       |iv AS (
       |  SELECT vec_id,
       |         [CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) FOR x IN v] AS ie
       |  FROM e),
       |bits AS (
       |  SELECT vec_id, j,
       |         CASE WHEN list_sum([ie[d + 1] * (((j * 131 + d * 31) % 17) - 8)
       |                             FOR d IN generate_series(0, len(ie) - 1)]) > 0
       |              THEN (2 ** j)::BIGINT ELSE 0 END AS bitval
       |  FROM iv, (SELECT unnest(generate_series(0, 7)) AS j) g),
       |bk AS (SELECT vec_id, CAST(sum(bitval) AS BIGINT) AS bucket
       |       FROM bits GROUP BY vec_id),
       |cb AS (SELECT bucket, count(*) AS sz FROM bk
       |       WHERE vec_id >= 10 GROUP BY bucket),
       |lp AS (SELECT CAST(sum(coalesce(cb.sz, 0)) // count(*) AS BIGINT)
       |         AS probe
       |       FROM bk LEFT JOIN cb ON cb.bucket = bk.bucket
       |       WHERE bk.vec_id < 10),
       |r(method, n_index_rows, bytes_per_vec, probe_rows) AS (
       |  SELECT 'flat', n.n, 256, n.n FROM n
       |  UNION ALL SELECT 'ivf', n.n, 256, (n.n * 2) // 8 FROM n
       |  UNION ALL SELECT 'lsh', n.n, 264, lp.probe FROM n, lp
       |  UNION ALL SELECT 'pq', n.n, 8, n.n FROM n)
       |SELECT method, CAST(n_index_rows AS BIGINT) AS n_index_rows,
       |       CAST(bytes_per_vec AS BIGINT) AS bytes_per_vec,
       |       CAST(probe_rows AS BIGINT) AS probe_rows
       |FROM r ORDER BY method""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val bk = e.select(col("vec_id"),
      Similarity.lshBucket(col("embedding")).as("bucket"))
    val cb = bk.filter(col("vec_id") >= 10)
      .groupBy("bucket").agg(count(lit(1)).as("sz"))
    val lp = bk.filter(col("vec_id") < 10)
      .join(broadcast(cb), Seq("bucket"), "left")
      .agg(expr("sum(coalesce(sz, 0)) div count(1)").cast("long")
        .as("probe"))
    val n = e.filter(col("vec_id") >= 10).agg(count(lit(1)).as("n"))
    n.crossJoin(broadcast(lp))
      .select(explode(array(
        struct(lit("flat").as("method"), col("n").as("n_index_rows"),
          lit(256L).as("bytes_per_vec"), col("n").as("probe_rows")),
        struct(lit("ivf").as("method"), col("n").as("n_index_rows"),
          lit(256L).as("bytes_per_vec"),
          expr("(n * 2) div 8").as("probe_rows")),
        struct(lit("lsh").as("method"), col("n").as("n_index_rows"),
          lit(264L).as("bytes_per_vec"), col("probe").as("probe_rows")),
        struct(lit("pq").as("method"), col("n").as("n_index_rows"),
          lit(8L).as("bytes_per_vec"), col("n").as("probe_rows")))).as("r"))
      .select(col("r.method").as("method"),
        col("r.n_index_rows").cast("long").as("n_index_rows"),
        col("r.bytes_per_vec").cast("long").as("bytes_per_vec"),
        col("r.probe_rows").cast("long").as("probe_rows"))
      .orderBy("method")
  }

  /** IVF list LABEL purity — the semantic-quality view next to
    * sim-ivf-balance's load view: per list (corpus assigned to the fixed
    * 8-centroid set by max cosine), the majority label and its share in
    * basis points. High purity means the index's partitions align with
    * the label structure — filtered search (sim-filtered-topk) then
    * probes few lists; low purity predicts cross-list probe fan-out.
    *
    * Scale shape: centroids broadcast; the per-row 8-way argmax is a
    * max(struct) groupBy on the row id — partials combine map-side, and
    * it is the ONLY corpus-sized exchange; purity folds over (list,
    * label) counts.
    */
  lazy val simListPurity: Op = Op.sql(
    "sim-list-purity",
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e
       |          WHERE vec_id IN (10,20,30,40,50,60,70,80)),
       |asgn AS (
       |  SELECT c.vec_id, c.label, cc.cid,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY round(list_dot_product(c.v, cc.cv) /
       |                          (sqrt(list_dot_product(c.v, c.v)) *
       |                           sqrt(list_dot_product(cc.cv, cc.cv))), 6) DESC,
       |                    cc.cid) AS rn
       |  FROM e c, cents cc WHERE c.vec_id >= 10),
       |lists AS (SELECT cid, label FROM asgn WHERE rn = 1),
       |lc AS (SELECT cid, label, count(*) AS n FROM lists GROUP BY cid, label),
       |tot AS (SELECT cid, CAST(sum(n) AS BIGINT) AS n_total FROM lc GROUP BY cid),
       |top AS (SELECT cid, label AS top_label, n AS n_top FROM (
       |          SELECT cid, label, n,
       |                 row_number() OVER (PARTITION BY cid
       |                   ORDER BY n DESC, label) AS rn FROM lc) t
       |        WHERE rn = 1)
       |SELECT t.cid AS cid, tot.n_total, t.top_label,
       |       CAST(t.n_top AS BIGINT) AS n_top,
       |       CAST((t.n_top * 10000) // tot.n_total AS BIGINT) AS purity_bp
       |FROM top t JOIN tot ON tot.cid = t.cid
       |ORDER BY t.cid""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val cents = e.filter(col("vec_id").isin(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val asgn = e.filter(col("vec_id") >= 10)
      .crossJoin(broadcast(cents))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("cv")))
      // argmax by (sim DESC, cid ASC) as a map-side-combinable struct max
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("cid")).as("negCid"),
        col("label"), col("cid"))).as("best"))
      .select(col("best.cid").as("cid"), col("best.label").as("label"))
    val lc = asgn.groupBy("cid", "label").agg(count(lit(1)).as("n"))
    val tot = lc.groupBy("cid").agg(sum("n").cast("long").as("n_total"))
    val top = graft.functions.TopK.topkPerGroup(lc, Seq("cid"),
      Seq(col("n").desc, col("label").asc), 1)
      .select(col("cid"), col("label").as("top_label"), col("n").as("n_top"))
    top.join(broadcast(tot), Seq("cid"))
      .select(col("cid"), col("n_total"), col("top_label"),
        col("n_top").cast("long").as("n_top"),
        expr("(n_top * 10000) div n_total").as("purity_bp"))
      .orderBy("cid")
  }

  /** Hubness audit of the retrieval space: how many times each corpus
    * vector occurs across the query set's exact top-5 lists, as a
    * k-occurrence histogram — the classic high-dimensional pathology
    * check (a few "hub" vectors appearing in everyone's neighbor list
    * degrade retrieval diversity and skew ANN bucket load; heavy hubs
    * argue for re-normalization or centering before indexing).
    *
    * Scale shape: the input is the top-k table (k·|queries| rows); both
    * folds are over that table — corpus cost is the brute scan the
    * baseline already pays.
    */
  lazy val simHubness: Op = Op.sql(
    "sim-hubness",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x5 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 5),
       |occ AS (SELECT n_id, count(*) AS n_occ FROM x5 GROUP BY n_id)
       |SELECT CAST(n_occ AS BIGINT) AS n_occ, count(*) AS n_vectors
       |FROM occ GROUP BY n_occ ORDER BY n_occ""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5)
      .groupBy("n_id").agg(count(lit(1)).as("n_occ"))
      .groupBy(col("n_occ").cast("long").as("n_occ"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("n_occ")
  }

  /** Multi-probe LSH (Lv et al. 2007): each query probes its own
    * hyperplane bucket PLUS the 8 buckets at Hamming distance 1 (one
    * sign bit flipped) — the standard recall-vs-tables trade: one index,
    * 9 probes, instead of 9 independent hash tables. Emits the
    * single-probe and multi-probe candidate volumes and recall@3 against
    * the exact top-3 truth side by side — the table that justifies the
    * probe budget before an index ships. Reference analogue: the
    * bounded per-key request fan-out of src/archiver/block.rs:36-60
    * (parallel fetch batching), lifted to the ANN probe set — extension
    * scope like the rest of the sim tier.
    *
    * Scale shape: buckets are row-local codegen projections
    * (ArrayDotLong sign dots); the probe set explodes QUERIES only (9
    * rows per query — queries are the small side and stay broadcast);
    * candidates come from the bucket equi-join (co-locatable at scale),
    * dedup and scoring run at the candidate grain, and the per-(mode,
    * query) top-3 is the bounded aggregate. The corpus is never
    * re-bucketed per probe — multi-probe reads the SAME index single
    * probe reads, which is the point.
    */
  lazy val simLshMultiprobe: Op = Op.sql(
    "sim-lsh-multiprobe",
    s"""WITH $LshBucketOracle,
       |x3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM withb q JOIN withb c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 3),
       |probes AS (
       |  SELECT vec_id AS q_id, bucket AS pb, 'single' AS mode
       |  FROM withb WHERE vec_id < 10
       |  UNION ALL
       |  SELECT vec_id, bucket, 'multi' FROM withb WHERE vec_id < 10
       |  UNION ALL
       |  SELECT vec_id, xor(bucket, CAST(2 ** j AS BIGINT)), 'multi'
       |  FROM withb, (SELECT unnest(generate_series(0, 7)) AS j) g
       |  WHERE vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT p.mode, p.q_id, cb.vec_id AS n_id
       |  FROM probes p JOIN withb cb ON cb.bucket = p.pb
       |  WHERE cb.vec_id >= 10),
       |r3 AS (
       |  SELECT mode, q_id, n_id FROM (
       |    SELECT cand.mode, cand.q_id, cand.n_id,
       |           row_number() OVER (PARTITION BY cand.mode, cand.q_id
       |             ORDER BY $CosineSql DESC, cand.n_id) AS rn
       |    FROM cand JOIN withb q ON q.vec_id = cand.q_id
       |              JOIN withb c ON c.vec_id = cand.n_id) t
       |  WHERE rn <= 3),
       |sums AS (SELECT mode, CAST(count(*) AS BIGINT) AS n_candidates
       |         FROM cand GROUP BY mode),
       |hits AS (SELECT mode, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM r3 JOIN x3 USING (q_id, n_id) GROUP BY mode),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM x3)
       |SELECT s.mode, s.n_candidates,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, t.n_truth,
       |       CASE WHEN t.n_truth = 0 THEN NULL
       |            ELSE CAST(coalesce(h.n_hits, 0) * 10000 // t.n_truth AS BIGINT)
       |       END AS recall_bp
       |FROM sums s LEFT JOIN hits h USING (mode), tot t
       |ORDER BY s.mode""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q0 = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      Similarity.lshBucket(col("embedding")).as("bucket"))
    val c0 = e.filter(col("vec_id") >= 10).select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"),
      Similarity.lshBucket(col("embedding")).as("bucket"))
    val truth = Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 3)
      .select("q_id", "n_id")
    val single = q0.select(col("q_id"), col("bucket").as("pb"),
      lit("single").as("mode"))
    val multi = q0.select(col("q_id"),
      explode(array((col("bucket") +:
        (0 until 8).map(j => col("bucket").bitwiseXOR(lit(1L << j)))): _*)).as("pb"),
      lit("multi").as("mode"))
    val probes = single.unionByName(multi)
    val cand = probes
      .join(c0.select(col("n_id"), col("bucket").as("pb")), Seq("pb"))
      .select("mode", "q_id", "n_id").distinct()
    val scored = cand
      .join(broadcast(q0.select("q_id", "q_emb")), Seq("q_id"))
      .join(c0.select("n_id", "n_emb"), Seq("n_id"))
      .withColumn("sim", Similarity.cosine(col("q_emb"), col("n_emb")))
      .select("mode", "q_id", "n_id", "sim")
    val r3 = graft.functions.TopK.topkPerGroup(scored, Seq("mode", "q_id"),
      Seq(col("sim").desc, col("n_id").asc), k = 3)
      .select("mode", "q_id", "n_id")
    val sums = cand.groupBy("mode").agg(count(lit(1)).as("n_candidates"))
    val hits = r3.join(truth, Seq("q_id", "n_id"), "left_semi")
      .groupBy("mode").agg(count(lit(1)).as("n_hits"))
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    sums.join(hits, Seq("mode"), "left_outer").crossJoin(broadcast(tot))
      .select(col("mode"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_truth"))
      .withColumn("recall_bp",
        when(col("n_truth") === 0, lit(null))
          .otherwise(expr("(n_hits * 10000) div n_truth")))
      .orderBy("mode")
  }

  /** Diagonal-covariance Mahalanobis out-of-distribution score per
    * vector — the standardization-based OOD screen that complements
    * sim-embed-outliers' centroid-cosine view (an embedding can sit
    * near a centroid yet be wildly off-scale on a single dimension;
    * per-dim z² catches exactly that): m2 = Σ_d (x_d − μ_d)²/σ²_d,
    * flagged when the mean z² per dimension exceeds 2.
    *
    * Float discipline: coordinates quantize to exact milli-integers
    * (round BEFORE any long cast — the CAST-rounds-vs-truncates
    * invariant), and with S_d = Σq_d, Q_d = Σq_d², the n² factors
    * cancel so each dimension's z² is a ratio of EXACT integers,
    * (n·q_d − S_d)² / (n·Q_d − S_d²): one identical-tree double
    * division per dim, snapped to micro-units per dim, then an
    * order-free INTEGER sum. Constant dimensions (zero variance)
    * contribute 0 on both engines (the div-by-zero NULL-vs-throw
    * invariant).
    *
    * Scale shape: the op scans the corpus TWICE — once for the per-dim
    * moment table (ONE map-side-combined groupBy over (vector × dims)
    * positions, collected driver-side at dims rows — config-sized model
    * state, the k-means pattern) and once for scoring, a ZERO-shuffle
    * row-local fold with the moments as plan literals — no join, no
    * window (reference analogue: the driver-held per-kind statistics of
    * src/command/verify.rs:62-96, lifted to the embedding-moment
    * grain). Two scans of a milli-quantized projection beat persisting
    * it at 100 TB: the cache would be corpus-sized while each scan is
    * pruned to the embedding column and pipelines entirely. Overflow
    * bound: the long square (n·q_d − S_d)² must fit int64, i.e.
    * |n·q_d − S_d| < 3·10⁹ (under ANSI a long overflow THROWS, it does
    * not round) — at a corpus size where that binds, quantize coarser
    * than milli (the documented swap; the z² ratio is scale-invariant).
    * The moment collect carries each dim's min/max q_d, and the driver
    * ASSERTS the exact worst-case |n·q − S| (skipping zero-variance dims,
    * whose scoring term never computes the square) before building the
    * scoring plan, so the failure is an actionable "quantize coarser"
    * message instead of a mid-job ANSI arithmetic exception (ADVICE r9).
    *
    * Degenerate-shape contract (matches the row-grain oracle exactly):
    * one output row PER INPUT ROW (duplicate or NULL vec_ids stay
    * separate rows), ragged/short vectors score only their own
    * dimensions (a size guard runs before element_at — ANSI
    * out-of-bounds throws), all-NULL dimensions and zero-variance
    * dimensions contribute 0, and an all-empty-array corpus scores
    * every row m2 = 0.
    */
  lazy val simMahalanobis: Op = Op.sql(
    "sim-mahalanobis",
    """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |             x -> CAST(round(x * 1000) AS BIGINT)) AS q
      |           FROM embeddings WHERE embedding IS NOT NULL),
      |ix AS (SELECT unnest(generate_series(1,
      |                (SELECT max(len(q)) FROM e))) AS i),
      |st AS (SELECT i, CAST(count(q[i]) AS BIGINT) AS n,
      |              CAST(sum(q[i]) AS BIGINT) AS s,
      |              CAST(sum(q[i] * q[i]) AS BIGINT) AS qq
      |       FROM e, ix GROUP BY i),
      |stl AS (SELECT coalesce(list(n ORDER BY i), []) AS nl,
      |               coalesce(list(s ORDER BY i), []) AS sl,
      |               coalesce(list(qq ORDER BY i), []) AS ql FROM st),
      |z AS (SELECT vec_id,
      |        coalesce(CAST(list_sum(list_transform(generate_series(1, len(q)),
      |          i -> CASE WHEN q[i] IS NULL THEN 0
      |                    WHEN sl[i] IS NULL THEN 0
      |                    WHEN nl[i] * ql[i] - sl[i] * sl[i] = 0 THEN 0
      |               ELSE CAST(round((1000000.0 *
      |                      ((nl[i] * q[i] - sl[i]) * (nl[i] * q[i] - sl[i])))
      |                      / (nl[i] * ql[i] - sl[i] * sl[i])) AS BIGINT) END))
      |          AS BIGINT), 0) AS m2_micro
      |      FROM e, stl)
      |SELECT vec_id, m2_micro,
      |       (m2_micro > coalesce((SELECT max(len(q)) FROM e), 0) * 2000000) AS is_ood
      |FROM z ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 1000).cast("long")).as("q"))
    // per-dim moments: dims rows of driver-held model state. A
    // dimension whose every value is NULL has sum NULL — treated as
    // contributing 0, like the oracle's q[i] IS NULL branch.
    val statRows = e.select(posexplode(col("q")).as(Seq("i0", "qv")))
      .groupBy("i0")
      .agg(count(col("qv")).as("n"), sum("qv").as("s"),
        sum(col("qv") * col("qv")).as("qq"),
        min(col("qv")).as("mn"), max(col("qv")).as("mx"))
      .collect()
    // overflow guard (ADVICE r9): the worst per-row |n·q_d − S_d| is
    // exactly max(|n·max_d − S_d|, |n·min_d − S_d|) (n·q − S is monotone
    // in q), and it must stay below √Long.MaxValue or the ANSI long
    // square throws mid-job. Checked in double (the bound itself could
    // overflow a long); zero-variance dims are skipped — their scoring
    // term is the literal 0L and never computes the square.
    statRows.filter(r => !r.isNullAt(2)).foreach { r =>
      val (n, sSum, qq) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // the skip must match the plan's EXACT den == 0L decision — a double
      // subtraction at ~1e26 magnitudes can read 0.0 for a barely-nonzero
      // variance and silently skip the guard for a dim the plan squares
      if (BigInt(n) * qq != BigInt(sSum) * sSum) {
        val bound = math.max(
          math.abs(n.toDouble * r.getLong(5) - sSum.toDouble),
          math.abs(n.toDouble * r.getLong(4) - sSum.toDouble))
        require(bound < 3.0e9,
          s"sim-mahalanobis: dim ${r.getInt(0)} moment magnitude $bound would " +
            "overflow the exact long square (n*q - S)^2 — quantize coarser " +
            "than milli (the z^2 ratio is scale-invariant)")
      }
    }
    // nd = max observed dimensionality (equals the oracle's max(len(q)):
    // posexplode emits a position even when the value is NULL, so an
    // all-NULL trailing dimension still counts toward the threshold)
    val nd = if (statRows.isEmpty) 0 else statRows.map(_.getInt(0)).max + 1
    val stats = statRows
      .filter(r => !r.isNullAt(2))
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val terms: Seq[org.apache.spark.sql.Column] = (0 until nd).map { i =>
      stats.get(i) match {
        case None => lit(0L) // all-NULL dimension
        case Some((n, sSum, qq)) =>
          val den = n * qq - sSum * sSum
          if (den == 0L) lit(0L)
          else {
            // size guard FIRST: CASE WHEN is lazy, so element_at never
            // evaluates out of bounds on a ragged/short vector (ANSI
            // INVALID_ARRAY_INDEX would throw before any null check)
            val qi = element_at(col("q"), i + 1)
            when(size(col("q")) < i + 1, lit(0L))
              .when(qi.isNull, lit(0L))
              .otherwise(
                round((lit(1000000.0) *
                  ((lit(n) * qi - lit(sSum)) * (lit(n) * qi - lit(sSum)))) / lit(den))
                  .cast("long"))
          }
      }
    }
    val m2 = if (terms.isEmpty) lit(0L) else terms.reduce(_ + _)
    e.select(col("vec_id"), m2.as("m2_micro"))
      .withColumn("is_ood", col("m2_micro") > lit(nd.toLong * 2000000L))
      .orderBy("vec_id")
  }

  /** Query-directed probe ORDERING for multi-probe LSH — the actual
    * contribution of Lv et al. 2007 on top of sim-lsh-multiprobe's
    * flip-everything baseline: perturbations are ranked by the query's
    * margin on each hyperplane (the smaller |dot| is, the likelier the
    * true neighbors sit just across that plane), and only the top-T
    * lowest-margin flips are probed. The emitted T-sweep (T ∈ {2, 4, 8};
    * T = 8 equals the full Hamming-1 set) is candidates vs recall@3 per
    * probe budget — the table that PICKS T for a deployment: where the
    * ordered T = 2 column recovers most of T = 8's recall at a quarter
    * of the candidate volume, the margin ordering has paid for itself.
    * Reference analogue: the bounded per-key request fan-out of
    * src/archiver/block.rs:36-60, lifted to a PRIORITIZED probe set —
    * extension scope like the rest of the sim tier.
    *
    * Scale shape: margins are the SAME exact-integer sign dots the
    * bucket is built from ([[Similarity.lshMargins]] — row-local codegen
    * projections, deterministic under any partitioning); the ranked
    * flip set explodes QUERIES only (8 rows per query before the budget
    * filter, queries broadcast) and the T-sweep is a constant-size
    * budget explode × rank filter on that one table — the corpus is
    * bucketed ONCE and every budget reads the same bucket equi-join;
    * dedup, exact re-rank and the per-(T, query) top-3 run at the
    * candidate grain through the bounded top-k aggregate.
    */
  lazy val simProbeOrder: Op = Op.sql(
    "sim-probe-order",
    s"""WITH iv AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         [CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) FOR x IN embedding] AS ie
       |  FROM embeddings),
       |mg AS (
       |  SELECT vec_id, j,
       |         list_sum([ie[d + 1] * (((j * 131 + d * 31) % 17) - 8)
       |                   FOR d IN generate_series(0, len(ie) - 1)]) AS s
       |  FROM iv, (SELECT unnest(generate_series(0, 7)) AS j) g),
       |bk AS (SELECT vec_id,
       |              sum(CASE WHEN s > 0 THEN (2 ** j)::BIGINT ELSE 0 END) AS bucket
       |       FROM mg GROUP BY vec_id),
       |withb AS (SELECT iv.vec_id, iv.v, bk.bucket FROM iv JOIN bk USING (vec_id)),
       |x3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM withb q JOIN withb c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 3),
       |rk AS (
       |  SELECT mg.vec_id AS q_id, mg.j,
       |         row_number() OVER (PARTITION BY mg.vec_id
       |           ORDER BY abs(mg.s), mg.j) AS flip_rank
       |  FROM mg WHERE mg.vec_id < 10),
       |probes0 AS (
       |  SELECT vec_id AS q_id, bucket AS pb, CAST(0 AS BIGINT) AS flip_rank
       |  FROM withb WHERE vec_id < 10
       |  UNION ALL
       |  SELECT rk.q_id, xor(wb.bucket, CAST(2 ** rk.j AS BIGINT)),
       |         CAST(rk.flip_rank AS BIGINT)
       |  FROM rk JOIN withb wb ON wb.vec_id = rk.q_id),
       |budget AS (SELECT unnest([2, 4, 8]) AS t_budget),
       |probes AS (SELECT CAST(b.t_budget AS BIGINT) AS t_budget, p.q_id, p.pb
       |           FROM probes0 p, budget b WHERE p.flip_rank <= b.t_budget),
       |cand AS (
       |  SELECT DISTINCT p.t_budget, p.q_id, cb.vec_id AS n_id
       |  FROM probes p JOIN withb cb ON cb.bucket = p.pb
       |  WHERE cb.vec_id >= 10),
       |r3 AS (
       |  SELECT t_budget, q_id, n_id FROM (
       |    SELECT cand.t_budget, cand.q_id, cand.n_id,
       |           row_number() OVER (PARTITION BY cand.t_budget, cand.q_id
       |             ORDER BY $CosineSql DESC, cand.n_id) AS rn
       |    FROM cand JOIN withb q ON q.vec_id = cand.q_id
       |              JOIN withb c ON c.vec_id = cand.n_id) t
       |  WHERE rn <= 3),
       |sums AS (SELECT t_budget, CAST(count(*) AS BIGINT) AS n_candidates
       |         FROM cand GROUP BY t_budget),
       |hits AS (SELECT t_budget, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM r3 JOIN x3 USING (q_id, n_id) GROUP BY t_budget),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM x3)
       |SELECT s.t_budget, s.n_candidates,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, t.n_truth,
       |       CASE WHEN t.n_truth = 0 THEN NULL
       |            ELSE CAST(coalesce(h.n_hits, 0) * 10000 // t.n_truth AS BIGINT)
       |       END AS recall_bp
       |FROM sums s LEFT JOIN hits h USING (t_budget), tot t
       |ORDER BY s.t_budget""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q0 = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      Similarity.lshBucket(col("embedding")).as("bucket"),
      Similarity.lshMargins(col("embedding")).as("margins"))
    val c0 = e.filter(col("vec_id") >= 10).select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"),
      Similarity.lshBucket(col("embedding")).as("bucket"))
    val truth = Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 3)
      .select("q_id", "n_id")
    // margin-ranked flips: sort (|s_j|, j) structs ascending — a row-local
    // array sort over 8 elements, then position + 1 IS the flip rank
    val flips = q0.select(col("q_id"), col("bucket"),
      posexplode(array_sort(transform(sequence(lit(0), lit(7)), j =>
        struct(abs(element_at(col("margins"), j + 1)).as("am"),
          j.cast("long").as("j"))))).as(Seq("r0", "f")))
      .select(col("q_id"),
        col("bucket").bitwiseXOR(expr("shiftleft(CAST(1 AS BIGINT), f.j)")).as("pb"),
        (col("r0") + 1).cast("long").as("flip_rank"))
    val probes0 = q0.select(col("q_id"), col("bucket").as("pb"),
      lit(0L).as("flip_rank")).unionByName(flips)
    val probes = probes0
      .withColumn("t_budget", explode(array(lit(2L), lit(4L), lit(8L))))
      .filter(col("flip_rank") <= col("t_budget"))
      .select("t_budget", "q_id", "pb")
    val cand = probes
      .join(c0.select(col("n_id"), col("bucket").as("pb")), Seq("pb"))
      .select("t_budget", "q_id", "n_id").distinct()
    val scored = cand
      .join(broadcast(q0.select("q_id", "q_emb")), Seq("q_id"))
      .join(c0.select("n_id", "n_emb"), Seq("n_id"))
      .withColumn("sim", Similarity.cosine(col("q_emb"), col("n_emb")))
      .select("t_budget", "q_id", "n_id", "sim")
    val r3 = graft.functions.TopK.topkPerGroup(scored, Seq("t_budget", "q_id"),
      Seq(col("sim").desc, col("n_id").asc), k = 3)
      .select("t_budget", "q_id", "n_id")
    val sums = cand.groupBy("t_budget").agg(count(lit(1)).as("n_candidates"))
    val hits = r3.join(truth, Seq("q_id", "n_id"), "left_semi")
      .groupBy("t_budget").agg(count(lit(1)).as("n_hits"))
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    sums.join(hits, Seq("t_budget"), "left_outer").crossJoin(broadcast(tot))
      .select(col("t_budget"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_truth"))
      .withColumn("recall_bp",
        when(col("n_truth") === 0, lit(null))
          .otherwise(expr("(n_hits * 10000) div n_truth")))
      .orderBy("t_budget")
  }

  /** Hard-negative mining for contrastive / triplet training (Schroff et
    * al. 2015, FaceNet §3.2): per anchor query, the NEAREST SAME-label
    * corpus vector (the easiest positive) and the NEAREST DIFFERENT-label
    * vector (the hardest negative), their micro-cosines, the triplet
    * margin pos−neg, and whether the triplet is VIOLATED (a negative
    * strictly closer than every positive — the pairs a metric-learning
    * pass must mine, and the count that says whether the embedding
    * space separates the labels at all). Reference analogue: the
    * verify-vs-expected comparison tables of src/command/verify.rs at
    * the embedding grain (extension scope).
    *
    * Scale shape: queries BROADCAST into one corpus projection (the
    * bruteForceTopK discipline — the corpus never shuffles); both
    * argmaxes are `max(struct(cos_u, -n_id))` groupBys with map-side
    * combine (query-count groups, no window, no sort). Cosines snap to
    * integer micro-units before every compare; the margin subtracts as
    * exact integers. NULL labels match nothing on either side (SQL
    * equality semantics, identical both engines).
    */
  lazy val simHardNegatives: Op = Op.sql(
    "sim-hard-negatives",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
      |           FROM embeddings),
      |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |              q.label AS ql, c.label AS cl,
      |              CAST(round(list_dot_product(q.v, c.v) /
      |                         (sqrt(list_dot_product(q.v, q.v)) *
      |                          sqrt(list_dot_product(c.v, c.v))) * 1000000)
      |                   AS BIGINT) AS cu
      |       FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10),
      |pos AS (SELECT q_id, n_id AS pos_id, cu AS pos_cos_u FROM (
      |          SELECT q_id, n_id, cu, row_number() OVER (PARTITION BY q_id
      |                   ORDER BY cu DESC, n_id) AS rn
      |          FROM sc WHERE ql = cl) t WHERE rn = 1),
      |neg AS (SELECT q_id, n_id AS neg_id, cu AS neg_cos_u FROM (
      |          SELECT q_id, n_id, cu, row_number() OVER (PARTITION BY q_id
      |                   ORDER BY cu DESC, n_id) AS rn
      |          FROM sc WHERE ql <> cl) t WHERE rn = 1)
      |SELECT p.q_id, p.pos_id, p.pos_cos_u, n.neg_id, n.neg_cos_u,
      |       p.pos_cos_u - n.neg_cos_u AS margin_u,
      |       p.pos_cos_u < n.neg_cos_u AS violated
      |FROM pos p JOIN neg n USING (q_id) ORDER BY p.q_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("label").as("q_label"))
    val c = e.filter(col("vec_id") >= 10).select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"), col("label").as("n_label"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        cosMicro(col("q_emb"), col("n_emb")).as("cu"))
    def nearest(df: org.apache.spark.sql.DataFrame, idName: String,
        cuName: String) =
      df.groupBy("q_id")
        .agg(max(struct(col("cu"), (-col("n_id")).as("nn"))).as("m"))
        .select(col("q_id"), (-col("m.nn")).as(idName), col("m.cu").as(cuName))
    val pos = nearest(scored.filter(col("q_label") === col("n_label")),
      "pos_id", "pos_cos_u")
    val neg = nearest(scored.filter(col("q_label") =!= col("n_label")),
      "neg_id", "neg_cos_u")
    pos.join(neg, Seq("q_id"))
      .select(col("q_id"), col("pos_id"), col("pos_cos_u"),
        col("neg_id"), col("neg_cos_u"),
        (col("pos_cos_u") - col("neg_cos_u")).as("margin_u"),
        (col("pos_cos_u") < col("neg_cos_u")).as("violated"))
      .orderBy("q_id")
  }

  /** Rank-AWARE retrieval quality of the LSH-ANN tier: MRR and NDCG@3 of
    * [[graft.sim.Similarity.annTopK]]'s ranked list against the exact
    * cosine top-3 truth — the metrics that distinguish "found the
    * neighbors" (recall, sim-ann-recall) from "found them IN ORDER"
    * (what a retrieval stack actually serves). Log2 discounts enter as
    * INTEGER MICRO LITERALS per rank (1/log2(r+1) · 10⁶ = 1000000,
    * 630930, 500000; reciprocal ranks 1000000, 500000, 333333) — the
    * rank domain is {1,2,3}, so no engine ever evaluates a logarithm
    * and every sum/division is exact integer arithmetic.
    *
    * Scale shape: truth is bruteForceTopK (queries broadcast, salted
    * bounded top-k — corpus never shuffles); the system list is the
    * bucket equi-join ANN; everything after is top-k-table-sized
    * (3·|queries| rows): one left join to mark relevance, one
    * query-grain groupBy. ndcg_bp divides non-negative integers.
    */
  lazy val simRankEval: Op = Op.sql(
    "sim-rank-eval",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x3 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 3),
       |$LshBucketOracle,
       |a3 AS (
       |  SELECT q_id, n_id, rn AS rank FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY $CosineSql DESC, c.vec_id) AS rn
       |    FROM withb q JOIN withb c ON q.bucket = c.bucket
       |    WHERE q.vec_id < 10 AND c.vec_id >= 10) t
       |  WHERE rn <= 3),
       |mk AS (SELECT a.q_id, a.rank,
       |              CASE WHEN x.n_id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |       FROM a3 a LEFT JOIN x3 x ON a.q_id = x.q_id AND a.n_id = x.n_id),
       |pq AS (SELECT q_id,
       |         max(CASE WHEN rel = 1 THEN
       |               CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 500000
       |                         ELSE 333333 END ELSE 0 END) AS mrr_micro,
       |         sum(CASE WHEN rel = 1 THEN
       |               CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930
       |                         ELSE 500000 END ELSE 0 END) AS dcg_micro
       |       FROM mk GROUP BY q_id),
       |kf AS (SELECT q_id, count(*) AS k_eff FROM x3 GROUP BY q_id)
       |SELECT kf.q_id, CAST(kf.k_eff AS BIGINT) AS k_eff,
       |       CAST(coalesce(pq.mrr_micro, 0) AS BIGINT) AS mrr_micro,
       |       CAST(coalesce(pq.dcg_micro, 0) AS BIGINT) AS dcg_micro,
       |       CAST(CASE kf.k_eff WHEN 1 THEN 1000000 WHEN 2 THEN 1630930
       |                          ELSE 2130930 END AS BIGINT) AS idcg_micro,
       |       CAST((coalesce(pq.dcg_micro, 0) * 10000) //
       |            (CASE kf.k_eff WHEN 1 THEN 1000000 WHEN 2 THEN 1630930
       |                           ELSE 2130930 END) AS BIGINT) AS ndcg_bp
       |FROM kf LEFT JOIN pq USING (q_id) ORDER BY kf.q_id""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    val c = e.filter(col("vec_id") >= 10)
    val truth = Similarity.bruteForceTopK(q, c, k = 3).select("q_id", "n_id")
    val sys = Similarity.annTopK(q, c, k = 3)
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("n_id"))).cast("long"))
      .select("q_id", "n_id", "rank")
    val marked = sys
      .join(truth.select(col("q_id"), col("n_id"), lit(1L).as("rel")),
        Seq("q_id", "n_id"), "left_outer")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val rr = when(col("rank") === 1, 1000000L)
      .when(col("rank") === 2, 500000L).otherwise(333333L)
    val disc = when(col("rank") === 1, 1000000L)
      .when(col("rank") === 2, 630930L).otherwise(500000L)
    val perQ = marked.groupBy("q_id").agg(
      max(when(col("rel") === 1, rr).otherwise(0L)).as("mrr_micro"),
      sum(when(col("rel") === 1, disc).otherwise(0L)).cast("long").as("dcg_micro"))
    val idcg = when(col("k_eff") === 1, 1000000L)
      .when(col("k_eff") === 2, 1630930L).otherwise(2130930L)
    truth.groupBy("q_id").agg(count(lit(1)).as("k_eff"))
      .join(broadcast(perQ), Seq("q_id"), "left_outer")
      .select(col("q_id"), col("k_eff"),
        coalesce(col("mrr_micro"), lit(0L)).as("mrr_micro"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        idcg.as("idcg_micro"))
      .withColumn("ndcg_bp", expr("(dcg_micro * 10000) div idcg_micro"))
      .orderBy("q_id")
  }
}
