package graft.ops

import org.apache.spark.sql.functions._
import graft.{Op, StageMemo, Tables}
import graft.dedup.Dedup

/** Deduplication ops over the documents/embeddings tables (scale
  * extensions). The DuckDB oracles recompute the same exact semantics —
  * for minhash+LSH the oracle is the exact-jaccard pair set, which the
  * verified LSH pipeline reproduces (miss probability ≈ 8e-8 at j≥0.8).
  */
object DedupOps {

  /** The pruned shingle set, shared by dedup-ngram-jaccard, dedup-minhash,
    * dedup-cluster-rep and every pair/cluster stage below. EAGER: the
    * first call persists the hashed stream so the two prune passes share
    * one kernel evaluation, materializes the pruned set, then releases
    * that same hashed Dataset (non-cascading — the pruned cache keeps
    * its data).
    */
  private[graft] def persistedShingles(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageMemo(s, d, "documents", "shingles") {
      val hashed = Dedup.hashedShingleStream(Tables.documents(s, d), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pruned = Dedup.pruneShingles(hashed)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pruned.count()
      hashed.unpersist()
      pruned
    }

  /** The exact-jaccard pair table at the loose j ≥ 0.5 threshold:
    * dedup-ngram-jaccard returns it, dedup-edit-distance re-scores it,
    * and dedup-simhash-eval's truth set is its j ≥ 0.8 slice
    * (thresholding only filters — the scored pair set is one
    * computation). Pair rows are candidate-count-sized.
    */
  private[graft] def persistedJaccardPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageMemo(s, d, "documents", "jaccard-pairs") {
      Dedup.jaccardPairs(persistedShingles(s, d), threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** md5-family signature BASE (id, shingle-hash) for pair-member docs,
    * shared by the two estimator-audit ops (dedup-minhash-accuracy and
    * dedup-minhash-k-sweep).
    *
    * Scale shape: the pair-member semi-join lands BEFORE the explode
    * (mem is pair-member-sized → broadcast), so the corpus never
    * re-explodes here and no raw gram string ever shuffles; the df prune
    * rides the already-persisted [[persistedShingles]] seam — a member
    * row survives iff its (id, xxhash64(gram)) is in the pruned set.
    * The corpus-wide string-df groupBy this op used to re-pay (33.9 s at
    * sf0.1, the round-6 bench's single largest line) collapses to a
    * member-sized hash semi-join against the cache, and md5 runs only
    * over the surviving member rows (the audited set, not the corpus).
    */
  private[graft] def persistedMd5Base(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageMemo(s, d, "documents", "md5-sig-base") {
      val mem = persistedJaccardPairs(s, d)
        .select(explode(array(col("d1"), col("d2"))).as("id")).distinct()
      // Round 14: the cache's `s` is now the tuple-hash
      // (TextAnalysis.shingleHashes), so the join key must be computed the
      // same way; the gram STRING stays only for the oracle-visible md5
      // (shingleHashedStructs zips both per position — member-sized, the
      // semi-join lands before the explode).
      val sh = Tables.documents(s, d)
        .join(broadcast(mem), col("doc_id") === col("id"), "left_semi")
        .select(col("doc_id").as("id"),
          explode(array_distinct(
            graft.text.TextAnalysis.shingleHashedStructs(col("text"), 3))).as("p"))
        .select(col("id"), col("p.s").as("s"), col("p.sraw").as("sraw"))
      val pruned = persistedShingles(s, d)
        .join(broadcast(mem), Seq("id"), "left_semi")
      sh.join(pruned, Seq("id", "s"), "left_semi")
        .select(col("id"),
          conv(substring(md5(col("sraw")), 1, 8), 16, 10).cast("long").as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The verified minhash pair set at j ≥ 0.8: dedup-minhash returns it
    * directly and dedup-cluster-rep builds its component graph from it —
    * without the share the cluster op re-ran the whole
    * signature→band→verify pipeline a second time (the single largest
    * repeated subtree in the registry, ~4 s per evaluation at sf0.1).
    * Pair rows are near-dup-count-sized (orders of magnitude smaller
    * than the corpus), so the cache cost is trivial.
    */
  private[graft] def persistedMinhashPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageMemo(s, d, "documents", "minhash-pairs") {
      Dedup.minhashNearDups(persistedShingles(s, d), threshold = 0.8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The document near-dup cluster table (connected components over the
    * persisted minhash pairs), shared by dedup-cluster-rep and
    * dedup-survivorship. Cluster rows are corpus-count-sized ids
    * (16 B/row).
    */
  private[graft] def persistedDocClusters(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageMemo(s, d, "documents", "doc-clusters") {
      graft.dedup.Clusters.connectedComponents(
        Tables.documents(s, d).select(col("doc_id").as("id")),
        persistedMinhashPairs(s, d).select("d1", "d2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private[ops] val ShingleOracle =
    """sh AS (
      |  SELECT DISTINCT doc_id AS id, array_to_string(ws[i:i+2], ' ') AS s
      |  FROM (SELECT doc_id, ws,
      |               unnest(generate_series(1, greatest(1, len(ws) - 2))) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20),
      |psh AS (SELECT sh.id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
      |sz AS (SELECT id, count(*) AS n FROM psh GROUP BY id),
      |pairs AS (
      |  SELECT a.id AS d1, b.id AS d2, count(*) AS inter
      |  FROM psh a JOIN psh b ON a.s = b.s AND a.id < b.id
      |  GROUP BY a.id, b.id),
      |jac AS (
      |  SELECT d1, d2,
      |         round(inter * 1.0 / (x.n + y.n - inter), 6) AS jac
      |  FROM pairs JOIN sz x ON x.id = d1 JOIN sz y ON y.id = d2)""".stripMargin

  /** The exact-jaccard near-dup cluster chain over [[ShingleOracle]]'s
    * pair table (p8 → edges → reach → cl): connected components at
    * j ≥ 0.8 labeled by min id — the DuckDB mirror of
    * [[persistedDocClusters]], shared verbatim by every cluster-table
    * oracle (cluster-rep / survivorship / cluster-sizes /
    * savings-by-source / cluster-sources / tokens-saved and
    * PipelineOps' curation composite).
    */
  private[ops] val ClusterOracle: String =
    """p8 AS (SELECT d1, d2 FROM jac WHERE jac >= 0.8),
      |edges AS (SELECT d1 AS a, d2 AS b FROM p8
      |          UNION ALL SELECT d2, d1 FROM p8),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
      |cl AS (SELECT src AS id, CAST(min(dst) AS BIGINT) AS cluster
      |       FROM reach GROUP BY src)""".stripMargin

  /** Exact dedup: md5-groupBy, keep the smallest id per content group. */
  val dedupExact: Op = Op.sql(
    "dedup-exact",
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text_hash HAVING count(*) > 1
      |ORDER BY text_hash""".stripMargin
  ) { (s, d) =>
    Dedup.exactDupGroups(Tables.documents(s, d), "doc_id", "text")
      .orderBy("text_hash")
  }

  /** Exact n-gram (3-word shingle) Jaccard with document-frequency pruning
    * (shingles in >20 docs dropped both sides): pairs with j ≥ 0.5.
    */
  val dedupNgramJaccard: Op = Op.sql(
    "dedup-ngram-jaccard",
    s"""WITH $ShingleOracle
       |SELECT d1, d2, jac FROM jac WHERE jac >= 0.5
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    // Round-5 re-profile reversed round 3's "uncached wins" call (it
    // predated the one-shuffle pair generation): the pruned shingle set is
    // consumed 2× here (pair lists + per-doc sizes) and 4× by the minhash
    // verify path, and materializing it now wins (fill 3.2 s + reuse 1.7 s
    // vs 5.0 s recompute at sf0.1, with far less variance). dedup-minhash
    // and dedup-cluster-rep reuse the same StageMemo fill.
    // MEMORY_AND_DISK: at 100 TB the shingle set spills instead of
    // evicting mid-job.
    DedupOps.persistedJaccardPairs(s, d)
      .orderBy("d1", "d2")
  }

  /** MinHash (k=32) + LSH (16 bands × 2 rows) + exact verification at
    * j ≥ 0.8 — equals the exact pair set with near-certainty.
    */
  val dedupMinhash: Op = Op.sql(
    "dedup-minhash",
    s"""WITH $ShingleOracle
       |SELECT d1, d2, jac FROM jac WHERE jac >= 0.8
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    // Shingles feed the signature agg, the verify-jaccard pair join and
    // the size agg — 4+ subtree evaluations; persisted (see
    // dedup-ngram-jaccard note): 5.8–7.0 s cached vs 5.7–10.6 s uncached
    // at sf0.1, and free when an earlier dedup op already filled it. The
    // verified pair set itself persists too (dedup-cluster-rep reuses it).
    DedupOps.persistedMinhashPairs(s, d)
      .orderBy("d1", "d2")
  }

  /** SimHash bit-vote fingerprint (portable polynomial hash, 20 bits) +
    * same-fingerprint group size.
    */
  /** The per-doc simhash fingerprint CTEs (polynomial token hash → 20-bit
    * bit-vote pack), shared by dedup-simhash and dedup-simhash-hamming.
    */
  private val SimhashFpOracle =
    """words AS (
      |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |hashed AS (
      |  SELECT id, list_reduce(list_prepend(0::BIGINT,
      |           [ascii(substr(w, i, 1))::BIGINT FOR i IN generate_series(1, length(w))]),
      |           (a, b) -> (a * 31 + b) % 1000003) AS h
      |  FROM words),
      |votes AS (
      |  SELECT id, j, CAST(sum(CASE WHEN (h // (2 ** j)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
      |  FROM hashed, (SELECT unnest(generate_series(0, 19)) AS j) g
      |  GROUP BY id, j),
      |fp AS (
      |  SELECT id, CAST(sum(CASE WHEN v > 0 THEN (2 ** j)::BIGINT ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY id)""".stripMargin

  val dedupSimhash: Op = Op.sql(
    "dedup-simhash",
    s"""WITH $SimhashFpOracle
      |SELECT id, simhash,
      |       CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS n_same
      |FROM fp ORDER BY id""".stripMargin
  ) { (s, d) =>
    Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id")
  }

  /** Embedding near-dup pairs: all-pairs inside label blocks, rounded
    * cosine ≥ 0.35.
    */
  val dedupEmbeddingCosine: Op = Op.sql(
    "dedup-embedding-cosine",
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2,
      |         round(list_dot_product(a.v, b.v) /
      |               (sqrt(list_dot_product(a.v, a.v)) *
      |                sqrt(list_dot_product(b.v, b.v))), 6) AS sim
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT d1, d2, sim FROM scored WHERE sim >= 0.35
      |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    graft.sim.Similarity.nearDupPairs(Tables.embeddings(s, d), "label", 0.35)
      .orderBy("d1", "d2")
  }

  /** Embedding near-dups WITHOUT a label blocking key: LSH sign-projection
    * buckets (one integer-exact bucket per vector) block the pair space,
    * exact cosine verifies inside buckets. The label-blocked variant
    * (dedup-embedding-cosine) needs a trusted partition column; this is
    * the shape that survives when there isn't one — candidates are
    * bucket-mates only, and the bucket is a join key (co-located at
    * scale), never an all-pairs cross.
    */
  val dedupEmbeddingLsh: Op = Op.sql(
    "dedup-embedding-lsh",
    """WITH iv AS (
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
      |withb AS (SELECT iv.vec_id, iv.v, bk.bucket FROM iv JOIN bk USING (vec_id)),
      |pairs AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2,
      |         round(list_dot_product(a.v, b.v) /
      |               (sqrt(list_dot_product(a.v, a.v)) *
      |                sqrt(list_dot_product(b.v, b.v))), 6) AS sim
      |  FROM withb a JOIN withb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT d1, d2, sim FROM pairs WHERE sim >= 0.35
      |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        graft.sim.Similarity.lshBucket(col("embedding")).as("bucket"))
    val a = e.select(col("bucket"), col("vec_id").as("d1"), col("embedding").as("e1"))
    val b = e.select(col("bucket"), col("vec_id").as("d2"), col("embedding").as("e2"))
    a.join(b, Seq("bucket"))
      .filter(col("d1") < col("d2"))
      .withColumn("sim", graft.sim.Similarity.cosine(col("e1"), col("e2")))
      .filter(col("sim") >= 0.35)
      .select("d1", "d2", "sim")
      .orderBy("d1", "d2")
  }

  /** Connected components over the embedding near-dup pair graph: every
    * vector gets a cluster id = min reachable vec_id (the canonical
    * representative a pipeline keeps). Distributed min-label propagation,
    * O(component diameter) rounds over the edge list only; the oracle is
    * the same closure via a recursive CTE.
    */
  val dedupCluster: Op = Op.sql(
    "dedup-cluster",
    """WITH RECURSIVE e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |                     FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE round(list_dot_product(a.v, b.v) /
      |              (sqrt(list_dot_product(a.v, a.v)) *
      |               sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
      |          UNION ALL SELECT d2, d1 FROM pairs),
      |reach(src, dst) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a)
      |SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS cluster
      |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val pairs = graft.sim.Similarity.nearDupPairs(emb, "label", 0.35)
    graft.dedup.Clusters.connectedComponents(
      emb.select(col("vec_id").as("id")), pairs.select("d1", "d2"))
      .select(col("id").as("vec_id"), col("cluster"))
      .orderBy("vec_id")
  }

  /** The keep/drop decision itself: near-dup clusters (minhash pairs at
    * j ≥ 0.8 → connected components over the documents table) reduced to
    * one representative per multi-member cluster — keep the LONGEST
    * member, ties to the lowest doc_id. This is the step that actually
    * shrinks a training corpus; everything upstream only finds the pairs.
    *
    * Representative selection is a groupBy `max(struct(len, -id))` — an
    * associative aggregate with map-side combine, NOT a window partitioned
    * by cluster: a boilerplate cluster with millions of members would
    * funnel a cluster-keyed window, while struct-max partials merge
    * anywhere. Output is dup clusters only (singletons pass through a
    * real pipeline untouched and would dominate the output for no
    * information).
    */
  val dedupClusterRep: Op = Op.sql(
    "dedup-cluster-rep",
    s"""WITH RECURSIVE $ShingleOracle,
       |$ClusterOracle,
       |sized AS (SELECT cl.id, cl.cluster, length(d.text) AS len
       |          FROM cl JOIN documents d ON d.doc_id = cl.id),
       |reps AS (SELECT cluster, id, len,
       |                row_number() OVER (PARTITION BY cluster
       |                                   ORDER BY len DESC, id) AS rn
       |         FROM sized),
       |ns AS (SELECT cluster, count(*) AS n_members FROM sized GROUP BY cluster)
       |SELECT ns.cluster, r.id AS keep_id, r.len AS keep_len, ns.n_members
       |FROM ns JOIN reps r ON r.cluster = ns.cluster AND r.rn = 1
       |WHERE ns.n_members > 1
       |ORDER BY ns.cluster""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    DedupOps.persistedDocClusters(s, d)
      .join(docs.select(col("doc_id").as("id"), length(col("text")).as("len")), Seq("id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("len"), (-col("id")).as("nid"))).as("m"))
      .filter(col("n_members") > 1)
      .select(col("cluster"), (-col("m.nid")).as("keep_id"),
        col("m.len").as("keep_len"), col("n_members"))
      .orderBy("cluster")
  }

  /** Cross-document duplicated passages (substring-dedup at shingle
    * grain, after Lee et al. 2022's "Deduplicating Training Data Makes
    * Language Models Better"): for every document, the maximal token
    * spans covered by 8-gram shingles that appear in at least two
    * documents — the passages an exact-substring dedup pass would cut.
    * Output: one row per (doc, span): start/end token positions (1-based,
    * end inclusive) and the number of shared shingles merged into it.
    *
    * Scale shape: one posexplode pass over the corpus (positions ride
    * along); gram strings never leave their partition — every shuffle
    * key is the shingle's xxhash64 (8 bytes vs ~50-byte gram strings;
    * a 64-bit collision mislabels a span with p ≈ n²/2⁶⁵ — acceptable
    * for a dedup heuristic, and the DuckDB oracle's exact-string run
    * bounds it at test SF). Cross-doc sharedness is one hash-keyed
    * groupBy computing min/max doc_id per shingle (min != max ⟺ shared;
    * map-side combine makes a boilerplate shingle in a billion docs ONE
    * aggregated row, and the left-semi join back is AQE-skew-splittable);
    * span merging is a per-document window — doc-grained, bounded by
    * document length, never a corpus funnel.
    */
  val dedupSubstringSpans: Op = Op.sql(
    "dedup-substring-spans",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE len(string_split(text, ' ')) >= 8),
      |sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, array_to_string(ws[i:i+7], ' ') AS s
      |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM t)),
      |shared AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM sh) GROUP BY s
      |           HAVING count(*) > 1),
      |m AS (SELECT doc_id, pos FROM sh JOIN shared USING (s)),
      |g AS (SELECT doc_id, pos,
      |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
      |             THEN 1 ELSE 0 END AS brk
      |      FROM m),
      |isl AS (SELECT doc_id, pos,
      |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM g)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
      |       count(*) AS n_shingles
      |FROM isl GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val K = 8
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), graft.text.TextAnalysis.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= K)
    // Persisted: the stream feeds two consumers (sharedness agg + the
    // position join back); without the persist the scan+tokenize+hash
    // pass runs twice. ~24 B/gram cached (MEMORY_AND_DISK spills at
    // scale).
    // Round 14: the native gram-hash kernel over the 8-token tuples — no
    // slice, no gram-string concat, no per-gram interpreted lambda
    // (graft.functions.ShingleHashes; every doc here has ≥ K tokens, so
    // the kernel's short-array branch never fires and the output index
    // IS the 0-based gram position).
    val sh = toks
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleHashes(col("ws"), K)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // "appears in >= 2 distinct docs" == min(doc_id) != max(doc_id): one
    // groupBy with map-side combine instead of distinct + count-distinct
    // (two corpus-sized shuffles collapse into one of partial (h,min,max)).
    val shared = sh.groupBy("h")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("h")
    val m = sh.join(shared, Seq("h"), "left_semi").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    m.withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > K, lit(1)).otherwise(lit(0)))
      .withColumn("grp", sum("brk").over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"), (max("pos") + K - 1).as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select("doc_id", "span_start", "span_end", "n_shingles")
      .orderBy("doc_id", "span_start")
  }

  /** Soft dedup: instead of dropping exact duplicates, weight every doc
    * by 1/n_copies so a training run that samples by weight sees each
    * distinct text once in expectation (the "soft dedup" alternative to
    * hard removal — keeps the corpus intact for other consumers while
    * neutralizing duplication bias).
    *
    * Scale shape: the count table is distinct-text-sized (md5 groupBy
    * with map-side combine); the join back is hash-keyed and
    * AQE-skew-splittable — a viral text duplicated a million times is
    * one hot key, split at runtime, never a driver problem. The weight
    * snaps at integer micro-units (integer-grain round is cross-engine
    * exact).
    */
  val dedupWeights: Op = Op.sql(
    "dedup-weights",
    """WITH g AS (SELECT md5(text) AS h, count(*) AS n_copies FROM documents GROUP BY 1)
      |SELECT d.doc_id, g.n_copies,
      |       CAST(round(1000000.0 / g.n_copies) AS BIGINT) / 1000000.0 AS weight
      |FROM documents d JOIN g ON md5(d.text) = g.h
      |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), md5(col("text")).as("h"))
    val g = docs.groupBy("h").agg(count(lit(1)).as("n_copies"))
    docs.join(g, "h")
      .select(col("doc_id"), col("n_copies"),
        (round(lit(1000000.0) / col("n_copies")).cast("long") / lit(1000000.0)).as("weight"))
      .orderBy("doc_id")
  }

  /** The exact-verify tier of the fuzzy-dedup ladder: shingle-jaccard
    * candidates at a loose 0.5 threshold re-scored with true character
    * edit distance, kept at normalized similarity ≥ 0.8. Levenshtein is
    * integer-exact on both engines (built-in in Spark codegen and
    * DuckDB — no float hazard); the normalized similarity divides once
    * and snaps at micro-units.
    *
    * Scale shape: the O(len²)-per-pair edit distance runs ONLY on the
    * candidate pair table (shingle-blocked, df-pruned — pair-sized, not
    * corpus-sized); the two text joins attach pair-count rows to the
    * corpus (AQE picks broadcast when the pair set is small, which is
    * the whole point of blocking first).
    */
  val dedupEditDistance: Op = Op.sql(
    "dedup-edit-distance",
    s"""WITH $ShingleOracle,
       |cand AS (SELECT d1, d2 FROM jac WHERE jac >= 0.5),
       |t AS (SELECT c.d1, c.d2, x.text AS t1, y.text AS t2
       |      FROM cand c JOIN documents x ON c.d1 = x.doc_id
       |                  JOIN documents y ON c.d2 = y.doc_id),
       |sc AS (SELECT d1, d2, CAST(levenshtein(t1, t2) AS BIGINT) AS lev,
       |         CAST(round((1 - levenshtein(t1, t2) / greatest(length(t1), length(t2)))
       |              * 1000000.0) AS BIGINT) / 1000000.0 AS sim
       |       FROM t)
       |SELECT d1, d2, lev, sim FROM sc WHERE sim >= 0.8
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val cand = persistedJaccardPairs(s, d).select("d1", "d2")
    val t = cand
      .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
    val lev = levenshtein(col("t1"), col("t2"))
    t.select(col("d1"), col("d2"), lev.cast("long").as("lev"),
        (round((lit(1) - lev / greatest(length(col("t1")), length(col("t2"))))
          * lit(1000000.0)).cast("long") / lit(1000000.0)).as("sim"))
      .filter(col("sim") >= 0.8)
      .orderBy("d1", "d2")
  }

  /** Shared blocker-scorecard tail (dedup-simhash-eval and
    * dedup-winnowing-eval): n_pred / n_true / n_hit plus precision and
    * recall at micro grain, zero-denominator → 0.0 both engines. The
    * predicted pair set executes ONCE: n_pred and n_hit fold in a
    * single aggregation over pred LEFT JOIN truth (count of non-null
    * truth markers = hits). NOT a persist — a cached entry here would
    * register the blocker's large analyzed plan in the CacheManager,
    * whose plan-matching then taxes every later query's compile for the
    * rest of the session (measured: the round-11 session-2 bench rose
    * ~15% board-wide, src-grpc 2.4 s → 7.5 s, from exactly this).
    * `tru` is read twice but rides the persisted jaccard-pair cache.
    */
  private def blockerScorecard(pred: org.apache.spark.sql.DataFrame,
      tru: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nph = pred
      .join(tru.withColumn("_t", lit(1)), Seq("d1", "d2"), "left_outer")
      .agg(count(lit(1)).as("n_pred"), count(col("_t")).as("n_hit"))
    val nt = tru.agg(count(lit(1)).as("n_true"))
    def frac(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0, lit(0.0)).otherwise(
        round(num * lit(1000000.0) / den).cast("long") / lit(1000000.0))
    nph.crossJoin(nt)
      .select(col("n_pred"), col("n_true"), col("n_hit"),
        frac(col("n_hit"), col("n_pred")).as("p_precision"),
        frac(col("n_hit"), col("n_true")).as("p_recall"))
  }

  /** Blocking-quality evaluation: precision/recall of simhash
    * fingerprint-equality blocking against the exact-jaccard truth set at
    * j ≥ 0.8 — the one-row scorecard a pipeline reads before trusting a
    * cheap blocker as its dedup candidate source (complements
    * sim-ann-recall, which scores the ANN ladder the same way).
    *
    * Scale shape: predicted pairs explode per fingerprint GROUP via the
    * one-shuffle collect_list + [[graft.functions.ArrayOrderedPairs]]
    * pattern (group sizes are near-dup-group-sized; a degenerate
    * all-docs-one-fingerprint corpus would need the df-prune treatment
    * upstream); the truth set rides the persisted shingle cache; all
    * three joins are pair-table-sized.
    */
  val dedupSimhashEval: Op = Op.sql(
    "dedup-simhash-eval",
    s"""WITH $ShingleOracle,
       |words AS (
       |  SELECT DISTINCT doc_id AS wid, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |hashed AS (
       |  SELECT wid, list_reduce(list_prepend(0::BIGINT,
       |           [ascii(substr(w, i, 1))::BIGINT FOR i IN generate_series(1, length(w))]),
       |           (a, b) -> (a * 31 + b) % 1000003) AS h
       |  FROM words),
       |votes AS (
       |  SELECT wid, j, CAST(sum(CASE WHEN (h // (2 ** j)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
       |  FROM hashed, (SELECT unnest(generate_series(0, 19)) AS j) g
       |  GROUP BY wid, j),
       |fpx AS (
       |  SELECT wid, CAST(sum(CASE WHEN v > 0 THEN (2 ** j)::BIGINT ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY wid),
       |pred AS (SELECT a.wid AS d1, b.wid AS d2
       |         FROM fpx a JOIN fpx b ON a.simhash = b.simhash AND a.wid < b.wid),
       |tru AS (SELECT d1, d2 FROM jac WHERE jac >= 0.8),
       |np AS (SELECT count(*) AS n_pred FROM pred),
       |nt AS (SELECT count(*) AS n_true FROM tru),
       |nh AS (SELECT count(*) AS n_hit FROM pred JOIN tru USING (d1, d2))
       |SELECT n_pred, n_true, n_hit,
       |       CASE WHEN n_pred = 0 THEN 0.0
       |            ELSE CAST(round(n_hit * 1000000.0 / n_pred) AS BIGINT) / 1000000.0
       |       END AS p_precision,
       |       CASE WHEN n_true = 0 THEN 0.0
       |            ELSE CAST(round(n_hit * 1000000.0 / n_true) AS BIGINT) / 1000000.0
       |       END AS p_recall
       |FROM np, nt, nh""".stripMargin
  ) { (s, d) =>
    val fp = Dedup.simhashFingerprints(Tables.documents(s, d), "doc_id", "text")
    val pred = fp.groupBy("simhash")
      .agg(array_sort(collect_list("id")).as("ids"))
      .select(explode(graft.functions.ArrayOrderedPairs(col("ids"))).as("p"))
      .select(col("p.d1"), col("p.d2"))
    val tru = DedupOps.persistedJaccardPairs(s, d)
      .filter(col("jac") >= 0.8).select("d1", "d2")
    blockerScorecard(pred, tru)
  }

  /** Blocking-quality evaluation of WINNOWING-fingerprint blocking
    * (Schleimer et al. 2003) against the exact-jaccard truth set at
    * j ≥ 0.8 — the MOSS-sketch sibling of [[dedupSimhashEval]]: two docs
    * are candidates iff they share at least one winnowing fingerprint
    * (guaranteed whenever they share ≥ 7 consecutive tokens), so this
    * one row says whether the ~1/w sketch is a usable dedup blocker on
    * this corpus, and at what candidate-volume price. Same scorecard
    * columns as the simhash eval so the two blockers compare directly.
    * Reference analogue: the dedup decision audit of
    * /root/reference/src/command/verify.rs:373-404 (which file-set to
    * keep among duplicates), lifted to the content-blocker grain
    * (extension scope — the reference has no fuzzy-dedup tier).
    *
    * Scale shape: the sketch is the ZERO-shuffle codegen kernel of
    * text-winnowing ([[graft.functions.WinnowFingerprints]] — fps
    * already distinct per doc); predicted pairs explode per fingerprint
    * group via the one-shuffle collect_list + ArrayOrderedPairs pattern
    * (fp groups are shared-passage-sized — a viral boilerplate passage
    * would need the df-prune treatment upstream, the dedup-df-spectrum
    * read); the pair DISTINCT and all three count joins are
    * pair-table-sized; truth rides the persisted shingle cache.
    */
  lazy val dedupWinnowingEval: Op = Op.sql(
    "dedup-winnowing-eval",
    s"""WITH $ShingleOracle,
       |${TextOps.winnowSketchCtes("wn")},
       |fps AS (SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM wwn),
       |pred AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |tru AS (SELECT d1, d2 FROM jac WHERE jac >= 0.8),
       |np AS (SELECT count(*) AS n_pred FROM pred),
       |nt AS (SELECT count(*) AS n_true FROM tru),
       |nh AS (SELECT count(*) AS n_hit FROM pred JOIN tru USING (d1, d2))
       |SELECT n_pred, n_true, n_hit,
       |       CASE WHEN n_pred = 0 THEN 0.0
       |            ELSE CAST(round(n_hit * 1000000.0 / n_pred) AS BIGINT) / 1000000.0
       |       END AS p_precision,
       |       CASE WHEN n_true = 0 THEN 0.0
       |            ELSE CAST(round(n_hit * 1000000.0 / n_true) AS BIGINT) / 1000000.0
       |       END AS p_recall
       |FROM np, nt, nh""".stripMargin
  ) { (s, d) =>
    val fps = Tables.documents(s, d)
      .select(col("doc_id"), graft.text.TextAnalysis.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 4)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints(col("ws"), 4, 4)).as("sel"))
      .select(col("doc_id"), col("sel.fp").as("fp"))
    val pred = fps.groupBy("fp")
      .agg(array_sort(collect_list("doc_id")).as("ids"))
      .select(explode(graft.functions.ArrayOrderedPairs(col("ids"))).as("p"))
      .select(col("p.d1"), col("p.d2")).distinct()
    val tru = persistedJaccardPairs(s, d)
      .filter(col("jac") >= 0.8).select("d1", "d2")
    blockerScorecard(pred, tru)
  }

  /** Corpus-level survivorship of the minhash keep/drop pass — the
    * one-row answer to "how much does dedup actually buy us": total
    * documents, documents caught in a near-dup cluster, dropped members
    * (everything but each cluster's longest), bytes reclaimed and the
    * drop rate. [[dedupClusterRep]] lists the decisions; this prices
    * them.
    *
    * Scale shape: rides the persisted minhash pair set and the
    * endpoint-only connected components; the survivorship reduction is a
    * cluster-grained groupBy (map-side combine) collapsed to one row.
    */
  val dedupSurvivorship: Op = Op.sql(
    "dedup-survivorship",
    s"""WITH RECURSIVE $ShingleOracle,
       |$ClusterOracle,
       |sized AS (SELECT cl.id, cl.cluster, length(d.text) AS len
       |          FROM cl JOIN documents d ON d.doc_id = cl.id),
       |per AS (SELECT cluster, count(*) AS n, CAST(sum(len) AS BIGINT) AS bytes,
       |               CAST(max(len) AS BIGINT) AS keep_len
       |        FROM sized GROUP BY cluster),
       |agg AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |               CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |               CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_clusters,
       |               CAST(sum(CASE WHEN n > 1 THEN bytes - keep_len ELSE 0 END) AS BIGINT)
       |                 AS bytes_dropped
       |        FROM per)
       |SELECT n_docs, n_dup_docs, n_dup_clusters,
       |       n_dup_docs - n_dup_clusters AS n_dropped, bytes_dropped,
       |       CAST(round((n_dup_docs - n_dup_clusters) * 1000000.0 / n_docs) AS BIGINT)
       |         / 1000000.0 AS drop_frac
       |FROM agg""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val per = DedupOps.persistedDocClusters(s, d)
      .join(docs.select(col("doc_id").as("id"), length(col("text")).as("len")), Seq("id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("len").as("bytes"),
        max("len").cast("long").as("keep_len"))
    per.agg(
        sum("n").as("n_docs"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_clusters"),
        sum(when(col("n") > 1, col("bytes") - col("keep_len")).otherwise(0L))
          .as("bytes_dropped"))
      .select(col("n_docs"), col("n_dup_docs"), col("n_dup_clusters"),
        (col("n_dup_docs") - col("n_dup_clusters")).as("n_dropped"),
        col("bytes_dropped"),
        (round((col("n_dup_docs") - col("n_dup_clusters")) * lit(1000000.0) /
          col("n_docs")).cast("long") / lit(1000000.0)).as("drop_frac"))
  }

  /** Document-frequency spectrum of the 3-word shingle vocabulary — the
    * calibration table behind shingleSets' df ≤ 20 prune: how many
    * distinct shingles (and how many (doc, shingle) rows, which is what
    * the pair join actually pays) live at each document frequency, with
    * everything above the prune threshold collapsed into one overflow
    * bucket. Reading this table is how the maxDf knob gets set per
    * corpus; the overflow row IS the viral-shingle mass the prune
    * protects the O(df²) pair generation from.
    *
    * Scale shape: per-doc distinct shingles explode once (hashed — gram
    * strings never leave their partition), one map-side-combined groupBy
    * to df grain, one to the ≤21-row spectrum.
    */
  val dedupDfSpectrum: Op = Op.sql(
    "dedup-df-spectrum",
    """WITH sh AS (
      |  SELECT DISTINCT doc_id AS id, array_to_string(ws[i:i+2], ' ') AS s
      |  FROM (SELECT doc_id, ws,
      |               unnest(generate_series(1, greatest(1, len(ws) - 2))) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      |b AS (SELECT CASE WHEN df <= 20 THEN df ELSE 21 END AS bucket, df FROM df)
      |SELECT CAST(bucket AS BIGINT) AS df_bucket, count(*) AS n_shingles,
      |       CAST(sum(df) AS BIGINT) AS n_rows
      |FROM b GROUP BY bucket ORDER BY df_bucket""".stripMargin
  ) { (s, d) =>
    // Round 14: hash fused into the shingle kernel (no gram strings).
    val df = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(graft.text.TextAnalysis.shingleHashes(col("text"), 3)))
          .as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    df.select(when(col("df") <= 20, col("df")).otherwise(lit(21L)).as("df_bucket"),
        col("df"))
      .groupBy("df_bucket")
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_rows"))
      .orderBy("df_bucket")
  }

  /** Near-dup cluster-size histogram: how many clusters exist at each
    * member count (singletons included) — the power-law check on the
    * dedup graph (a healthy corpus is overwhelmingly singletons with a
    * thin dup tail; a fat tail means boilerplate or a mirror got
    * crawled). Rides the memoized cluster table, so after
    * dedup-cluster-rep this costs two tiny aggregations.
    *
    * Scale shape: cluster sizing is a map-side-combined groupBy over the
    * cluster table; the histogram reduces the cluster-count table again —
    * output is distinct-size-count rows.
    */
  val dedupClusterSizes: Op = Op.sql(
    "dedup-cluster-sizes",
    s"""WITH RECURSIVE $ShingleOracle,
       |$ClusterOracle,
       |per AS (SELECT cluster, count(*) AS sz FROM cl GROUP BY cluster)
       |SELECT CAST(sz AS BIGINT) AS cluster_size, count(*) AS n_clusters,
       |       CAST(sz * count(*) AS BIGINT) AS n_docs
       |FROM per GROUP BY sz ORDER BY cluster_size""".stripMargin
  ) { (s, d) =>
    DedupOps.persistedDocClusters(s, d)
      .groupBy("cluster").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")
  }

  /** Dedup savings BY SOURCE — the data-mix view of the near-dup cluster
    * table: how many of each source's documents survive one-representative-
    * per-cluster dedup (rep = min cluster id, the CC label itself, so no
    * extra ranking pass). A source whose drop share dwarfs the others is a
    * template mill — this table is what re-weights the mix (text-mix-*) or
    * gates the crawler, and it is exactly the per-source view the global
    * dedup-weights op cannot give. One broadcast-sized join of the cluster
    * table onto the doc catalog + a sources-sized groupBy; micro-snapped
    * share.
    */
  val dedupSavingsBySource: Op = Op.sql(
    "dedup-savings-by-source",
    s"""WITH RECURSIVE $ShingleOracle,
       |$ClusterOracle
       |SELECT d.source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN cl.cluster <> d.doc_id THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_dropped,
       |       CAST(round(sum(CASE WHEN cl.cluster <> d.doc_id THEN 1 ELSE 0 END)
       |                  * 1000000.0 / count(*)) AS BIGINT) / 1000000.0
       |         AS drop_share
       |FROM documents d JOIN cl ON cl.id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).select(col("doc_id").as("id"), col("source"))
      .join(persistedDocClusters(s, d), Seq("id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster") =!= col("id"), 1).otherwise(0)).cast("long")
          .as("n_dropped"))
      .withColumn("drop_share",
        round(col("n_dropped") * lit(1000000.0) / col("n_docs")).cast("long") /
          lit(1000000.0))
      .orderBy("source")
  }

  /** Jaccard-threshold calibration for the TEXT dedup ladder (the
    * companion of dedup-threshold-sweep's embedding-cosine sweep): the
    * pair-count / docs-affected curve over jaccard thresholds 0.5–0.9,
    * read before committing the minhash verify threshold. One scored
    * pair table (the shared persisted j ≥ 0.5 set) feeds every threshold
    * row via an explode — never N re-executions of the shingle subtree.
    */
  val dedupJaccardSweep: Op = Op.sql(
    "dedup-jaccard-sweep",
    s"""WITH $ShingleOracle,
       |p AS (SELECT d1, d2, jac FROM jac WHERE jac >= 0.5),
       |thr AS (SELECT CAST(unnest([500, 600, 700, 800, 900]) AS BIGINT) AS thr_milli),
       |ep AS (SELECT thr.thr_milli, jac, unnest([d1, d2]) AS dd FROM p, thr)
       |SELECT thr_milli,
       |       CAST(sum(CASE WHEN jac >= thr_milli / 1000.0 THEN 1 ELSE 0 END) / 2
       |            AS BIGINT) AS n_pairs,
       |       CAST(count(DISTINCT CASE WHEN jac >= thr_milli / 1000.0 THEN dd END)
       |            AS BIGINT) AS n_docs
       |FROM ep GROUP BY thr_milli ORDER BY thr_milli""".stripMargin
  ) { (s, d) =>
    val thresholds = Seq(500, 600, 700, 800, 900)
    val hit = col("jac") >= col("thr_milli").cast("double") / lit(1000.0)
    persistedJaccardPairs(s, d)
      .select(explode(array(thresholds.map(t => lit(t.toLong)): _*)).as("thr_milli"),
        col("d1"), col("d2"), col("jac"))
      .select(col("thr_milli"), hit.as("hit"),
        explode(array(col("d1"), col("d2"))).as("dd"))
      .groupBy("thr_milli")
      .agg((sum(when(col("hit"), 1).otherwise(0)) / 2).cast("long").as("n_pairs"),
        countDistinct(when(col("hit"), col("dd"))).as("n_docs"))
      .orderBy("thr_milli")
  }

  /** Shingle CONTAINMENT pairs: inter / min(|A|, |B|) ≥ 0.8. Jaccard is
    * symmetric and dilutes when sizes differ — a 100-word doc fully embedded
    * in a 10,000-word doc has j ≈ 0.01 but containment 1.0. This is the
    * sub-document-duplication detector (quotes, mirrored sections, doc-in-
    * doc concatenation) that corpus curation runs NEXT TO jaccard dedup;
    * Broder's original resemblance/containment pair (the minhash paper)
    * defines exactly these two scores over the same shingle sets.
    *
    * Scale shape: identical to dedup-ngram-jaccard — the persisted shingle
    * cache feeds one-shuffle pair generation (ArrayOrderedPairs, df ≤ 20
    * bounding the fan-out), sizes join onto AGGREGATED pair rows. The score
    * is a ratio of two integers — one IEEE division, cross-engine exact.
    */
  val dedupContainment: Op = Op.sql(
    "dedup-containment",
    s"""WITH $ShingleOracle,
       |cont AS (
       |  SELECT d1, d2, round(inter * 1.0 / least(x.n, y.n), 6) AS cont
       |  FROM pairs JOIN sz x ON x.id = d1 JOIN sz y ON y.id = d2)
       |SELECT d1, d2, cont FROM cont WHERE cont >= 0.8
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    // Sizes RIDE THE PAIR ROWS (round 13 — the shared sizedPairCounts
    // pipeline of the jaccard path): n is a function of id, so grouping
    // by (d1, n1, d2, n2) leaves pair cardinality unchanged and the two
    // post-agg size joins (two more sorts of the PAIR-sized table at
    // 100×) are deleted. threshold = 0.0 keeps every pair — containment
    // admits NO length prefilter (a small doc fully inside a huge one is
    // exactly the target), unlike jaccard's min/max bound.
    Dedup.sizedPairCounts(persistedShingles(s, d), threshold = 0.0)
      .withColumn("cont", round(col("inter") * lit(1.0) /
        least(col("n1"), col("n2")), 6))
      .filter(col("cont") >= 0.8)
      .select("d1", "d2", "cont")
      .orderBy("d1", "d2")
  }

  /** LSH expected-recall planner: the banded-minhash S-curve
    * P(candidate | j) = 1 − (1 − j^r)^b evaluated per similarity grade of
    * the ACTUAL pair distribution (j-buckets of the exact pair table,
    * j ≥ 0.5), for the deployed r=2 at b ∈ {8, 16, 32}. `exp_candidates`
    * is the recall mass each configuration would surface per bucket — the
    * table that justifies (or re-sizes) dedup-minhash's 16×2 before a
    * 100-TB run, where re-running LSH per configuration is unaffordable
    * but this table is pair-bucket-sized.
    *
    * Cross-engine exactness: the curve needs powers, not libm — (1−j²)^b
    * is spelled as repeated squaring (t², t⁴, … t³²), so every value is a
    * chain of IEEE multiplies identical in both engines; bucket midpoints
    * are exact dyadic rationals; outputs snap to integer basis points.
    */
  val dedupLshExpectedRecall: Op = Op.sql(
    "dedup-lsh-expected-recall",
    s"""WITH $ShingleOracle,
       |bk AS (
       |  SELECT least(CAST(floor(jac * 20) AS BIGINT), 19) AS bucket,
       |         count(*) AS n_pairs
       |  FROM jac WHERE jac >= 0.5 GROUP BY bucket),
       |curve AS (
       |  SELECT bucket, n_pairs, b,
       |         1.0 - t16 * t16 AS p32, 1.0 - t8 * t8 AS p16, 1.0 - t4 * t4 AS p8
       |  FROM (
       |    SELECT bucket, n_pairs, b, t2 * t2 AS t4, t2 * t2 * t2 * t2 AS t8,
       |           t2 * t2 * t2 * t2 * t2 * t2 * t2 * t2 AS t16
       |    FROM (
       |      SELECT bucket, n_pairs, b,
       |             (1.0 - ((2 * bucket + 1) / 40.0) * ((2 * bucket + 1) / 40.0)) *
       |             (1.0 - ((2 * bucket + 1) / 40.0) * ((2 * bucket + 1) / 40.0)) AS t2
       |      FROM bk, (SELECT unnest([8, 16, 32]) AS b) bands))),
       |graded AS (
       |  SELECT bucket, n_pairs, b,
       |         CASE WHEN b = 8 THEN p8 WHEN b = 16 THEN p16 ELSE p32 END AS p
       |  FROM curve)
       |SELECT bucket, CAST(n_pairs AS BIGINT) AS n_pairs, b AS n_bands,
       |       CAST(round(p * 10000) AS BIGINT) AS recall_bp,
       |       CAST(round(n_pairs * p) AS BIGINT) AS exp_candidates
       |FROM graded ORDER BY bucket, n_bands""".stripMargin
  ) { (s, d) =>
    val bk = persistedJaccardPairs(s, d)
      .groupBy(least(floor(col("jac") * 20).cast("long"), lit(19L)).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
    val jm = (lit(2) * col("bucket") + 1) / lit(40.0)
    // t2 = (1 - j²)² — then squares of squares, never a pow() call
    val t2 = (lit(1.0) - jm * jm) * (lit(1.0) - jm * jm)
    val t4 = col("t2") * col("t2")
    val t8 = col("t2") * col("t2") * col("t2") * col("t2")
    val t16 = col("t2") * col("t2") * col("t2") * col("t2") *
      col("t2") * col("t2") * col("t2") * col("t2")
    bk.withColumn("b", explode(typedLit(Seq(8, 16, 32))))
      .withColumn("t2", t2)
      .withColumn("p",
        when(col("b") === 8, lit(1.0) - t4 * t4)
          .when(col("b") === 16, lit(1.0) - t8 * t8)
          .otherwise(lit(1.0) - t16 * t16))
      .select(col("bucket"), col("n_pairs"), col("b").as("n_bands"),
        round(col("p") * 10000).cast("long").as("recall_bp"),
        round(col("n_pairs") * col("p")).cast("long").as("exp_candidates"))
      .orderBy("bucket", "n_bands")
  }

  /** SimHash near-dup PAIRS at Hamming distance ≤ 3 — the Manku–Jain–
    * Sarma web-dedup construction (WWW 2007): exact-equality simhash
    * buckets (dedup-simhash) miss near-dups that flip a few bits, so the
    * fingerprint is split into hd+1 = 4 bands and, by pigeonhole, every
    * pair within distance 3 agrees EXACTLY on at least one band — the
    * band equi-join is the complete candidate generator, and a popcount
    * on the XOR verifies. Never an all-pairs compare: candidates are
    * bounded by band-bucket occupancy (the oracle's O(n²) self-join is
    * the gate-only spelling).
    *
    * Scale shape: fingerprints are the zero-shuffle codegen kernel; one
    * explode to 4 band rows per doc; the bucket join shuffles 8-byte
    * keys; verify is a per-row integer popcount. A degenerate band value
    * shared by millions of docs (e.g. the empty-doc fingerprint) is the
    * LSH-bucket skew case — AQE skew-join splitting applies, and the
    * band key carries 5 fingerprint bits so occupancy concentrates only
    * when the corpus genuinely is near-identical.
    */
  val dedupSimhashHamming: Op = Op.sql(
    "dedup-simhash-hamming",
    // 48 REMIXED bits (not dedup-simhash's raw 20): the base polynomial
    // hash is mod 1000003 ≈ 2²⁰, so raw bits ≥ 20 are constant and a
    // wide fingerprint silently degenerates to the narrow one — and at
    // 20 bits the vote correlation of a shared-vocabulary corpus puts
    // >half of ALL pairs within distance 3 (no discriminative power,
    // O(n²) candidate buckets). Bit j is the parity of the affine family
    // member (h·a_j + b_j) mod (2³¹−1) — minhash's hash family.
    """WITH words AS (
      |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |hashed AS (
      |  SELECT id, list_reduce(list_prepend(0::BIGINT,
      |           [ascii(substr(w, i, 1))::BIGINT FOR i IN generate_series(1, length(w))]),
      |           (a, b) -> (a * 31 + b) % 1000003) AS h
      |  FROM words),
      |votes AS (
      |  SELECT id, j,
      |         CAST(sum(CASE WHEN ((h * (((j * 2654435761) % 2147483647) | 1)
      |                              + ((j * 40503 * 65537) % 2147483647))
      |                             % 2147483647) % 2 = 1
      |                   THEN 1 ELSE -1 END) AS BIGINT) AS v
      |  FROM hashed, (SELECT unnest(generate_series(0, 47)) AS j) g
      |  GROUP BY id, j),
      |fp AS (
      |  SELECT id, CAST(sum(CASE WHEN v > 0 THEN (2 ** j)::BIGINT ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY id)
      |SELECT a.id AS d1, b.id AS d2,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM fp a JOIN fp b ON a.id < b.id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY d1, d2""".stripMargin
  ) { (s, d) => hammingPairs(s, d).orderBy("d1", "d2") }

  /** The Manku banded Hamming ≤ 3 pair pipeline (see dedup-simhash-hamming)
    * as a reusable table — shared with dedup-method-agreement.
    */
  private[graft] def hammingPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageMemo(s, d, "documents", "hamming-pairs") {
      // The fingerprint table persists (round 13): both sides of the band
      // self-join consume it, and without a cache the corpus-wide tokenize +
      // 48-bit vote kernel runs twice (the band sides project different
      // aliases, so even their exchanges don't canonicalize equal). The
      // table is doc-count-sized (two longs per doc) — the fill is noise
      // against one kernel pass. A/B in OPTIMIZATION_r13.md.
      val fp = Tables.documents(s, d).select(col("doc_id").as("id"),
        graft.functions.SimhashFingerprint.mixed(
          graft.text.TextAnalysis.tokens(col("text")), 48).as("simhash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bands = fp.select(col("id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("b"),
            shiftright(col("simhash"), b * 12).bitwiseAND(lit(4095L)).as("k"))): _*))
          .as("bk"))
        .select(col("id"), col("simhash"), col("bk.b").as("b"), col("bk.k").as("k"))
      bands.select(col("b"), col("k"), col("id").as("d1"), col("simhash").as("f1"))
        .join(bands.select(col("b"), col("k"), col("id").as("d2"),
          col("simhash").as("f2")), Seq("b", "k"))
        .filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2"),
          bit_count(col("f1").bitwiseXOR(col("f2"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Near-dup graph degree distribution — the first diagnostic read off
    * any pair-producing dedup stage: a heavy right tail means boilerplate
    * / template families (one doc near-dup to thousands), which is what
    * decides between pairwise drops and cluster-representative keeps, and
    * it prices the CC step (max degree bounds the propagation fan-out).
    *
    * Scale shape: two map-side-combined groupBys over the pair table
    * (pair-count-sized, NOT corpus-sized); output is max-degree-sized.
    */
  val dedupGraphDegree: Op = Op.sql(
    "dedup-graph-degree",
    s"""WITH $ShingleOracle,
       |e AS (SELECT d1, d2 FROM jac WHERE jac >= 0.5),
       |bd AS (SELECT d1 AS id FROM e UNION ALL SELECT d2 AS id FROM e),
       |deg AS (SELECT id, count(*) AS degree FROM bd GROUP BY id)
       |SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_nodes
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin
  ) { (s, d) =>
    graft.dedup.Graphs.degreeDistribution(persistedJaccardPairs(s, d))
  }

  /** Triangle census of the near-dup pair graph: edge/wedge/triangle
    * counts and the global clustering coefficient 3T/W. High clustering
    * says near-dup pairs close into families (template storms — safe to
    * collapse whole clusters to one representative); low clustering says
    * chains (drift series — collapsing to one representative loses
    * legitimate variants). The standard degree-ordered node-iterator
    * (Schank & Wagner 2005; Suri & Vassilvitskii's MR formulation): every
    * edge is oriented from its lower-(degree, id) endpoint, wedges are
    * generated only at each edge's LOW endpoint, and a semi-join against
    * the canonical edge set closes them. Orientation bounds per-node
    * wedge fan-out by out-degree ≤ O(√m) — a boilerplate hub with a
    * million neighbors generates NO wedge storm because its edges all
    * point INTO it.
    *
    * Cross-engine exactness: counts are integers end-to-end (wedge sum
    * uses integer DIV), the one closing division is micro-snapped.
    */
  val dedupGraphTriangles: Op = Op.sql(
    "dedup-graph-triangles",
    s"""WITH $ShingleOracle,
       |e AS (SELECT d1, d2 FROM jac WHERE jac >= 0.5),
       |bd AS (SELECT d1 AS id FROM e UNION ALL SELECT d2 AS id FROM e),
       |deg AS (SELECT id, count(*) AS dg FROM bd GROUP BY id),
       |tri AS (
       |  SELECT count(*) AS t FROM e e1
       |  JOIN e e2 ON e2.d1 = e1.d1 AND e2.d2 > e1.d2
       |  JOIN e e3 ON e3.d1 = e1.d2 AND e3.d2 = e2.d2),
       |wd AS (SELECT CAST(sum(dg * (dg - 1)) // 2 AS BIGINT) AS w,
       |              count(*) AS n_nodes FROM deg),
       |ed AS (SELECT count(*) AS n_edges FROM e)
       |SELECT n_nodes, n_edges, w AS n_wedges, CAST(t AS BIGINT) AS n_triangles,
       |       CASE WHEN w > 0
       |            THEN CAST(round(3.0 * t * 1000000 / w) AS BIGINT) / 1000000.0
       |            ELSE 0.0 END AS clustering
       |FROM tri, wd, ed""".stripMargin
  ) { (s, d) =>
    graft.dedup.Graphs.triangleCensus(persistedJaccardPairs(s, d))
  }

  /** REALIZED minhash estimator error, pair by pair — the empirical
    * companion of dedup-lsh-expected-recall's analytic S-curve: for every
    * exact-jaccard pair at j ≥ 0.5, the k=16 signature-agreement estimate
    * (n_agree/16) next to the true jaccard, in micro-units, with the
    * absolute error. E[n_agree/k] = j is the MinHash identity (Broder);
    * this op measures the realized spread at k=16, which is what sizes k
    * before anyone trusts signature-only similarity at 100 TB. The hash
    * family here is the production affine family over P = 2³¹−1
    * ([[graft.dedup.Dedup]] minhashSignatures) seeded from the md5 hex
    * head instead of xxhash64 — the one substitution that keeps the
    * signatures engine-reproducible (the oracle recomputes them exactly).
    *
    * Scale shape: signatures are computed ONLY for pair-member docs (a
    * semi-join bounds the md5 work to the audited set); the corpus-wide
    * cost is the same one string-shingle df-prune groupBy the jaccard
    * tier already pays; every join after that is pair-table-sized and
    * broadcastable.
    */
  val dedupMinhashAccuracy: Op = Op.sql(
    "dedup-minhash-accuracy",
    s"""WITH $ShingleOracle,
       |p AS (SELECT d1, d2, jac FROM jac WHERE jac >= 0.5),
       |mem AS (SELECT DISTINCT dd AS id FROM
       |          (SELECT unnest([d1, d2]) AS dd FROM p)),
       |hsh AS (SELECT psh.id,
       |          CAST(('0x' || substr(md5(psh.s), 1, 8)) AS BIGINT) AS h
       |        FROM psh JOIN mem ON psh.id = mem.id),
       |sig AS (SELECT id, i,
       |          min((((h % 2147483647) * (((i * 2654435761) % 2147483647) | 1))
       |               + ((i * 40503 * 65537) % 2147483647)) % 2147483647) AS mh
       |        FROM hsh, (SELECT unnest(generate_series(0, 15)) AS i) g
       |        GROUP BY id, i),
       |est AS (SELECT p.d1, p.d2,
       |          CAST(sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) AS BIGINT)
       |            AS n_agree
       |        FROM p JOIN sig s1 ON s1.id = p.d1
       |               JOIN sig s2 ON s2.id = p.d2 AND s2.i = s1.i
       |        GROUP BY p.d1, p.d2)
       |SELECT e.d1, e.d2,
       |       CAST(round(p.jac * 1000000) AS BIGINT) AS jac_micro,
       |       e.n_agree,
       |       e.n_agree * 62500 AS est_micro,
       |       abs(CAST(round(p.jac * 1000000) AS BIGINT) - e.n_agree * 62500)
       |         AS err_micro
       |FROM est e JOIN p ON p.d1 = e.d1 AND p.d2 = e.d2
       |ORDER BY e.d1, e.d2""".stripMargin
  ) { (s, d) =>
    val P = 2147483647L
    def member(i: Int, h: org.apache.spark.sql.Column) = {
      val a = ((i * 2654435761L) % P) | 1L
      val b = (i * 40503L * 65537L) % P
      ((h % P) * a + b) % P
    }
    val pairs = persistedJaccardPairs(s, d)
    // the md5 signature base (string prune + hashing) persists once and
    // is shared with dedup-minhash-k-sweep
    val hsh = persistedMd5Base(s, d)
    val sig = hsh.groupBy("id")
      .agg(min(member(0, col("h"))).as("mh0"),
        (1 until 16).map(i => min(member(i, col("h"))).as(s"mh$i")): _*)
    val s1 = sig.toDF("d1" +: (0 until 16).map(i => s"a$i"): _*)
    val s2 = sig.toDF("d2" +: (0 until 16).map(i => s"b$i"): _*)
    val nAgree = (0 until 16)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(broadcast(s1), Seq("d1")).join(broadcast(s2), Seq("d2"))
      .withColumn("n_agree", nAgree)
      .select(col("d1"), col("d2"),
        round(col("jac") * 1000000).cast("long").as("jac_micro"),
        col("n_agree"),
        (col("n_agree") * 62500L).as("est_micro"),
        abs(round(col("jac") * 1000000).cast("long") - col("n_agree") * 62500L)
          .as("err_micro"))
      .orderBy("d1", "d2")
  }

  /** Prefix-truncation artifacts: document pairs where the short doc is
    * a token-boundary PREFIX of the long one — the fingerprint of
    * truncated crawls, connection drops and length-capped re-scrapes,
    * which exact dedup (different hashes) and jaccard (containment, not
    * symmetric similarity, at large length gaps) both miss. Candidates
    * share their first-8-token head; heads in more than 50 docs are
    * pruned (boilerplate openings — the viral-shingle rule applied to
    * heads), then the exact `startswith(long, short || ' ')` predicate
    * decides. The head prune cannot drop a true pair's evidence: a pair
    * passing startswith shares its head by construction, so only
    * boilerplate-head groups above the df cap are excluded — the same
    * bounded-fan-out contract as shingleSets.
    *
    * Scale shape: the df cap counts the EXACT head string (a 64-bit
    * hash collision at the prune seam could merge two head groups and
    * over-prune, and unlike candidate generation the startswith
    * residual cannot repair prune-side loss — so the prune key is the
    * string itself, ≤8 tokens, bounded bytes); the candidate join then
    * runs on the 8-byte xxhash64 of that head (a collision there only
    * adds a candidate the startswith re-check discards). Group fan-out
    * df-bounded at 50; the residual predicate is per-pair.
    */
  val dedupPrefixArtifacts: Op = Op.sql(
    "dedup-prefix-artifacts",
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws
      |           FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |h AS (SELECT doc_id, text, len(ws) AS n,
      |             array_to_string(ws[1:8], ' ') AS head
      |      FROM d),
      |ok AS (SELECT head FROM h GROUP BY head HAVING count(*) <= 50)
      |SELECT a.doc_id AS short_id, b.doc_id AS long_id,
      |       CAST(a.n AS BIGINT) AS short_tokens,
      |       CAST(b.n AS BIGINT) AS long_tokens
      |FROM h a JOIN ok ON a.head = ok.head
      |         JOIN h b ON a.head = b.head AND a.n < b.n
      |                 AND starts_with(b.text, a.text || ' ')
      |ORDER BY short_id, long_id""".stripMargin
  ) { (s, d) =>
    // §8 payload-proxy restructure (round 14; guide §8's "decide with
    // small rows, move big rows once" — here the big rows never move at
    // all): the old spelling self-joined the corpus on hk with full
    // `text` riding BOTH sides (plus a corpus-sized string join for the
    // df prune), so document payloads crossed three exchanges to compare
    // a few bytes of head/size metadata. Now every exchange carries the
    // (doc_id, head|hk, n) proxy:
    //  - the df prune is a map-side-combined head count + broadcast
    //    ANTI-join of the tiny hot set (the shingleSets skew pattern) —
    //    the old inner join shuffled the corpus by head string;
    //  - candidate pairs come from ONE hk-grouped pass through the
    //    sized-pair codegen generator (threshold 0 = no length filter;
    //    group fan-out df-bounded at 50), replacing the aliased
    //    self-join whose two sides each re-ran the head kernel;
    //  - texts attach to the PAIR-sized candidate set by two doc_id
    //    joins (AQE broadcasts the pair side — the dedup-edit-distance
    //    pattern), and the exact startswith residual is unchanged: a
    //    hash-collision candidate still dies there, and prune-side
    //    semantics are byte-identical (exact head strings).
    val docs = Tables.documents(s, d)
    val base = docs
      .select(col("doc_id"), graft.text.TextAnalysis.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n"),
        concat_ws(" ", slice(col("ws"), 1, 8)).as("head"))
    val hot = base.groupBy("head").agg(count(lit(1)).as("c"))
      .filter(col("c") > 50).select("head")
    val pruned = base.join(broadcast(hot), Seq("head"), "left_anti")
      .select(xxhash64(col("head")).as("hk"), col("doc_id"), col("n"))
    val cand = pruned
      .groupBy("hk")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n")))).as("ids"))
      .select(explode(
        graft.functions.ArrayOrderedSizedPairs(col("ids"), 0.0)).as("p"))
      .select(col("p.d1"), col("p.n1"), col("p.d2"), col("p.n2"))
      .filter(col("n1") =!= col("n2"))
      .select(
        when(col("n1") < col("n2"), col("d1")).otherwise(col("d2")).as("short_id"),
        when(col("n1") < col("n2"), col("d2")).otherwise(col("d1")).as("long_id"),
        least(col("n1"), col("n2")).as("short_tokens"),
        greatest(col("n1"), col("n2")).as("long_tokens"))
    cand
      .join(docs.select(col("doc_id").as("short_id"), col("text").as("a_text")),
        "short_id")
      .join(docs.select(col("doc_id").as("long_id"), col("text").as("b_text")),
        "long_id")
      .filter(expr("startswith(b_text, concat(a_text, ' '))"))
      .select("short_id", "long_id", "short_tokens", "long_tokens")
      .orderBy("short_id", "long_id")
  }

  /** PageRank centrality over the near-dup similarity graph (3 damped
    * iterations, d = 0.85, ranks in exact 10⁻⁶ units): the
    * link-analysis upgrade to dedup-cluster-rep's min-id choice — inside
    * a duplicate cluster the highest-rank doc is the one most other
    * members point at (most-connected phrasing), which is the canonical
    * representative a careful dedup pass keeps. All arithmetic is
    * integer (rank·10⁶, per-edge share = rank div deg, damping as
    * (15·10⁶ + 85·Σshare) div 100) so three unrolled iterations are
    * bit-identical on every engine; shares are non-negative, so trunc
    * and floor division agree.
    *
    * Scale shape: iterates over the PAIR graph (candidate-pair-sized,
    * never the corpus) off the shared persisted pair seam; each
    * iteration is one edge⋈rank hash join + map-side-combined groupBy
    * on dst — the standard distributed PageRank step, 3 fixed rounds.
    * Symmetric edges mean no dangling mass.
    */
  val dedupPagerankRep: Op = Op.sql(
    "dedup-pagerank-rep",
    s"""WITH $ShingleOracle,
       |pr AS (SELECT d1, d2 FROM jac WHERE jac >= 0.5),
       |e AS (SELECT d1 AS src, d2 AS dst FROM pr
       |      UNION ALL SELECT d2, d1 FROM pr),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS rank FROM deg),
       |r1 AS (SELECT e.dst AS id,
       |              CAST(150000 + (85 * sum(r0.rank // deg.deg)) // 100 AS BIGINT) AS rank
       |       FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
       |       GROUP BY e.dst),
       |r2 AS (SELECT e.dst AS id,
       |              CAST(150000 + (85 * sum(r1.rank // deg.deg)) // 100 AS BIGINT) AS rank
       |       FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
       |       GROUP BY e.dst),
       |r3 AS (SELECT e.dst AS id,
       |              CAST(150000 + (85 * sum(r2.rank // deg.deg)) // 100 AS BIGINT) AS rank
       |       FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src
       |       GROUP BY e.dst)
       |SELECT id AS doc_id, rank AS rank_e6 FROM r3 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val pr = persistedJaccardPairs(s, d).select("d1", "d2")
    val e = pr.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pr.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // The share denominator rides the edge row (round 13): deg attaches
    // to e ONCE and the (src, dst, deg) table persists (edge-sized, the
    // same scale the loop already shuffles), so each iteration is one
    // edge⋈rank join + one groupBy instead of two joins — the unrolled
    // plan loses 3 joins and 3 re-evaluations of the edge/degree subtree.
    val edeg = e.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var rank = deg.select(col("src").as("id"), lit(1000000L).as("rank"))
    for (_ <- 1 to 3) {
      // no broadcast hints: rank/deg are node-sized (unbounded at 100 TB)
      // — the honest plan shuffles edges⋈rank on src, and AQE broadcasts
      // on its own at fixture scale
      rank = edeg.join(rank, col("src") === col("id"))
        .select(col("dst"), expr("rank div deg").as("share"))
        .groupBy("dst").agg(sum("share").as("s"))
        .select(col("dst").as("id"),
          (lit(150000L) + expr("(85 * s) div 100")).cast("long").as("rank"))
    }
    rank.select(col("id").as("doc_id"), col("rank").as("rank_e6"))
      .orderBy("doc_id")
  }

  val ops: Seq[Op] = Seq(dedupExact, dedupNgramJaccard, dedupMinhash,
    dedupSimhash, dedupEmbeddingCosine, dedupEmbeddingLsh, dedupCluster,
    dedupClusterRep, dedupSubstringSpans, dedupWeights, dedupEditDistance,
    dedupSimhashEval, dedupSurvivorship, dedupDfSpectrum, dedupClusterSizes,
    dedupJaccardSweep, dedupContainment, dedupLshExpectedRecall,
    dedupGraphDegree, dedupGraphTriangles, dedupSimhashHamming,
    dedupSavingsBySource, dedupMinhashAccuracy, dedupMethodAgreement,
    dedupSimilarDocs, dedupTokensSaved, dedupMinhashKSweep,
    dedupClusterSources, dedupHammingSweep, dedupPagerankRep,
    dedupPrefixArtifacts, dedupSemantic, dedupSemanticSweep,
    dedupSemanticOrphans, dedupWinnowingEval)

  /** Hamming-radius calibration for the simhash tier: cumulative pair
    * and doc counts at distance ≤ 0, 1, 2, 3 — the curve read before
    * committing the Manku radius (the simhash sibling of
    * dedup-jaccard-sweep; radius 3 is where the 4×12-bit band scheme's
    * completeness guarantee ends, so anything looser needs more bands).
    * Rides the persisted Hamming ≤ 3 pair set — the sweep adds
    * conditional sums, not a recomputation.
    */
  lazy val dedupHammingSweep: Op = Op.sql(
    "dedup-hamming-sweep",
    """WITH words AS (
      |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |hashed AS (
      |  SELECT id, list_reduce(list_prepend(0::BIGINT,
      |           [ascii(substr(w, i, 1))::BIGINT FOR i IN generate_series(1, length(w))]),
      |           (a, b) -> (a * 31 + b) % 1000003) AS h
      |  FROM words),
      |votes AS (
      |  SELECT id, j,
      |         CAST(sum(CASE WHEN ((h * (((j * 2654435761) % 2147483647) | 1)
      |                              + ((j * 40503 * 65537) % 2147483647))
      |                             % 2147483647) % 2 = 1
      |                   THEN 1 ELSE -1 END) AS BIGINT) AS v
      |  FROM hashed, (SELECT unnest(generate_series(0, 47)) AS j) g
      |  GROUP BY id, j),
      |fp AS (
      |  SELECT id, CAST(sum(CASE WHEN v > 0 THEN (2 ** j)::BIGINT ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY id),
      |hp AS (SELECT a.id AS d1, b.id AS d2,
      |              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |       FROM fp a JOIN fp b ON a.id < b.id
      |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      |r AS (SELECT rr.r, hp.d1, hp.d2, hp.hamming
      |      FROM hp, (SELECT unnest([0, 1, 2, 3]) AS r) rr
      |      WHERE hp.hamming <= rr.r)
      |SELECT CAST(r AS BIGINT) AS radius,
      |       count(*) AS n_pairs,
      |       CAST(count(DISTINCT d1) + count(DISTINCT d2)
      |            - count(DISTINCT CASE WHEN d1 = d2 THEN d1 END) AS BIGINT)
      |         AS n_doc_slots
      |FROM r GROUP BY r ORDER BY radius""".stripMargin
  ) { (s, d) =>
    val hp = hammingPairs(s, d)
    hp.select(explode(array((0 to 3).map(r => lit(r.toLong)): _*)).as("radius"),
        col("d1"), col("d2"), col("hamming"))
      .filter(col("hamming") <= col("radius"))
      .groupBy("radius")
      .agg(count(lit(1)).as("n_pairs"),
        (countDistinct("d1") + countDistinct("d2")).cast("long")
          .as("n_doc_slots"))
      .orderBy("radius")
  }

  /** Source span of near-dup clusters: for every multi-doc cluster, how
    * many distinct SOURCES it crosses, histogrammed — within-source
    * clusters are re-posts/retries (dedup locally, cheap), cross-source
    * clusters are syndication/mirroring (the expensive global dedup is
    * only justified if this bucket is material). The one-table answer to
    * "could we shard dedup by source at 100 TB?" — if the cross-source
    * bucket is empty, the global shuffle never needed to happen.
    *
    * Scale shape: rides the memoized cluster table; one cluster-grained
    * groupBy with a distinct on (cluster, source), then a span-sized
    * histogram fold.
    */
  lazy val dedupClusterSources: Op = Op.sql(
    "dedup-cluster-sources",
    s"""WITH RECURSIVE $ShingleOracle,
       |$ClusterOracle,
       |cs AS (SELECT cl.cluster, count(*) AS n_docs,
       |              count(DISTINCT d.source) AS n_sources
       |       FROM cl JOIN documents d ON d.doc_id = cl.id
       |       GROUP BY cl.cluster HAVING count(*) >= 2)
       |SELECT CAST(n_sources AS BIGINT) AS n_sources,
       |       count(*) AS n_clusters,
       |       CAST(sum(n_docs) AS BIGINT) AS n_docs
       |FROM cs GROUP BY n_sources ORDER BY n_sources""".stripMargin
  ) { (s, d) =>
    persistedDocClusters(s, d)
      .join(Tables.documents(s, d).select(col("doc_id").as("id"), col("source")),
        Seq("id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_docs"), countDistinct("source").as("n_sources"))
      .filter(col("n_docs") >= 2)
      .groupBy(col("n_sources").cast("long").as("n_sources"))
      .agg(count(lit(1)).as("n_clusters"), sum("n_docs").cast("long").as("n_docs"))
      .orderBy("n_sources")
  }

  /** Signature-width sweep: mean absolute minhash-estimator error at
    * k = 8, 16, 32 over the exact-jaccard pair set — the one table that
    * SIZES k (dedup-minhash-accuracy shows the k=16 spread pair-by-pair;
    * this folds the error curve across widths so the k-vs-storage
    * trade-off is a read-off: error halves roughly as √k doubles, per
    * the MinHash variance j(1−j)/k). One k=32 signature table serves
    * every width — the k=8/16 estimates are PREFIXES of the same hash
    * family, which is also how a deployment widens k later without
    * recomputing old signatures.
    *
    * Scale shape: identical to dedup-minhash-accuracy (signatures only
    * for pair-member docs; pair-table-sized joins); the sweep adds two
    * conditional sums, not two passes. Bench attribution: the round-7
    * retirement of the corpus-wide md5 fill moved the 32-permutation
    * signature build onto this op's own clock (0.97 s → ~3.3 s at
    * sf0.1) — cost relocation, not regression; the family total fell
    * 34.8 s → 5.0 s. If a second consumer of k=32 signatures appears,
    * fold the build into persistedMd5Base.
    */
  lazy val dedupMinhashKSweep: Op = Op.sql(
    "dedup-minhash-k-sweep",
    s"""WITH $ShingleOracle,
       |p AS (SELECT d1, d2, jac FROM jac WHERE jac >= 0.5),
       |mem AS (SELECT DISTINCT dd AS id FROM
       |          (SELECT unnest([d1, d2]) AS dd FROM p)),
       |hsh AS (SELECT psh.id,
       |          CAST(('0x' || substr(md5(psh.s), 1, 8)) AS BIGINT) AS h
       |        FROM psh JOIN mem ON psh.id = mem.id),
       |sig AS (SELECT id, i,
       |          min((((h % 2147483647) * (((i * 2654435761) % 2147483647) | 1))
       |               + ((i * 40503 * 65537) % 2147483647)) % 2147483647) AS mh
       |        FROM hsh, (SELECT unnest(generate_series(0, 31)) AS i) g
       |        GROUP BY id, i),
       |est AS (SELECT p.d1, p.d2, p.jac,
       |          CAST(sum(CASE WHEN s1.i < 8 AND s1.mh = s2.mh
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS a8,
       |          CAST(sum(CASE WHEN s1.i < 16 AND s1.mh = s2.mh
       |                        THEN 1 ELSE 0 END) AS BIGINT) AS a16,
       |          CAST(sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END)
       |            AS BIGINT) AS a32
       |        FROM p JOIN sig s1 ON s1.id = p.d1
       |               JOIN sig s2 ON s2.id = p.d2 AND s2.i = s1.i
       |        GROUP BY p.d1, p.d2, p.jac),
       |ks AS (SELECT k, jac, CASE k WHEN 8 THEN a8 WHEN 16 THEN a16
       |                             ELSE a32 END AS agree
       |       FROM est, (SELECT unnest([8, 16, 32]) AS k) kk)
       |SELECT CAST(k AS BIGINT) AS k, count(*) AS n_pairs,
       |       CAST(sum(abs(CAST(round(jac * 1000000) AS BIGINT)
       |                    - (agree * 1000000) // k)) // count(*) AS BIGINT)
       |         AS mean_abs_err_micro
       |FROM ks GROUP BY k ORDER BY k""".stripMargin
  ) { (s, d) =>
    val P = 2147483647L
    def member(i: Int, h: org.apache.spark.sql.Column) = {
      val a = ((i * 2654435761L) % P) | 1L
      val b = (i * 40503L * 65537L) % P
      ((h % P) * a + b) % P
    }
    val pairs = persistedJaccardPairs(s, d)
    val hsh = persistedMd5Base(s, d)
    val sig = hsh.groupBy("id")
      .agg(min(member(0, col("h"))).as("mh0"),
        (1 until 32).map(i => min(member(i, col("h"))).as(s"mh$i")): _*)
    val s1 = sig.toDF("d1" +: (0 until 32).map(i => s"a$i"): _*)
    val s2 = sig.toDF("d2" +: (0 until 32).map(i => s"b$i"): _*)
    def agreeUpTo(k: Int) = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(broadcast(s1), Seq("d1")).join(broadcast(s2), Seq("d2"))
      .withColumn("jm", round(col("jac") * 1000000).cast("long"))
      .select(col("jm"), explode(array(
        struct(lit(8L).as("k"), agreeUpTo(8).as("agree")),
        struct(lit(16L).as("k"), agreeUpTo(16).as("agree")),
        struct(lit(32L).as("k"), agreeUpTo(32).as("agree")))).as("ka"))
      .select(col("ka.k").as("k"),
        abs(col("jm") - expr("(ka.agree * 1000000) div ka.k")).as("err"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(err) div count(1)").cast("long").as("mean_abs_err_micro"))
      .orderBy("k")
  }

  /** TOKEN-weighted dedup savings per source — the training-cost view of
    * dedup-savings-by-source (docs are not the unit a training budget is
    * priced in; tokens are): total tokens, tokens inside dropped non-rep
    * near-dup docs, and the saved share in basis points. A source whose
    * doc-drop share is modest can still dominate token savings when its
    * duplicates are the long documents — this table is what turns a dedup
    * decision into a compute budget number.
    *
    * Scale shape: rides the memoized doc-cluster table (pair-graph CC,
    * computed once per session); one join + one map-side-combined groupBy
    * over (id, source, token-count) projections.
    */
  lazy val dedupTokensSaved: Op = Op.sql(
    "dedup-tokens-saved",
    s"""WITH RECURSIVE $ShingleOracle,
       |$ClusterOracle
       |SELECT d.source,
       |       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
       |         AS tokens_total,
       |       CAST(sum(CASE WHEN cl.cluster <> d.doc_id
       |                     THEN len(string_split(d.text, ' ')) ELSE 0 END)
       |            AS BIGINT) AS tokens_dropped,
       |       CAST((sum(CASE WHEN cl.cluster <> d.doc_id
       |                      THEN len(string_split(d.text, ' ')) ELSE 0 END)
       |             * 10000) // sum(len(string_split(d.text, ' '))) AS BIGINT)
       |         AS saved_bp
       |FROM documents d JOIN cl ON cl.id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("source"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
      .join(persistedDocClusters(s, d), Seq("id"))
      .groupBy("source")
      .agg(sum("tok").cast("long").as("tokens_total"),
        sum(when(col("cluster") =!= col("id"), col("tok")).otherwise(0L))
          .cast("long").as("tokens_dropped"))
      .withColumn("saved_bp",
        expr("(tokens_dropped * 10000) div tokens_total"))
      .orderBy("source")
  }

  /** Cross-method agreement of the two lexical near-dup tiers: the exact
    * jaccard pair set (j ≥ 0.5) against the Manku simhash Hamming ≤ 3
    * pair set, as set-overlap counts and their Jaccard (micro). The two
    * methods approximate DIFFERENT similarities (set resemblance vs
    * cosine of the vocabulary vote vector), so their agreement is an
    * empirical property of the corpus — this one-row audit is how a
    * pipeline decides whether simhash can replace the costlier
    * shingle/jaccard tier for its corpus, or must run beside it.
    *
    * Scale shape: both inputs are pair tables (near-dup-count-sized); the
    * overlap is one groupBy over their union — nothing corpus-sized moves
    * beyond what the two producing tiers already pay (jaccard rides the
    * persisted pair cache; the simhash side is the shared banded
    * pipeline, never all-pairs).
    */
  /** "More like this": for every document with any near-dup candidate,
    * the top-3 most similar documents by exact pruned-shingle jaccard — the
    * similar-document retrieval product built ON the dedup pair
    * infrastructure (same candidates, same scores; ranked instead of
    * thresholded for drop). Pairs are symmetric, so each query expands
    * its pair rows in both orientations before ranking.
    *
    * Scale shape: rides the persisted j ≥ 0.5 pair set (near-dup-count-
    * sized); the per-query top-3 is the salted two-phase TopK over pair
    * rows — the corpus is never rescanned, which is exactly why a dedup
    * pipeline gets this product query for free.
    */
  lazy val dedupSimilarDocs: Op = Op.sql(
    "dedup-similar-docs",
    s"""WITH $ShingleOracle,
       |p AS (SELECT d1, d2, jac FROM jac WHERE jac >= 0.5),
       |sym AS (SELECT d1 AS q_id, d2 AS n_id, jac FROM p
       |        UNION ALL SELECT d2, d1, jac FROM p),
       |r AS (SELECT q_id, n_id,
       |        CAST(round(jac * 1000000) AS BIGINT) AS jac_micro,
       |        row_number() OVER (PARTITION BY q_id
       |          ORDER BY jac DESC, n_id) AS rank
       |      FROM sym)
       |SELECT q_id, n_id, jac_micro, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  ) { (s, d) =>
    val p = persistedJaccardPairs(s, d)
    val sym = p.select(col("d1").as("q_id"), col("d2").as("n_id"), col("jac"))
      .union(p.select(col("d2").as("q_id"), col("d1").as("n_id"), col("jac")))
    graft.functions.TopK.topkPerGroup(sym, Seq("q_id"),
      Seq(col("jac").desc, col("n_id").asc), 3)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("jac").desc, col("n_id").asc)).cast("long"))
      .select(col("q_id"), col("n_id"),
        round(col("jac") * 1000000).cast("long").as("jac_micro"), col("rank"))
      .orderBy("q_id", "rank")
  }

  lazy val dedupMethodAgreement: Op = Op.sql(
    "dedup-method-agreement",
    s"""WITH $ShingleOracle,
       |jp AS (SELECT d1, d2 FROM jac WHERE jac >= 0.5),
       |words AS (
       |  SELECT DISTINCT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |hashed AS (
       |  SELECT id, list_reduce(list_prepend(0::BIGINT,
       |           [ascii(substr(w, i, 1))::BIGINT FOR i IN generate_series(1, length(w))]),
       |           (a, b) -> (a * 31 + b) % 1000003) AS h
       |  FROM words),
       |votes AS (
       |  SELECT id, j,
       |         CAST(sum(CASE WHEN ((h * (((j * 2654435761) % 2147483647) | 1)
       |                              + ((j * 40503 * 65537) % 2147483647))
       |                             % 2147483647) % 2 = 1
       |                   THEN 1 ELSE -1 END) AS BIGINT) AS v
       |  FROM hashed, (SELECT unnest(generate_series(0, 47)) AS j) g
       |  GROUP BY id, j),
       |fp AS (
       |  SELECT id, CAST(sum(CASE WHEN v > 0 THEN (2 ** j)::BIGINT ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY id),
       |hp AS (SELECT a.id AS d1, b.id AS d2
       |       FROM fp a JOIN fp b ON a.id < b.id
       |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |u AS (SELECT d1, d2, max(in_j) AS in_j, max(in_h) AS in_h
       |      FROM (SELECT d1, d2, 1 AS in_j, 0 AS in_h FROM jp
       |            UNION ALL SELECT d1, d2, 0, 1 FROM hp)
       |      GROUP BY d1, d2)
       |SELECT CAST(sum(in_j) AS BIGINT) AS n_jaccard,
       |       CAST(sum(in_h) AS BIGINT) AS n_hamming,
       |       CAST(sum(in_j * in_h) AS BIGINT) AS n_both,
       |       count(*) AS n_union,
       |       CAST(sum(in_j * in_h) * 1000000 // count(*) AS BIGINT)
       |         AS agreement_micro
       |FROM u""".stripMargin
  ) { (s, d) =>
    val jp = persistedJaccardPairs(s, d).select("d1", "d2")
      .withColumn("in_j", lit(1L)).withColumn("in_h", lit(0L))
    val hp = hammingPairs(s, d).select("d1", "d2")
      .withColumn("in_j", lit(0L)).withColumn("in_h", lit(1L))
    jp.union(hp)
      .groupBy("d1", "d2")
      .agg(max("in_j").as("in_j"), max("in_h").as("in_h"))
      .agg(sum("in_j").cast("long").as("n_jaccard"),
        sum("in_h").cast("long").as("n_hamming"),
        sum(col("in_j") * col("in_h")).cast("long").as("n_both"),
        count(lit(1)).as("n_union"))
      .select(col("n_jaccard"), col("n_hamming"), col("n_both"), col("n_union"),
        expr("(n_both * 1000000) div n_union").as("agreement_micro"))
  }

  /** SemDeDup as a PIPELINE step — the per-source kept/dropped budget of
    * embedding-space semantic dedup (Abbas et al. 2023), bridging the sim
    * and dedup tiers: the per-vector keep verdict is
    * [[SimOps.semanticKeepTable]] (1-round k-means clustering, within-
    * cluster ≥ 0.35-cosine pairs, lowest-id keeper — the SQL CTEs are
    * shared VERBATIM with sim-semantic-dedup via SimOps.SemDedupCtes so
    * the tiers cannot diverge), joined to the documents table on
    * vec_id = doc_id (the embedded subset) and rolled up per source —
    * the table a 100 TB curation run reads to see how much of each
    * source semantic dedup removes. Reference analogue: the per-kind
    * dedup accounting of src/command/fix.rs:160-210, lifted to the
    * embedding grain (the reference has no vector tier — extension
    * scope).
    *
    * Scale shape: clustering + assignment are the shared subtree's
    * (config-sized centroid collect + broadcast projection); the pair
    * stage joins on cid so cost is Σ|cluster|², bounded by k as in the
    * paper; the doc join is a plain equi-join on the id (AQE broadcasts
    * the keep table while the embedded subset fits — at full scale both
    * sides are id-partitioned and co-locate); the rollup is
    * source-grain, map-side combined.
    */
  lazy val dedupSemantic: Op = Op.sql(
    "dedup-semantic",
    s"""${SimOps.SemDedupCtes},
       |keep AS (SELECT m.vec_id, dropped.vec_id IS NULL AS keep
       |         FROM m LEFT JOIN dropped ON m.vec_id = dropped.vec_id)
       |SELECT d.source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN k.keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
       |FROM documents d JOIN keep k ON d.doc_id = k.vec_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  ) { (s, d) =>
    val keep = SimOps.semanticKeepTable(s, d)
      .select(col("vec_id").as("doc_id"), col("keep"))
    Tables.documents(s, d).select("doc_id", "source")
      .join(keep, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).cast("long").as("n_dropped"))
      .orderBy("source")
  }

  /** SemDeDup epsilon SWEEP — the table that PICKS the dedup-semantic /
    * sim-semantic-dedup threshold (Abbas et al. sweep ε per cluster
    * budget): within-cluster pairs are scored ONCE at the micro-cosine
    * grain over the SAME cluster membership as the keep table
    * ([[SimOps.semanticMembers]]), then every ε ∈ {0.30, 0.35, 0.40,
    * 0.45} is a FILTER over that one pair table (the
    * dedup-threshold-sweep discipline — a config explode must never
    * re-execute the pair subtree), emitting kept/dropped totals per ε.
    * The shipped ops' ε = 0.35 row is readable straight off this table.
    * Reference analogue: the retry/threshold tuning tables of
    * src/archiver/block.rs:36-60, lifted to the dedup budget — extension
    * scope.
    *
    * Scale shape: clustering/assignment are the shared config-sized
    * collect + broadcast projection; the pair stage joins on cid
    * (Σ|cluster|², bounded by k exactly as dedup-semantic); the sweep is
    * a 4-row broadcast theta-join over the PAIR table (4·|pairs|
    * comparisons — pair-grain, never corpus-grain) with a left join so
    * an ε that drops nothing still reports 0.
    */
  lazy val dedupSemanticSweep: Op = Op.sql(
    "dedup-semantic-sweep",
    s"""${SimOps.SemDedupCtes},
       |pairs AS (
       |  SELECT a.vec_id AS a_id,
       |         CAST(round(list_dot_product(a.v, b.v) /
       |              (sqrt(list_dot_product(a.v, a.v)) *
       |               sqrt(list_dot_product(b.v, b.v))) * 1000000) AS BIGINT) AS cos_u
       |  FROM m a JOIN m b ON a.cid = b.cid AND b.vec_id < a.vec_id),
       |eps AS (SELECT unnest([300000, 350000, 400000, 450000]) AS eps_micro),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM m),
       |dr AS (SELECT CAST(e.eps_micro AS BIGINT) AS eps_micro,
       |              CAST(count(DISTINCT p.a_id) AS BIGINT) AS n_dropped
       |       FROM eps e LEFT JOIN pairs p ON p.cos_u >= e.eps_micro
       |       GROUP BY e.eps_micro)
       |SELECT dr.eps_micro, tot.n_vectors,
       |       CAST(tot.n_vectors - dr.n_dropped AS BIGINT) AS n_kept,
       |       dr.n_dropped
       |FROM dr, tot ORDER BY dr.eps_micro""".stripMargin
  ) { (s, d) =>
    val members = SimOps.semanticMembers(s, d)
    val other = members.select(col("cid").as("b_cid"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    val pairs = members.join(other,
        col("cid") === col("b_cid") && col("b_id") < col("vec_id"))
      .select(col("vec_id").as("a_id"),
        SimOps.cosMicro(col("embedding"), col("b_emb")).as("cos_u"))
    val eps = s.range(1).select(explode(
      typedLit(Seq(300000L, 350000L, 400000L, 450000L))).as("eps_micro"))
    val tot = members.agg(count(lit(1)).as("n_vectors"))
    eps.join(pairs, col("cos_u") >= col("eps_micro"), "left_outer")
      .groupBy("eps_micro")
      .agg(countDistinct(col("a_id")).as("n_dropped"))
      .crossJoin(broadcast(tot))
      .select(col("eps_micro"), col("n_vectors"),
        (col("n_vectors") - col("n_dropped")).as("n_kept"), col("n_dropped"))
      .orderBy("eps_micro")
  }

  /** SemDeDup over-deletion audit (the Abbas et al. 2023 one-round
    * keep-rule's known artifact): a document is dropped when ANY
    * smaller-id ε-neighbor exists — but that neighbor may itself be
    * dropped, leaving the document ORPHANED: deleted although no KEPT
    * representative sits within ε of it (chain-drops through a
    * similarity path a..b..c where cos(a,c) < ε). Per cluster: members,
    * drops, orphans, and the orphan share of drops in basis points —
    * the table that says how much semantic coverage the one-round rule
    * sacrificed vs an ε-net, read before shipping its keep list.
    * Reference analogue: the gap-audit shape of
    * src/command/verify.rs:409-477 at the SemDeDup grain (extension
    * scope).
    *
    * Scale shape: membership and keep verdicts are the shared SemDeDup
    * subtree (zero-shuffle assignment + cid-bounded pair stage); the
    * rescue probe is one more cid equi-join between the dropped and
    * kept partitions of the SAME member table (≤ Σ|cluster|², strictly
    * smaller than the keep table's own pair stage); the rollup is
    * cluster-grained. orphan_bp guards its n_dropped = 0 denominator to
    * NULL on both engines.
    */
  lazy val dedupSemanticOrphans: Op = Op.sql(
    "dedup-semantic-orphans",
    s"""${SimOps.SemDedupCtes},
       |kp AS (SELECT m.vec_id, m.cid, m.v, dropped.vec_id IS NULL AS keep
       |       FROM m LEFT JOIN dropped ON m.vec_id = dropped.vec_id),
       |resc AS (SELECT DISTINCT d.cid, d.vec_id
       |         FROM kp d JOIN kp k ON d.cid = k.cid
       |          AND NOT d.keep AND k.keep
       |          AND CAST(round(list_dot_product(d.v, k.v) /
       |                         (sqrt(list_dot_product(d.v, d.v)) *
       |                          sqrt(list_dot_product(k.v, k.v))) * 1000000)
       |                   AS BIGINT) >= 350000),
       |per AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
       |               CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
       |                 AS n_dropped
       |        FROM kp GROUP BY cid),
       |oc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_rescued
       |       FROM resc GROUP BY cid)
       |SELECT CAST(per.cid AS BIGINT) AS cid, per.n_members, per.n_dropped,
       |       CAST(per.n_dropped - coalesce(oc.n_rescued, 0) AS BIGINT)
       |         AS n_orphaned,
       |       CASE WHEN per.n_dropped = 0 THEN NULL
       |            ELSE CAST(((per.n_dropped - coalesce(oc.n_rescued, 0))
       |                       * 10000) // per.n_dropped AS BIGINT)
       |       END AS orphan_bp
       |FROM per LEFT JOIN oc USING (cid) ORDER BY cid""".stripMargin
  ) { (s, d) =>
    val m = SimOps.semanticKeepTable(s, d) // (vec_id, cid, embedding, keep)
    val droppedM = m.filter(!col("keep"))
      .select(col("cid"), col("vec_id"), col("embedding"))
    val keptM = m.filter(col("keep")).select(col("cid").as("k_cid"),
      col("vec_id").as("k_id"), col("embedding").as("k_emb"))
    val rescued = droppedM.join(keptM,
        col("cid") === col("k_cid") &&
          SimOps.cosMicro(col("embedding"), col("k_emb")) >= 350000,
        "left_semi")
      .select("cid", "vec_id")
    val per = m.groupBy("cid").agg(count(lit(1)).as("n_members"),
      sum(when(col("keep"), 0L).otherwise(1L)).cast("long").as("n_dropped"))
    val oc = rescued.groupBy("cid").agg(count(lit(1)).as("n_rescued"))
    per.join(broadcast(oc), Seq("cid"), "left_outer")
      .select(col("cid"), col("n_members"), col("n_dropped"),
        (col("n_dropped") - coalesce(col("n_rescued"), lit(0L)))
          .as("n_orphaned"))
      .withColumn("orphan_bp",
        when(col("n_dropped") === 0, lit(null))
          .otherwise(expr("(n_orphaned * 10000) div n_dropped")))
      .orderBy("cid")
  }
}
