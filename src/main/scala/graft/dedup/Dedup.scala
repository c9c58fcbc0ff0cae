package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication for a training-data pipeline at 100 TB scale:
  *
  *  - exact:   hash-groupBy — one shuffle on the digest.
  *  - jaccard: shingle → document-frequency pruning → shingle-join —
  *             the df prune bounds the self-join fan-out (a shingle seen in
  *             ≤ maxDf docs contributes ≤ maxDf² pair rows), which is what
  *             makes exact-jaccard viable at scale.
  *  - minhash+LSH: k signatures → banded bucket join → candidate pairs →
  *             exact verify. Only candidates ever pairwise-compared.
  *  - simhash: bit-vote fingerprint; equality (or low Hamming distance)
  *             buckets near-dups with one groupBy.
  *
  * All hashing is md5/polynomial-based — exact and engine-portable, never
  * JVM-specific (`hash()`/murmur would not cross-check against an oracle).
  */
object Dedup {

  /** Exact duplicate groups by content digest: keep the smallest doc_id.
    * Output: text_hash, keep_id, n_copies (groups with n_copies > 1).
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** The pre-prune hashed (id, s) stream — the tokenize→shingle-hash→
    * distinct kernel every dedup consumer starts from. Exposed so a
    * caller that persists it for the two prune passes can release it
    * (graft.ops.DedupOps.persistedShingles).
    */
  def hashedShingleStream(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    // Set semantics via array_distinct BEFORE the explode: per-doc dedup is
    // partition-local, so the only shuffle here is the df prune below.
    // Shingles leave this seam as their xxhash64 — every downstream
    // shuffle (df prune, pair groupBy, signature build) moves 8-byte keys
    // instead of ~25-byte gram strings, and the signature hash family can
    // start from the already-uniform long instead of an md5 per row. A
    // 64-bit collision merges two shingles corpus-wide with
    // p ≈ (distinct shingles)²/2⁶⁵ — noise against the jaccard threshold,
    // and the string-exact DuckDB oracles bound it at test SF.
    // Round 14: the hash fuses into the shingle kernel
    // (TextAnalysis.shingleHashes — multi-arg xxhash64 over the word
    // tuple): no gram string is ever built, and array_distinct runs on
    // primitive longs instead of strings.
    docs
      .select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.shingleHashes(col(textCol), n))).as("s"))

  /** Distinct (id, shingle) pairs with global document-frequency pruning:
    * shingles present in more than `maxDf` documents are dropped on BOTH
    * sides of any downstream comparison (common-shingle pruning).
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxDf: Int = 20, skewSafe: Boolean = true): DataFrame =
    pruneShingles(hashedShingleStream(docs, idCol, textCol, n), maxDf, skewSafe)

  /** The df prune of [[shingleSets]] over a hashed (id, s) stream. The
    * skew-safe form reads `sh` twice (the df aggregation and the
    * anti-join's left side); a caller that wants one kernel evaluation
    * persists `sh` itself and releases it once the result materializes.
    */
  def pruneShingles(sh: DataFrame, maxDf: Int = 20,
      skewSafe: Boolean = true): DataFrame =
    if (skewSafe) {
      // 100 TB form: a viral shingle ("the of the" in a billion docs) would
      // make the window partition hot; the two-pass prune pre-aggregates df
      // (map-side combine absorbs the skew) and anti-joins the hot keys —
      // no single partition ever holds a hot shingle's full row set.
      // `hot` is tiny (only shingles above maxDf survive) — broadcast it so
      // the anti-join never shuffles the full (id, shingle) row set.
      val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .select("s")
      sh.join(broadcast(hot), Seq("s"), "left_anti").select("id", "s")
    } else {
      // Fixture-scale form: one shuffle, no join.
      sh.withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
        .filter(col("df") <= maxDf)
        .select("id", "s")
    }

  /** Exact Jaccard over pruned shingle sets for every pair sharing at
    * least one shingle. Output: d1, d2, jac (rounded, ≥ threshold).
    *
    * Pair generation is ONE shuffle, not a self-join: co-occurring
    * (id, set-size) structs collect into a per-shingle list (bounded at
    * maxDf by the upstream prune — that bound is what keeps BOTH
    * spellings viable; without it a viral shingle blows up either one as
    * O(df²)), and a native codegen expression
    * ([[graft.functions.ArrayOrderedSizedPairs]]) expands the C(df,2)
    * pairs in-task with the set-similarity LENGTH FILTER fused in
    * (min(n1,n2) < t·max ⇒ j ≤ min/max < t — dropped before the pair
    * shuffle).
    *
    * The sizes RIDE THE PAIR ROWS (n1/n2 are grouping keys — they are
    * functions of d1/d2, so pair cardinality is unchanged): round 13
    * profiling at 100× (sf10: 125M pair rows vs 26M shingle rows,
    * distinct-pair ratio 89%) showed the old size-attach joins re-sorted
    * the pair-sized aggregate TWICE for what one wider groupBy carries
    * for free, and the length filter cuts pair-shuffle volume before the
    * exchange (24% at the near-uniform-length sf10 fixture; far more on
    * real heterogeneous corpora). sf1→sf10 wall moved from 17.6× to
    * ~linear for 10× data with the rewrite. The size attach onto the
    * (id, s) rows is an id-keyed join whose build side reuses the sz
    * aggregation's exchange (same key) — one extra shuffle of the
    * SHINGLE-sized set replaces two sorts of the PAIR-sized one.
    */
  def jaccardPairs(shingles: DataFrame, threshold: Double): DataFrame =
    sizedPairCounts(shingles, threshold)
      .withColumn("jac", round(col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")), 6))
      .filter(col("jac") >= threshold)
      .select("d1", "d2", "jac")

  /** The shared sized-pair intersection pipeline behind [[jaccardPairs]]
    * and dedup-containment: co-occurring (id, set-size) structs collect
    * per shingle, the codegen generator expands C(df,2) pairs in-task
    * with the jaccard length filter at `threshold` fused in (0.0 = keep
    * every pair — containment's spelling), and the wide groupBy carries
    * the sizes as extra keys (n is a function of id — pair cardinality
    * unchanged). Output: d1, n1, d2, n2, inter. ONE shared spelling so
    * the sorted-input/canonical-order contract and the conservative
    * ⌊t·10⁶⌋−1 prefilter bound live in one place (round-13 review).
    */
  private[graft] def sizedPairCounts(shingles: DataFrame,
      threshold: Double): DataFrame = {
    val sz = shingles.groupBy("id").agg(count(lit(1)).as("n"))
    shingles.join(sz, Seq("id"))
      .groupBy("s")
      .agg(array_sort(collect_list(struct(col("id"), col("n")))).as("ids"))
      .select(explode(
        graft.functions.ArrayOrderedSizedPairs(col("ids"), threshold)).as("p"))
      .select(col("p.d1"), col("p.n1"), col("p.d2"), col("p.n2"))
      .groupBy("d1", "d2", "n1", "n2").agg(count(lit(1)).as("inter"))
  }

  /** Universal hash family over ONE base digest per shingle:
    * h_i(s) = (a_i * h(s) + b_i) mod p, p = 2^31−1. The base is the
    * shingle's xxhash64 (already computed at the shingleSets seam) folded
    * into [0, p) — no per-row digest at all (the md5 this replaced was
    * the dominant signature cost at scale); the affine members are two
    * long ops each. Products stay < 2^62.
    */
  private val P = 2147483647L // Mersenne prime 2^31-1
  private def baseHash = pmod(col("s"), lit(P))
  private def familyMember(i: Int, h: org.apache.spark.sql.Column) = {
    val a = ((i * 2654435761L) % P) | 1L
    val b = (i * 40503L * 65537L) % P
    (h * a + b) % P
  }

  /** MinHash signatures: k per-document minima over the shingle set.
    * Output: id, mh0..mh{k-1}.
    */
  def minhashSignatures(shingles: DataFrame, k: Int = 32): DataFrame = {
    val withBase = shingles.withColumn("hb", baseHash)
    withBase
      .groupBy("id")
      .agg(min(familyMember(0, col("hb"))).as("mh0"),
        (1 until k).map(i => min(familyMember(i, col("hb"))).as(s"mh$i")): _*)
  }

  /** LSH banding: k/r bands of r rows; each band hashes to a bucket key.
    * One explode pass over the signature row — NOT a union of per-band
    * selects, which would recompute the signature aggregation k/r times.
    * Output: candidate pairs (d1 < d2), distinct across bands.
    */
  /** One (id, bucket) row per band — the probe/index key set of the LSH
    * membership structure (shared by [[lshCandidates]] and the streaming
    * ingest index in [[graft.streaming.Streams.nearDupIngestLive]]).
    */
  def lshBandKeys(signatures: DataFrame, k: Int = 32, r: Int = 2): DataFrame = {
    // Band key = xxhash64(band, row values): an 8-byte long, not a
    // concat_ws string — the bucket is only ever an equality key (self-join
    // / index probe), and long keys hash-probe and shuffle at a fraction of
    // the ~25-byte string's cost. The band index salts the hash so equal
    // row values in different bands never collide into one bucket.
    // Two consequences of the hashed key, accepted by design: (a) this is
    // band-key FORMAT v2 — a persisted band index written by the string
    // format (nearDupIngestLive's indexDir) must be rebuilt, it cannot be
    // appended to; (b) a cross-value 64-bit collision can alias two
    // unrelated bands into one bucket. For the batch ops the exact-verify
    // tier absorbs (b) entirely; for the verify-less streaming gate it
    // adds a false-DROP probability ≈ (distinct band keys)²/2⁶⁵ on top of
    // the documented LSH false-accept trade — negligible against the
    // (1−j²)^bands design point, and bounded by the oracle-exact batch
    // ops at test SF.
    val bandKeys = (0 until k / r).map { b =>
      xxhash64((lit(b) +: (0 until r).map(i => col(s"mh${b * r + i}"))): _*)
    }
    signatures.select(col("id"), explode(array(bandKeys: _*)).as("bucket"))
  }

  def lshCandidates(signatures: DataFrame, k: Int = 32, r: Int = 2): DataFrame = {
    val bands = lshBandKeys(signatures, k, r)
    val l = bands.select(col("bucket"), col("id").as("d1"))
    val rr = bands.select(col("bucket"), col("id").as("d2"))
    l.join(rr, Seq("bucket"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
  }

  /** MinHash+LSH near-dup pipeline with exact verification: candidates from
    * banded buckets, then true Jaccard on the pruned shingle sets. With
    * k=32, r=2 the miss probability at j≥0.8 is (1−0.8²)¹⁶ ≈ 8e−8, so the
    * verified output equals the exact-jaccard pair set.
    */
  def minhashNearDups(shingles: DataFrame, threshold: Double = 0.8,
      k: Int = 32, r: Int = 2): DataFrame = {
    // The shingle set feeds signatures AND the exact verify (4+ subtree
    // evaluations) — callers should pass a persisted shingle set (see
    // graft.ops.DedupOps.persistedShingles; round-5 A/B: cached wins).
    //
    // The SIGNATURE table persists here (round 13): its consumers are the
    // two sides of the band self-join, and while ReusedExchange shares the
    // signature aggregation's shuffle OUTPUT, each consumer still re-runs
    // the final 32-min-column HashAggregate over it — the most expensive
    // per-row aggregation in the family, paid 2×. The table is doc-count-
    // sized (k longs per doc), so the cache fill is a fraction of one
    // re-aggregation. The CANDIDATE pair list persists for the same
    // reason: it feeds the verify semi-join AND the final pair filter,
    // and without a cache the whole band join+distinct executes twice
    // (ReusedExchange shares its input exchanges, not the join). The
    // round-5 "checkpoint measured ~25% slower" finding was a blocking
    // localCheckpoint of cand over UNCACHED signatures — a different
    // trade; A/B for this shape is in OPTIMIZATION_r13.md.
    val sigs = minhashSignatures(shingles, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = lshCandidates(sigs, k, r)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jaccardPairs(
      shingles.join(
        cand.select(explode(array(col("d1"), col("d2"))).as("id")).distinct(),
        Seq("id"), "left_semi"),
      threshold)
      // candidates only: drop pairs that never shared a bucket
      .join(cand, Seq("d1", "d2"), "left_semi")
  }

  /** SimHash: per-document bit-vote fingerprint over distinct tokens using
    * the portable polynomial hash (20 usable bits). Output: id, simhash,
    * n_same (documents sharing the fingerprint).
    *
    * `n_same` is a groupBy + join, NOT a fingerprint-partitioned window:
    * near-dup fingerprints are exactly the skewed case (a boilerplate or
    * empty-doc fingerprint shared by millions of documents), and a window
    * partitioned by `simhash` would funnel that fingerprint's full row set
    * through one task. The groupBy's map-side combine absorbs the skew and
    * the count table is bounded by 2^bits distinct fingerprints, so for
    * the default 20 bits it broadcasts — the document rows never shuffle
    * at all. Wider fingerprints fall back to a shuffle join where AQE's
    * skew-join splitting handles hot fingerprints.
    */
  /** Per-document simhash fingerprints only (no group sizing) — the
    * building block shared by [[simhash]] and the composed preprocess
    * pipeline. Output: id, simhash.
    */
  /** Per-doc simhash via the row-local codegen kernel
    * ([[graft.functions.SimhashFingerprint]]): ZERO shuffle — the prior
    * explode(words) × explode(bits) → two-groupBy formulation pushed a
    * 20× corpus-token stream through two exchanges for what is a pure
    * per-row function of the token array.
    */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 20): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.SimhashFingerprint(TextAnalysis.tokens(col(textCol)), bits)
        .as("simhash"))

  def simhash(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 20): DataFrame = {
    val fp = simhashFingerprints(docs, idCol, textCol, bits)
    val counts = fp.groupBy("simhash").agg(count(lit(1)).as("n_same"))
    val sized = if (bits <= 24) broadcast(counts) else counts
    fp.join(sized, Seq("simhash")).select("id", "simhash", "n_same")
  }
}
