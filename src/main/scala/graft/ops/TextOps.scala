package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, StageMemo, Tables}
import graft.text.TextAnalysis

/** Text-analysis ops over the documents table (scale extensions —
  * BASELINE.json north star: LLM-data-pipeline operators).
  */
object TextOps {

  /** Token counting: whitespace tokens, distinct tokens, char check. */
  val textTokens: Op = Op.sql(
    "text-tokens",
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens,
      |       length(text) AS n_chars_check
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
      // BPE-ish pre-tokenization: letter runs | digit runs | single symbol
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_subtokens"),
      length(col("text")).as("n_chars_check"))
      .orderBy("doc_id")
  }

  /** Quality scoring: stopword ratio, mean token length, distinct ratio. */
  val textQuality: Op = Op.sql(
    "text-quality",
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
      |SELECT doc_id,
      |  round(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is'))) * 1.0
      |        / len(ws), 4) AS stop_ratio,
      |  round((length(text) - (len(ws) - 1)) * 1.0 / len(ws), 4) AS mean_tok_len,
      |  round(len(list_distinct(ws)) * 1.0 / len(ws), 4) AS distinct_ratio
      |FROM t ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val (stopRatio, meanTokLen, distinctRatio) = TextAnalysis.quality(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      stopRatio.as("stop_ratio"),
      meanTokLen.as("mean_tok_len"),
      distinctRatio.as("distinct_ratio"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic (stopword markers) + agreement with the label. */
  val textLangId: Op = Op.sql(
    "text-lang-id",
    """WITH t AS (SELECT doc_id, lang,
      |  len(list_filter(string_split(text, ' '),
      |      w -> w IN ('the','a','of','and','to','in','is'))) AS en_score
      |FROM documents)
      |SELECT doc_id, lang,
      |       CASE WHEN en_score > 0 THEN 'en' ELSE 'unk' END AS lang_guess,
      |       (CASE WHEN en_score > 0 THEN 'en' ELSE 'unk' END = lang) AS agrees
      |FROM t ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val guess = TextAnalysis.langGuess(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      guess.as("lang_guess"),
      (guess === col("lang")).as("agrees"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: full digest + winnowing-lite min-window
    * digest (64-char windows, step 32).
    */
  val textFingerprint: Op = Op.sql(
    "text-fingerprint",
    """SELECT doc_id, md5(text) AS fp_full,
      |       list_min([md5(substr(text, i, 64))
      |                 FOR i IN generate_series(1, greatest(1, length(text) - 63), 32)]) AS fp_window
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.fingerprintFull(col("text")).as("fp_full"),
      TextAnalysis.fingerprintWindows(col("text")).as("fp_window"))
      .orderBy("doc_id")
  }

  /** Normalization (the step before shingling/fingerprinting): lowercase,
    * strip non-alphanumerics, collapse runs of spaces, trim. Pure per-row
    * projection — trivially scalable.
    */
  val textNormalize: Op = Op.sql(
    "text-normalize",
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                      ' +', ' ', 'g')) AS norm_text,
      |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                             ' +', ' ', 'g'))) AS n_chars_norm
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    Tables.documents(s, d)
      .select(col("doc_id"), norm.as("norm_text"), length(norm).as("n_chars_norm"))
      .orderBy("doc_id")
  }

  /** Sequence packing ("concat then chunk"): documents concatenated per
    * shard in doc_id order and cut into 512-token training sequences; each
    * doc gets the pack its first token falls in + its offset there. The
    * running sum windows per shard — never a global cumsum
    * (graft.text.Packing).
    */
  val textPackSequences: Op = Op.sql(
    "text-pack-sequences",
    """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
      |                  len(string_split(text, ' ')) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, shard, n_tokens,
      |             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |                                 ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      |SELECT doc_id, shard, n_tokens,
      |       CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
      |       CAST((cum - n_tokens) % 512 AS BIGINT) AS tok_offset
      |FROM c ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    graft.text.Packing.packSequences(Tables.documents(s, d), "doc_id", "text",
      budget = 512L, shards = 8)
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling for domain/language mixing: keep a
    * document iff its hash bucket (first two hex chars of md5(doc_id) —
    * 256 uniform buckets) falls below the stratum's rate (en 50%, others
    * 20%). Hash-based Bernoulli is THE scale shape for data mixing: a
    * pure per-row projection, reproducible across runs/engines, no RNG
    * state, and re-runs keep the exact same sample (unlike rand()-based
    * sampling which can never be re-verified).
    */
  val textSampleStratified: Op = Op.sql(
    "text-sample-stratified",
    """SELECT doc_id, lang,
      |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |      CASE WHEN lang = 'en' THEN '80' ELSE '33' END
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 2)
    val rate = when(col("lang") === "en", lit("80")).otherwise(lit("33"))
    Tables.documents(s, d)
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .orderBy("doc_id")
  }

  /** Exact-k uniform sample: the k documents with the smallest
    * md5(doc_id) — deterministic, seedless, reproducible across runs and
    * engines (the eval-set carve that must not drift between pipeline
    * versions). Where text-sample-stratified applies a per-stratum RATE,
    * this draws an exact COUNT, uniformly.
    *
    * Scale shape: TakeOrderedAndProject on the hash rank — per-partition
    * top-k partials merge at the driver; the corpus is never globally
    * sorted and never shuffles.
    */
  val textSampleUniform: Op = Op.sql(
    "text-sample-uniform",
    """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rank_hash
      |FROM documents
      |ORDER BY rank_hash, doc_id LIMIT 100""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("rank_hash"))
      .orderBy("rank_hash", "doc_id")
      .limit(100)
  }

  /** Benchmark decontamination: flag corpus documents sharing any 5-word
    * shingle with the benchmark set (here: doc_id < 50 plays the held-out
    * benchmark), with the shared-shingle count per flagged doc — the
    * classic n-gram-overlap contamination check run before training. The
    * benchmark side is tiny by nature → its distinct shingle set
    * BROADCASTS and the corpus never shuffles; at 100 TB this is one
    * map-side semi-join pass over the corpus shingles.
    */
  val textContamination: Op = Op.sql(
    "text-contamination",
    """WITH sh5 AS (
      |  SELECT DISTINCT doc_id AS id, array_to_string(ws[i:i+4], ' ') AS s
      |  FROM (SELECT doc_id, ws,
      |               unnest(generate_series(1, greatest(1, len(ws) - 4))) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
      |bench AS (SELECT DISTINCT s FROM sh5 WHERE id < 50)
      |SELECT id AS doc_id, count(*) AS n_shared
      |FROM sh5 JOIN bench USING (s)
      |WHERE id >= 50
      |GROUP BY id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // Shingles leave the explode as xxhash64 longs (the house hashed-
    // shingle seam): the broadcast set and every probe carry 8-byte keys
    // instead of ~50-byte gram strings. Collision bound as elsewhere —
    // p ≈ (distinct shingles)²/2⁶⁵, checked by the string-exact oracle.
    // Round 14: hash fused into the shingle kernel (no gram strings).
    val docs = Tables.documents(s, d)
    def sh5(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id").as("id"),
      explode(array_distinct(TextAnalysis.shingleHashes(col("text"), 5))).as("s"))
    val bench = sh5(docs.filter(col("doc_id") < 50)).select("s").distinct()
    sh5(docs.filter(col("doc_id") >= 50))
      .join(broadcast(bench), Seq("s"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** PII detection + redaction: count and mask emails, phone numbers and
    * IPv4 addresses. The fixture text carries none, so each document gets a
    * DETERMINISTIC synthetic PII suffix derived from its id (same
    * construction on both sides) — the op then proves the patterns hit.
    * Patterns stay in the RE2 ∩ java.util.regex common subset so Spark and
    * the oracle tokenize identically. Pure per-row projection — the scale
    * shape of every scrubbing pass.
    */
  val textPiiScrub: Op = Op.sql(
    "text-pii-scrub",
    """WITH t AS (
      |  SELECT doc_id,
      |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |         '@mail.example.com or +1 555-' ||
      |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |         ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS pii
      |  FROM documents)
      |SELECT doc_id,
      |       len(regexp_extract_all(pii, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS n_email,
      |       len(regexp_extract_all(pii, '\+[0-9]{1,3} [0-9]{3}-[0-9]{4}')) AS n_phone,
      |       len(regexp_extract_all(pii, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ip,
      |       md5(regexp_replace(regexp_replace(regexp_replace(pii,
      |             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
      |             '\+[0-9]{1,3} [0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')) AS scrub_hash
      |FROM t ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
    val phonePat = "\\+[0-9]{1,3} [0-9]{3}-[0-9]{4}"
    val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val pii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(pii,
      emailPat, "<EMAIL>"), phonePat, "<PHONE>"), ipPat, "<IP>")
    Tables.documents(s, d).select(
      col("doc_id"),
      regexp_count(pii, lit(emailPat)).cast("long").as("n_email"),
      regexp_count(pii, lit(phonePat)).cast("long").as("n_phone"),
      regexp_count(pii, lit(ipPat)).cast("long").as("n_ip"),
      md5(scrubbed).as("scrub_hash"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary statistics (the Zipf report): global top-100 tokens
    * by occurrence count with document frequency. The groupBy's map-side
    * combine absorbs token skew ("the" at billions of rows never lands raw
    * in one task) and the top-100 is a TakeOrdered over the
    * vocabulary-sized count table — no global sort of token rows.
    */
  val textTokenHistogram: Op = Op.sql(
    "text-token-histogram",
    """SELECT w AS token, count(*) AS cnt, count(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w ORDER BY cnt DESC, token LIMIT 100""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("df"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(100)
  }

  /** The data-mix report: per (source, language) document count, token
    * volume, mean document length and corpus share — the table a training
    * run's mixing weights are negotiated over. Group count is
    * source×language-sized (tiny), and the corpus total broadcasts.
    */
  /** Engine-parity: the fraction columns are snapped to integer
    * 1e-4/1e-6 units (exact integer inputs → one round-to-integer → one
    * IEEE division as the LAST op). `round(double, k)` on an
    * aggregation-derived double is NOT cross-engine stable — Spark rounds
    * the shortest decimal repr (BigDecimal HALF_UP) while DuckDB rounds
    * the scaled binary double, and round-4 shipped a hash mismatch on
    * exactly that. Integer-grain round agrees between the engines for
    * every double (shortest-repr ordering vs .5 is exact), and int/1e4
    * is a single identical IEEE op on both sides.
    */
  val textCorpusStats: Op = Op.sql(
    "text-corpus-stats",
    """WITH s AS (SELECT source, lang, count(*) AS n_docs,
      |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |                  CAST(sum(length(text)) AS BIGINT) AS sum_chars
      |           FROM documents GROUP BY source, lang),
      |t AS (SELECT count(*) AS total FROM documents)
      |SELECT source, lang, n_docs, n_tokens,
      |       CAST(round(sum_chars * 10000.0 / n_docs) AS BIGINT) / 10000.0 AS mean_chars,
      |       CAST(round(n_docs * 1000000.0 / total) AS BIGINT) / 1000000.0 AS share
      |FROM s, t ORDER BY source, lang""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val stats = docs.groupBy("source", "lang").agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
      sum(length(col("text"))).as("sum_chars"))
    val total = docs.agg(count(lit(1)).as("total"))
    stats.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (round(col("sum_chars") * lit(10000.0) / col("n_docs")).cast("long") /
          lit(10000.0)).as("mean_chars"),
        (round(col("n_docs") * lit(1000000.0) / col("total")).cast("long") /
          lit(1000000.0)).as("share"))
      .orderBy("source", "lang")
  }

  /** Perplexity-proxy quality scoring: a unigram LM is fit on the corpus
    * itself (p(w) = cnt/total) and every document is scored by its mean
    * token log-probability — the classic "how surprising is this document
    * under the corpus distribution" filter (low mean-logp ≈ rare-token
    * soup, candidates for dropping). Two passes over the token stream:
    * fit (one groupBy with map-side combine) and score.
    *
    * Engine-parity: per-token log-probs are snapped to integer micro-nats
    * (round(lp·1e6)) BEFORE the per-document sum, so the aggregate is an
    * exact integer total in any summation order — the same trick as
    * sim-kmeans-centroids' integer-scaled element sums; a double sum's
    * partial-merge order would differ between Spark partials and the
    * oracle. The vocabulary broadcasts (unigram vocab is O(10M) rows at
    * worst); were it ever broadcast-hostile, the plain join's hot-token
    * skew is AQE-split territory.
    */
  val textUnigramLogprob: Op = Op.sql(
    "text-unigram-logprob",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
      |t AS (SELECT count(*) AS tot FROM toks),
      |lm AS (SELECT w, CAST(round((ln(cnt) - ln(tot)) * 1000000) AS BIGINT) AS lp
      |       FROM v, t),
      |d AS (SELECT doc_id, sum(lp) AS slp, count(*) AS n
      |      FROM toks JOIN lm USING (w) GROUP BY doc_id)
      |SELECT doc_id, n AS n_tokens,
      |       round(slp / n / 1000000.0, 6) AS mean_logp,
      |       round(exp(-round(slp / n / 1000000.0, 6)), 4) AS ppl_proxy
      |FROM d ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("tot"))
    val lm = vocab.crossJoin(broadcast(total))
      .select(col("w"),
        round((log(col("cnt")) - log(col("tot"))) * 1000000).cast("long").as("lp"))
    val meanLogp = round(col("slp") / col("n") / 1000000.0, 6)
    toks.join(broadcast(lm), Seq("w"))
      .groupBy("doc_id")
      .agg(sum("lp").as("slp"), count(lit(1)).as("n"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        meanLogp.as("mean_logp"),
        round(exp(-meanLogp), 4).as("ppl_proxy"))
      .orderBy("doc_id")
  }

  /** BM25 retrieval: score every document against a fixed query term set
    * and return the top-10 (the lexical half of a hybrid search stack;
    * query terms span the df spectrum — 'dup' is rare, 'vector'/'spark'
    * common). Okapi BM25 with k1=1.2, b=0.75 and the non-negative idf
    * ln(1 + (N-df+0.5)/(df+0.5)).
    *
    * Scale shape: the token explode is filtered to query terms BEFORE any
    * aggregation, so the tf table is sized by matching postings, not the
    * corpus; df and the corpus totals are broadcast; the final top-10 is
    * TakeOrderedAndProject. Per-term scores snap to integer micro-units
    * before the per-doc sum (order-exact aggregation).
    */
  val textBm25Topk: Op = Op.sql(
    "text-bm25-topk",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
      |       WHERE w IN ('dup', 'vector', 'spark') GROUP BY doc_id, w),
      |dfc AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      |tot AS (SELECT count(*) AS n_docs, sum(dl) AS tot_tokens FROM dl),
      |sc AS (SELECT tf.doc_id, dl.dl,
      |         CAST(round(ln(1 + (tot.n_docs - dfc.df + 0.5) / (dfc.df + 0.5)) *
      |                    (tf.tf * 2.2) /
      |                    (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * tot.n_docs / tot.tot_tokens))
      |                    * 1000000) AS BIGINT) AS sc
      |       FROM tf JOIN dl USING (doc_id) JOIN dfc USING (w) CROSS JOIN tot)
      |SELECT doc_id, dl, round(sum(sc) / 1000000.0, 6) AS bm25
      |FROM sc GROUP BY doc_id, dl
      |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val queryTerms = Seq("dup", "vector", "spark")
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w").isin(queryTerms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("dl"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_tokens"))
    val idf = log(lit(1) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(1.2) *
      (lit(0.25) + lit(0.75) * col("dl") * col("n_docs") / col("tot_tokens"))
    tf.join(dl, Seq("doc_id")).join(broadcast(dfc), Seq("w")).crossJoin(broadcast(tot))
      .select(col("doc_id"), col("dl"),
        round(idf * (col("tf") * lit(2.2)) / denom * lit(1000000)).cast("long").as("sc"))
      .groupBy("doc_id", "dl")
      .agg(round(sum("sc") / lit(1000000.0), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  /** Repetition quality signals (the Gopher-style filter rules): per
    * document, the fraction of word 2-grams that are repeats, the share of
    * the single most frequent 2-gram, and the repeated-3-gram fraction.
    * High values flag boilerplate / degenerate text for dropping.
    *
    * Scale shape: every gram of a document lives in ONE row's token array,
    * so the stats are row-local — a single codegen'd expression
    * ([[graft.functions.RepetitionStats]]) per row, ZERO shuffle. The
    * previous spelling exploded the corpus's full 2-gram AND 3-gram string
    * streams through two groupBy(doc_id, gram) shuffles — two corpus-sized
    * string shuffles for per-document statistics (round-4's #2 bench hog).
    * Fractions snap to integer micro-units (see textCorpusStats note).
    */
  val textRepetition: Op = Op.sql(
    "text-repetition",
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g2 AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
      |       FROM (SELECT doc_id, ws,
      |               unnest(generate_series(1, greatest(1, len(ws) - 1))) AS i FROM ws)),
      |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g),
      |r2 AS (SELECT doc_id, sum(cnt) AS n2,
      |              sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup2,
      |              max(cnt) AS top2
      |       FROM c2 GROUP BY doc_id),
      |g3 AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS g
      |       FROM (SELECT doc_id, ws,
      |               unnest(generate_series(1, greatest(1, len(ws) - 2))) AS i FROM ws)),
      |c3 AS (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY doc_id, g),
      |r3 AS (SELECT doc_id, sum(cnt) AS n3,
      |              sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup3
      |       FROM c3 GROUP BY doc_id)
      |SELECT r2.doc_id, CAST(n2 AS BIGINT) AS n_2grams,
      |       CAST(round(dup2 * 1000000.0 / n2) AS BIGINT) / 1000000.0 AS dup_2gram_frac,
      |       CAST(round(top2 * 1000000.0 / n2) AS BIGINT) / 1000000.0 AS top_2gram_frac,
      |       CAST(round(dup3 * 1000000.0 / n3) AS BIGINT) / 1000000.0 AS dup_3gram_frac
      |FROM r2 JOIN r3 USING (doc_id) ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    def snap6(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      round(num * lit(1000000.0) / den).cast("long") / lit(1000000.0)
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.RepetitionStats(TextAnalysis.tokens(col("text"))).as("r"))
      .select(col("doc_id"), col("r.n2").as("n_2grams"),
        snap6(col("r.dup2"), col("r.n2")).as("dup_2gram_frac"),
        snap6(col("r.top2"), col("r.n2")).as("top_2gram_frac"),
        snap6(col("r.dup3"), col("r.n3")).as("dup_3gram_frac"))
      .orderBy("doc_id")
  }

  /** Downsampling weights to an equal-share source mix: for each source,
    * the Bernoulli keep-probability that levels every source to
    * total/n_sources documents (capped at 1 — downsample-only; an
    * up-weighted source repeats epochs instead, which is a trainer
    * decision, not a data op). n_keep is the expected post-sampling doc
    * count. This is the table a data-mix negotiation turns into sampling
    * config, and the companion to text-sample-stratified (which applies
    * a per-stratum rate).
    *
    * Scale: one catalog-sized groupBy; the 1-row total broadcasts.
    * Engine-parity: the weight snaps to integer micro-units computed from
    * exact integers (least in integer space, division last); n_keep is
    * pure integer arithmetic on the snapped weight.
    */
  val textMixWeights: Op = Op.sql(
    "text-mix-weights",
    """WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, count(*) AS n_sources FROM s),
      |w AS (SELECT source, n_docs,
      |        least(1000000, CAST(round(total * 1000000.0 / (n_sources * n_docs)) AS BIGINT)) AS w_e6
      |      FROM s, t)
      |SELECT source, n_docs, w_e6 / 1000000.0 AS weight,
      |       (n_docs * w_e6) // 1000000 AS n_keep
      |FROM w ORDER BY source""".stripMargin
  ) { (s, d) =>
    mixWeightTable(s, d)
      .select(col("source"), col("n_docs"),
        (col("w_e6") / lit(1000000.0)).as("weight"),
        expr("(n_docs * w_e6) div 1000000").as("n_keep"))
      .orderBy("source")
  }

  /** The equal-share mix-weight table (source, n_docs, w_e6) behind
    * [[textMixWeights]] — extracted so PipelineOps' curation composite
    * draws its per-source quota from the SAME negotiated weights
    * (expressions bit-identical to the original inline spelling).
    */
  private[ops] def mixWeightTable(s: SparkSession, d: String): DataFrame = {
    val bySrc = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = bySrc.agg(sum("n_docs").as("total"), count(lit(1)).as("n_sources"))
    bySrc.crossJoin(broadcast(tot))
      .withColumn("w_e6", least(lit(1000000L),
        round(col("total") * lit(1000000.0) / (col("n_sources") * col("n_docs")))
          .cast("long")))
  }

  /** Token-length histogram in log2 buckets ([2^k, 2^(k+1)) per bucket):
    * the power-law length profile a packing / truncation policy is tuned
    * against. The bucket is the BIT LENGTH of the token count
    * (length(bin(n)) = floor(log2 n)+1) — log binning with pure
    * integer→string ops, deliberately avoiding floor(log(n)) whose libm
    * last-ULP differs across engines right at the bucket boundaries.
    *
    * Scale: per-row projection → groupBy over ≤ 63 buckets with map-side
    * combine; the corpus never shuffles, only per-partition partials.
    */
  val textLengthHistogram: Op = Op.sql(
    "text-length-histogram",
    """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents)
      |SELECT CAST(length(bin(n)) AS BIGINT) AS log2_bucket,
      |       count(*) AS n_docs,
      |       min(n) AS min_tokens, max(n) AS max_tokens,
      |       CAST(sum(n) AS BIGINT) AS sum_tokens
      |FROM d GROUP BY log2_bucket ORDER BY log2_bucket""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .groupBy(length(bin(col("n"))).cast("long").as("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min("n").as("min_tokens"), max("n").as("max_tokens"),
        sum("n").as("sum_tokens"))
      .orderBy("log2_bucket")
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    * sketch): the portable polynomial hash over 4-token grams, then the
    * minimum hash of every window of 4 consecutive gram hashes —
    * guarantees at least one fingerprint per window (any match of ≥ 7
    * consecutive tokens between two documents shares a fingerprint),
    * while keeping the sketch ~1/w of the gram stream. Output: one row
    * per distinct selected hash per doc with the first window that
    * selected it.
    *
    * Scale shape: ZERO shuffle — grams, windows, min-selection, and the
    * first-window-per-fp dedup are one native codegen kernel call per
    * row ([[graft.functions.WinnowFingerprints]]); only the final
    * explode leaves the row, and it explodes the ~n/w sketch, not the
    * gram stream. The gram hash is the (h·31 + char) mod (2³¹−1) fold
    * (TextAnalysis.polyHash's family) — exact and engine-portable via
    * DuckDB's list_reduce over the ascii list, and several-fold cheaper
    * than the per-gram md5 it replaced (round-6's largest pure-CPU
    * bench line, 8.8 s at sf0.1).
    */
  /** SQL mirror of the winnowing sketch (k=4-token grams, w=4 windows):
    * the t/g/h/gl/w CTE chain up to the per-window min-fingerprint
    * table `w$sfx` (doc_id, win_pos, fp). Suffixed so a consumer oracle
    * with its own CTE names (dedup-winnowing-eval rides ShingleOracle)
    * can embed it without collisions — one spelling, so a hash or
    * window change can never silently diverge between the sketch op and
    * its blocker eval (the knBackoffLpCte discipline).
    */
  private[ops] def winnowSketchCtes(sfx: String): String =
    s"""t$sfx AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |           WHERE len(string_split(text, ' ')) >= 4),
       |g$sfx AS (SELECT doc_id, i, array_to_string(ws[i:i+3], ' ') AS gram
       |      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 3)) AS i
       |            FROM t$sfx)),
       |h$sfx AS (SELECT doc_id, i,
       |        list_reduce(list_prepend(0::BIGINT,
       |          [ascii(substr(gram, c, 1))::BIGINT
       |           FOR c IN generate_series(1, length(gram))]),
       |          (a, b) -> (a * 31 + b) % 2147483647) AS gh
       |      FROM g$sfx),
       |gl$sfx AS (SELECT doc_id, list(gh ORDER BY i) AS gs FROM h$sfx GROUP BY doc_id),
       |w$sfx AS (SELECT doc_id, CAST(i AS BIGINT) AS win_pos, list_min(gs[i:i+3]) AS fp
       |      FROM (SELECT doc_id, gs, unnest(generate_series(1, greatest(1, len(gs) - 3))) AS i
       |            FROM gl$sfx))""".stripMargin

  lazy val textWinnowing: Op = Op.sql(
    "text-winnowing",
    s"""WITH ${winnowSketchCtes("")}
      |SELECT doc_id, min(win_pos) AS win_pos, CAST(fp AS BIGINT) AS fp
      |FROM w GROUP BY doc_id, fp
      |ORDER BY doc_id, win_pos, fp""".stripMargin
  ) { (s, d) =>
    val K = 4; val W = 4
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= K)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints(col("ws"), K, W)).as("sel"))
      .select(col("doc_id"), col("sel.win_pos").as("win_pos"), col("sel.fp").as("fp"))
      .orderBy("doc_id", "win_pos", "fp")
  }

  /** Bigram collocations ranked by pointwise mutual information, reported
    * as the LIFT (= e^PMI: observed/expected co-occurrence ratio) — the
    * phrase-mining signal a tokenizer/vocab builder reads. Min count 5;
    * top 20 by lift.
    *
    * Engine-parity: lift is computed with DIVISION ONLY (no log —
    * IEEE-exact and identical cross-engine when the expression tree
    * matches, unlike libm ln whose last ULP differs), snapped to integer
    * micro-units, ordered on the snapped value. Ranking by lift IS
    * ranking by PMI (log is monotonic).
    *
    * Scale shape: unigram and bigram counts are groupBys with map-side
    * combine (corpus-sized stream in, vocab-sized tables out); the
    * min-count filter prunes before the two count-table joins; totals
    * broadcast as 1-row frames; TakeOrdered top-k, no global sort.
    */
  val textCollocations: Op = Op.sql(
    "text-collocations",
    """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
      |bi AS (SELECT w1, w2, count(*) AS c_xy
      |       FROM (SELECT ws[i] AS w1, ws[i + 1] AS w2
      |             FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |                   FROM t WHERE len(ws) >= 2))
      |       GROUP BY w1, w2),
      |mm AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bi),
      |j AS (SELECT b.w1, b.w2, b.c_xy, u1.c AS c1, u2.c AS c2
      |      FROM bi b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w
      |      WHERE b.c_xy >= 5)
      |SELECT w1, w2, c_xy,
      |       CAST(round(((c_xy / n_bi) / ((c1 / n_tok) * (c2 / n_tok))) * 1000000.0) AS BIGINT)
      |         / 1000000.0 AS lift
      |FROM j, nn, mm
      |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin
  ) { (s, d) =>
    val t = Tables.documents(s, d).select(TextAnalysis.tokens(col("text")).as("ws"))
    val uni = t.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = t.filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val nTok = uni.agg(sum("c").as("n_tok"))
    val nBi = bi.agg(sum("c_xy").as("n_bi"))
    bi.filter(col("c_xy") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c_xy"),
        (round(((col("c_xy") / col("n_bi")) /
          ((col("c1") / col("n_tok")) * (col("c2") / col("n_tok")))) * lit(1000000.0))
          .cast("long") / lit(1000000.0)).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Heavy hitters through a 4×1024 count-min sketch: token counts folded
    * into a FIXED-size integer sketch (four portable-polynomial hash rows),
    * then the top-20 true tokens re-estimated from the sketch —
    * `est = min over rows of cell` — with the classic one-sided error
    * (`overcount ≥ 0`) visible as a column. The point at 100 TB: the
    * sketch is 4096 cells NO MATTER the corpus or vocabulary size — the
    * shape a streaming/distributed frequency estimator actually ships,
    * vs the exact vocab-sized groupBy (text-token-histogram) it
    * approximates.
    *
    * Scale shape: exact counts reduce corpus→vocab with map-side combine;
    * the sketch build is vocab→4096 (another combine); estimation joins a
    * broadcast-sized top-k against the 4096-cell table. Everything is
    * integer arithmetic — no float anywhere.
    */
  val textHeavyHitters: Op = Op.sql(
    "text-heavy-hitters",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      |h AS (SELECT w, c, list_reduce(list_prepend(0::BIGINT,
      |        [ascii(substr(w, i, 1))::BIGINT FOR i IN generate_series(1, length(w))]),
      |        (a, b) -> (a * 31 + b) % 1000003) AS h
      |      FROM uni),
      |rows_ AS (SELECT unnest(generate_series(0, 3)) AS r),
      |cells AS (SELECT r, ((h * (r * 2 + 1) * 40503 + r * 65537) % 1048573) % 1024 AS bucket,
      |                 CAST(sum(c) AS BIGINT) AS cell
      |          FROM h CROSS JOIN rows_ GROUP BY 1, 2),
      |top AS (SELECT w, c, h FROM h ORDER BY c DESC, w LIMIT 20),
      |est AS (SELECT t.w, t.c, min(cells.cell) AS est_count
      |        FROM top t CROSS JOIN rows_ g
      |        JOIN cells ON cells.r = g.r
      |          AND cells.bucket = ((t.h * (g.r * 2 + 1) * 40503 + g.r * 65537) % 1048573) % 1024
      |        GROUP BY t.w, t.c)
      |SELECT w, c AS true_count, est_count, est_count - c AS overcount
      |FROM est ORDER BY true_count DESC, w""".stripMargin
  ) { (s, d) =>
    val D = 4; val Wd = 1024L
    def bucket(h: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =
      ((h * (r * 2 + 1) * lit(40503L) + r * lit(65537L)) % lit(1048573L)) % Wd
    val uni = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val hashed = uni.withColumn("h", TextAnalysis.polyHash(col("w")))
    val cells = hashed
      .select(col("c"), explode(sequence(lit(0), lit(D - 1))).as("r"), col("h"))
      .withColumn("bucket", bucket(col("h"), col("r")))
      .groupBy("r", "bucket").agg(sum("c").as("cell"))
    val top = hashed.orderBy(col("c").desc, col("w")).limit(20)
    broadcast(top)
      .select(col("w"), col("c"), explode(sequence(lit(0), lit(D - 1))).as("r"), col("h"))
      .withColumn("bucket", bucket(col("h"), col("r")))
      .join(cells, Seq("r", "bucket"))
      .groupBy("w", "c").agg(min("cell").as("est_count"))
      .select(col("w"), col("c").as("true_count"), col("est_count"),
        (col("est_count") - col("c")).as("overcount"))
      .orderBy(col("true_count").desc, col("w"))
  }

  /** Bigram-LM quality scoring: per-doc mean log-probability under a
    * corpus-fit bigram model with add-one smoothing,
    * P(y|x) = (C(x,y)+1)/(C(x)+V) — the next rung above
    * text-unigram-logprob on the CCNet-style LM-filter ladder (a bigram
    * model penalizes scrambled word ORDER, which a unigram model cannot
    * see). Same engine-parity discipline: each distinct bigram's log-prob
    * snaps to integer micro-nats once, and docs integer-sum them
    * (order-exact aggregation).
    *
    * Scale shape: the model is fit on DISTINCT bigrams (corpus stream →
    * vocab²-bounded count tables with map-side combine); the per-doc pass
    * joins the pair stream to the broadcast-sized model and reduces
    * per-doc. Docs under two tokens have no bigrams and drop out, same
    * as the oracle.
    */
  val textBigramLogprob: Op = Op.sql(
    "text-bigram-logprob",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |pr AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t)),
      |cxy AS (SELECT w1, w2, count(*) AS cxy FROM pr GROUP BY 1, 2),
      |cx AS (SELECT w1, count(*) AS cx FROM pr GROUP BY 1),
      |vs AS (SELECT count(DISTINCT w) AS v
      |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
      |lm AS (SELECT w1, w2, CAST(round((ln(cxy + 1) - ln(cx + v)) * 1000000) AS BIGINT) AS lp
      |       FROM cxy JOIN cx USING (w1), vs),
      |d AS (SELECT doc_id, sum(lp) AS slp, count(*) AS n
      |      FROM pr JOIN lm USING (w1, w2) GROUP BY doc_id)
      |SELECT doc_id, n AS n_bigrams,
      |       round(slp / n / 1000000.0, 6) AS mean_logp,
      |       round(exp(-round(slp / n / 1000000.0, 6)), 4) AS ppl_proxy
      |FROM d ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // Rides the KN family's shared bigram stream + persisted cxy model
    // table (round 13): the op previously built its own cxy AND a raw
    // per-w1 count — three corpus bigram passes where knModelTables'
    // cached cxy covers everything (cx == sum of cxy counts per w1, an
    // identity, and lft computes exactly that). One corpus pass for the
    // model shared with the whole LM family, one for the scoring join.
    val pr = docBigramStream(s, d)
    val pairs = pr.select("doc_id", "w1", "w2")
    val (cxy, lft, _) = knModelTables(pr)
    val vsize = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .agg(countDistinct("w").as("v"))
    val lm = cxy.join(lft.select("w1", "cx"), "w1").crossJoin(broadcast(vsize))
      .select(col("w1"), col("w2"),
        round((log(col("cnt") + 1) - log(col("cx") + col("v"))) * 1000000)
          .cast("long").as("lp"))
    val meanLogp = round(col("slp") / col("n") / 1000000.0, 6)
    pairs.join(broadcast(lm), Seq("w1", "w2"))
      .groupBy("doc_id").agg(sum("lp").as("slp"), count(lit(1)).as("n"))
      .select(col("doc_id"), col("n").as("n_bigrams"),
        meanLogp.as("mean_logp"),
        round(exp(-meanLogp), 4).as("ppl_proxy"))
      .orderBy("doc_id")
  }

  /** Content-defined chunking at token grain (the FastCDC/rsync idea:
    * cut where a rolling window's hash hits a divisor, so chunk
    * boundaries survive insertions — unlike fixed-size chunking where
    * one added token shifts every later boundary). A boundary lands
    * after token i when the 4-token window hash ≡ 0 (mod 16); every
    * chunk is then md5'd and counted corpus-wide — the sub-document
    * dedup unit (two docs sharing a paragraph share its chunks even at
    * different offsets).
    *
    * Scale shape: boundary detection, cut assembly and chunk extraction
    * are row-local array ops (zero shuffle); the only corpus shuffle is
    * the md5-keyed chunk count (map-side combine; a boilerplate chunk in
    * a billion docs aggregates to one row) and its AQE-splittable join
    * back.
    */
  val textCdcChunks: Op = Op.sql(
    "text-cdc-chunks",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |th AS (SELECT doc_id, ws, len(ws) AS n,
      |        [list_reduce(list_prepend(0::BIGINT,
      |           [ascii(substr(w, j, 1))::BIGINT FOR j IN generate_series(1, length(w))]),
      |           (a, x) -> (a * 31 + x) % 1000003) FOR w IN ws] AS h
      |       FROM t),
      |b AS (SELECT doc_id, ws, n,
      |        [i FOR i IN generate_series(4, n)
      |         IF i < n AND
      |            list_reduce(list_prepend(0::BIGINT, h[i-3:i]),
      |              (a, x) -> (a * 31 + x) % 1000003) % 16 = 0] AS bounds
      |      FROM th),
      |cuts AS (SELECT doc_id, ws, list_prepend(0::BIGINT, list_append(bounds, n::BIGINT)) AS cs
      |         FROM b),
      |ch AS (SELECT doc_id,
      |         CAST(k AS BIGINT) AS chunk_no,
      |         cs[k] + 1 AS t_start, cs[k + 1] AS t_end,
      |         md5(array_to_string(ws[CAST(cs[k] + 1 AS INTEGER):CAST(cs[k + 1] AS INTEGER)], ' ')) AS chunk_hash
      |       FROM (SELECT doc_id, ws, cs, unnest(generate_series(1, len(cs) - 1)) AS k FROM cuts)),
      |dup AS (SELECT chunk_hash, count(*) AS n_dups FROM ch GROUP BY 1)
      |SELECT ch.doc_id, ch.chunk_no, CAST(ch.t_start AS BIGINT) AS t_start,
      |       CAST(ch.t_end AS BIGINT) AS t_end,
      |       CAST(ch.t_end - ch.t_start + 1 AS BIGINT) AS n_tokens,
      |       ch.chunk_hash, dup.n_dups
      |FROM ch JOIN dup USING (chunk_hash)
      |ORDER BY doc_id, chunk_no""".stripMargin
  ) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
    // the codegen kernel returns the full cut list [0, b₁, …, n]
    val chunks = t
      .withColumn("cs", graft.functions.CdcCuts(col("ws")))
      .select(col("doc_id"), col("ws"),
        posexplode(transform(sequence(lit(1), size(col("cs")) - 1),
          k => struct(
            (element_at(col("cs"), k) + 1).as("t_start"),
            element_at(col("cs"), k + 1).as("t_end")))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_no"),
        col("col.t_start").as("t_start"), col("col.t_end").as("t_end"),
        md5(concat_ws(" ",
          slice(col("ws"), col("col.t_start").cast("int"),
            (col("col.t_end") - col("col.t_start") + 1).cast("int")))).as("chunk_hash"))
    val dup = chunks.groupBy("chunk_hash").agg(count(lit(1)).as("n_dups"))
    chunks.join(dup, "chunk_hash")
      .select(col("doc_id"), col("chunk_no"), col("t_start"), col("t_end"),
        (col("t_end") - col("t_start") + 1).as("n_tokens"),
        col("chunk_hash"), col("n_dups"))
      .orderBy("doc_id", "chunk_no")
  }

  /** Per-document TF-IDF top terms: each doc's 5 most characteristic
    * tokens by tf × (N/df) — the rational-form idf (rank-equivalent to
    * tf·log(N/df) since log is monotonic and tf ≥ 1 ties resolve the
    * same), so scoring is DIVISION-ONLY and IEEE-exact cross-engine,
    * snapped at micro grain. The keyword-extraction primitive behind
    * tagging, routing and topic seeding.
    *
    * Scale shape: tf and df reduce the token stream with map-side
    * combine; the df join keys on the term (vocab-sized right side,
    * AQE-splittable); the corpus-count broadcasts; ranking windows per
    * doc_id — doc-grained, never a global funnel.
    */
  val textTfidfTopk: Op = Op.sql(
    "text-tfidf-topk",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM documents),
      |sc AS (SELECT doc_id, w AS term, tf,
      |         CAST(round(tf * (n / df) * 1000000.0) AS BIGINT) AS score_e6
      |       FROM tf JOIN df USING (w), nn),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                                    ORDER BY score_e6 DESC, term) AS rank
      |       FROM sc)
      |SELECT doc_id, term, tf, score_e6 / 1000000.0 AS score,
      |       CAST(rank AS BIGINT) AS rank
      |FROM rk WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    // df derives FROM tf (round 13): tf rows are the distinct (doc, term)
    // pairs, so count-per-term over tf == count(DISTINCT doc_id) over the
    // raw token stream — and spelling it this way makes the two consumers'
    // token-explode subtrees identical, so the corpus explodes ONCE
    // (ReusedExchange; the old distinct-then-count spelling aggregated
    // differently and re-exploded the corpus a second time).
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nn = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val sc = tf.join(df, "w").crossJoin(broadcast(nn))
      .select(col("doc_id"), col("w").as("term"), col("tf"),
        round(col("tf") * (col("n") / col("df")) * lit(1000000.0))
          .cast("long").as("score_e6"))
    val rankW = Window.partitionBy("doc_id").orderBy(col("score_e6").desc, col("term"))
    sc.withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("term"), col("tf"),
        (col("score_e6") / lit(1000000.0)).as("score"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  /** Distribution drift per source: total-variation distance between each
    * source's unigram distribution and the whole corpus's —
    * TVD = ½·Σ|p_s(w) − p(w)| over the corpus vocabulary (terms a source
    * lacks contribute their full corpus mass). The data-mix monitoring
    * signal: a source whose language shifted (or was contaminated) drifts
    * before any downstream metric moves. TVD instead of KL/JSD on
    * purpose: absolute values and divisions only — IEEE-exact
    * cross-engine, no libm log — with per-term contributions snapped to
    * integer pico-units so the vocabulary sum is order-free.
    *
    * Scale shape: all three count tables reduce with map-side combine;
    * the evaluation grid is #sources × vocabulary (distributed, never
    * the corpus stream); the 1-row corpus total broadcasts.
    */
  val textSourceDrift: Op = Op.sql(
    "text-source-drift",
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |cw AS (SELECT w, count(*) AS c_w FROM tok GROUP BY 1),
      |nn AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM cw),
      |ns AS (SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
      |sw AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY 1, 2),
      |grid AS (SELECT ns.source, ns.n_s, cw.w, cw.c_w,
      |                coalesce(sw.c_sw, 0) AS c_sw
      |         FROM ns CROSS JOIN cw
      |         LEFT JOIN sw ON sw.source = ns.source AND sw.w = cw.w),
      |term AS (SELECT source, n_s,
      |           CAST(round(abs(c_sw / n_s - c_w / n) * 1000000000000.0) AS BIGINT) AS d_e12
      |         FROM grid, nn)
      |SELECT source, CAST(min(n_s) AS BIGINT) AS n_tokens,
      |       CAST(round(sum(d_e12) / 2000000.0) AS BIGINT) / 1000000.0 AS tvd
      |FROM term GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
    val cw = tok.groupBy("w").agg(count(lit(1)).as("c_w"))
    val nn = cw.agg(sum("c_w").as("n"))
    val ns = tok.groupBy("source").agg(count(lit(1)).as("n_s"))
    val sw = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    ns.crossJoin(cw)
      .join(sw, Seq("source", "w"), "left")
      .withColumn("c_sw", coalesce(col("c_sw"), lit(0L)))
      .crossJoin(broadcast(nn))
      .select(col("source"), col("n_s"),
        round(abs(col("c_sw") / col("n_s") - col("c_w") / col("n"))
          * lit(1000000000000.0)).cast("long").as("d_e12"))
      .groupBy("source")
      .agg(min("n_s").as("n_tokens"), sum("d_e12").as("sd"))
      .select(col("source"), col("n_tokens"),
        (round(col("sd") / lit(2000000.0)).cast("long") / lit(1000000.0)).as("tvd"))
      .orderBy("source")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the mean per-token log-ratio of a target-domain unigram LM (here the
    * `en` slice plays the target) over the raw-corpus unigram LM, both
    * add-one smoothed on the shared vocabulary. High scores mark documents
    * whose token distribution looks like the target domain — the weights a
    * resampling pass then draws against.
    *
    * Scale shape: two token-stream groupBys with map-side combine (target
    * counts and raw counts), a vocabulary-sized LM table that BROADCASTS to
    * the scoring join (the corpus token stream never shuffles for scoring),
    * and the house micro-nat snap: per-token log-ratios round to integer
    * micro-nats BEFORE the per-doc sum, so the aggregate is an exact
    * integer in any partial-merge order.
    */
  val textDsir: Op = Op.sql(
    "text-dsir",
    """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |              FROM documents),
      |raw AS (SELECT w, count(*) AS cr FROM toks GROUP BY w),
      |tgt AS (SELECT w, count(*) AS ct FROM toks WHERE lang = 'en' GROUP BY w),
      |tot AS (SELECT count(*) AS tr,
      |               count(*) FILTER (WHERE lang = 'en') AS tt,
      |               count(DISTINCT w) AS vsz
      |        FROM toks),
      |lm AS (SELECT raw.w,
      |              CAST(round((ln(coalesce(ct, 0) + 1) - ln(tt + vsz)
      |                          - ln(cr + 1) + ln(tr + vsz)) * 1000000)
      |                   AS BIGINT) AS lp
      |       FROM raw LEFT JOIN tgt ON raw.w = tgt.w CROSS JOIN tot),
      |sc AS (SELECT doc_id, sum(lp) AS slp, count(*) AS n
      |       FROM toks JOIN lm USING (w) GROUP BY doc_id)
      |SELECT doc_id, n AS n_tokens,
      |       CAST(round(slp * 1.0 / n) AS BIGINT) / 1000000.0 AS dsir_logratio
      |FROM sc ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
    val raw = toks.groupBy("w").agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("lang") === "en").groupBy("w").agg(count(lit(1)).as("ct"))
    val tot = toks.agg(count(lit(1)).as("tr"),
      count(when(col("lang") === "en", 1)).as("tt"),
      countDistinct("w").as("vsz"))
    val lm = raw.join(tgt, Seq("w"), "left").crossJoin(broadcast(tot))
      .select(col("w"),
        round((log(coalesce(col("ct"), lit(0)) + 1) - log(col("tt") + col("vsz"))
          - log(col("cr") + 1) + log(col("tr") + col("vsz"))) * 1000000)
          .cast("long").as("lp"))
    toks.join(broadcast(lm), Seq("w"))
      .groupBy("doc_id")
      .agg(sum("lp").as("slp"), count(lit(1)).as("n"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        // Integer micro-snap, not round(double, 6): a log RATIO crosses
        // zero, and round(-4e-10, 6) is -0.0 in DuckDB but 0.0 through
        // Spark's BigDecimal — the signed-zero hash mismatch surfaced at
        // sf0.1. A BIGINT has no -0, so the snap is sign-safe.
        (round(col("slp") * lit(1.0) / col("n")).cast("long") /
          lit(1000000.0)).as("dsir_logratio"))
      .orderBy("doc_id")
  }

  /** Apply the data-mix: draw a deterministic per-source document quota
    * against a fixed per-source token budget (B = 1000 tokens). Where
    * text-mix-weights REPORTS the negotiated weights, this op EXECUTES
    * them: quota_s = ceil(n_docs_s × min(1, B / tokens_s)) — all-integer
    * arithmetic, so the quota is bit-identical on every engine — and the
    * quota is filled in md5(doc_id) order, the same seedless deterministic
    * draw text-sample-uniform uses (re-running the pipeline on the same
    * corpus selects the same documents).
    *
    * Scale shape: the per-source stats table is catalog-sized and
    * BROADCASTS; ranking is a window partitioned by source (no global
    * sort). A pathological single-source corpus would funnel that window
    * to one task — at that shape switch the rank to the salted two-phase
    * top-k used by topk-largest-group; for real multi-source mixes the
    * source partitioning is the natural parallelism.
    */
  val textMixApply: Op = Op.sql(
    "text-mix-apply",
    """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      |           FROM documents),
      |st AS (SELECT source, count(*) AS nd, CAST(sum(n_tokens) AS BIGINT) AS tok
      |       FROM d GROUP BY source),
      |q AS (SELECT source,
      |             CASE WHEN tok <= 1000 THEN nd
      |                  ELSE (nd * 1000 + tok - 1) // tok END AS quota
      |      FROM st),
      |r AS (SELECT doc_id, source, n_tokens,
      |             row_number() OVER (PARTITION BY source
      |               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM d)
      |SELECT r.doc_id, r.source, CAST(r.n_tokens AS BIGINT) AS n_tokens,
      |       CAST(r.rk AS BIGINT) AS rk
      |FROM r JOIN q ON r.source = q.source AND r.rk <= q.quota
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val budget = 1000L
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val st = docs.groupBy("source")
      .agg(count(lit(1)).as("nd"), sum("n_tokens").as("tok"))
    val quotas = st.select(col("source"),
      when(col("tok") <= budget, col("nd"))
        .otherwise(expr(s"(nd * $budget + tok - 1) div tok")).as("quota"))
    val ranked = docs.withColumn("rk",
      row_number().over(Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long"))
    ranked.join(broadcast(quotas), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rk"))
      .orderBy("doc_id")
  }

  /** Hashing-trick document features (Weinberger et al. 2009): project the
    * bag-of-words onto a fixed 16-bucket space keyed by md5(token) — the
    * featurizer that turns raw text into a dense-ish integer vector with
    * NO vocabulary table at all (no fit step, no dictionary to ship), the
    * standard trick for training quality classifiers over web-scale
    * corpora. Output is the exploded (doc_id, dim, tf) table — integer
    * term frequencies, array-free by house rule — which feeds the
    * sim-tier ops directly.
    *
    * Scale shape: one token explode → groupBy(doc_id, dim) with map-side
    * combine; output is ≤16 rows per document. No joins, no broadcast, no
    * vocabulary state: the hash IS the dictionary, which is what makes
    * this featurizer viable at 100 TB where a fitted vocabulary would be
    * a multi-billion-row table.
    */
  val textHashEmbedding: Op = Op.sql(
    "text-hash-embedding",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |              FROM documents)
      |SELECT doc_id,
      |       CAST(CAST(concat('0x', substr(md5(w), 1, 4)) AS UBIGINT) % 16
      |            AS BIGINT) AS dim,
      |       count(*) AS tf
      |FROM toks GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long") % 16).as("dim"))
      .groupBy("doc_id", "dim")
      .agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "dim")
  }

  /** Quality-filter calibration: bucket every document into deciles of its
    * mean unigram log-probability (the text-unigram-logprob score) and
    * report each bucket's population and score range — the table a
    * threshold decision ("drop the bottom two deciles") is read off.
    *
    * Cross-engine bucketing safety: scores are INTEGER micro-nats, decile
    * boundaries come from exact linear-interpolation percentile (Spark
    * `percentile` ≡ DuckDB `quantile_cont`). A boundary either equals an
    * order statistic exactly (frac = 0 — both engines return the datum
    * verbatim) or lies strictly BETWEEN two adjacent integer order
    * statistics (both engines' values differ at most in ULPs but stay
    * inside the open interval, where no integer score lives) — so
    * `boundary <= score` is engine-stable without rounding games.
    *
    * Scale shape: the scoring pass is the broadcast-LM shape of
    * text-unigram-logprob; the percentile is one aggregation to a single
    * 9-element row that BROADCASTS back; bucket assignment is a per-row
    * 9-element filter (no window, no sort — at 100 TB swap the exact
    * percentile for approx_percentile and nothing else changes).
    */
  val textQualityDeciles: Op = Op.sql(
    "text-quality-deciles",
    s"""WITH ${unigramDecileCtes("sc", "a")}
      |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
      |       min(mean_u) AS lo_u, max(mean_u) AS hi_u
      |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    unigramDecileBuckets(s, d)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min("mean_u").as("lo_u"), max("mean_u").as("hi_u"))
      .orderBy("bucket")
  }

  /** Per-document unigram-logprob decile bucket (doc_id, mean_u, bucket)
    * — the scoring+bucketing subtree of text-quality-deciles, extracted
    * so text-classifier-score can calibrate against the SAME buckets
    * (round 8). Expressions are bit-identical to the round-6 inline
    * spelling; the decile-boundary cross-engine argument lives on
    * [[textQualityDeciles]].
    */
  /** SQL mirror of [[unigramDecileBuckets]]: the toks/v/t/lm chain plus
    * the per-doc score CTE (named `scoreCte`), the 1-row decile-boundary
    * CTE `b` and the bucket CTE (named `bucketCte`, carrying doc_id,
    * mean_u, bucket). Names are parameterized so consumer oracles with
    * their own CTE namespaces embed it without collisions — ONE
    * spelling shared by text-quality-deciles, text-classifier-score,
    * pipeline-curation-e2e and pipeline-order-sensitivity (the
    * ClusterOracle discipline: a bucket-rule change can never silently
    * diverge per op).
    */
  private[ops] def unigramDecileCtes(scoreCte: String, bucketCte: String): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |v AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
       |t AS (SELECT count(*) AS tot FROM toks),
       |lm AS (SELECT w, CAST(round((ln(cnt) - ln(tot)) * 1000000) AS BIGINT) AS lp
       |       FROM v, t),
       |$scoreCte AS (SELECT doc_id,
       |              CAST(round(sum(lp) * 1.0 / count(*)) AS BIGINT) AS mean_u
       |       FROM toks JOIN lm USING (w) GROUP BY doc_id),
       |b AS (SELECT quantile_cont(mean_u,
       |               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds
       |      FROM $scoreCte),
       |$bucketCte AS (SELECT doc_id, mean_u,
       |             len(list_filter(bnds, x -> x <= mean_u)) AS bucket
       |      FROM $scoreCte, b)""".stripMargin

  private[graft] def unigramDecileBuckets(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    StageMemo(s, d, "documents", "unigram-deciles") {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      // total derives FROM vocab (round 13): sum of per-word counts == the
      // raw token count — one fewer corpus explode (the model pass and the
      // scoring join below remain the standard two corpus passes).
      val total = vocab.agg(sum("cnt").cast("long").as("tot"))
      val lm = vocab.crossJoin(broadcast(total))
        .select(col("w"),
          round((log(col("cnt")) - log(col("tot"))) * 1000000).cast("long").as("lp"))
      // scores persists (round 13): it feeds both the percentile-boundary
      // agg and the final bucketing (2× the whole scoring pipeline without
      // a cache). The bucket table itself is the stage FOUR ops consume
      // (text-quality-deciles, text-classifier-score,
      // pipeline-curation-e2e, pipeline-order-sensitivity). Both are
      // doc-count-sized (two/three longs per row).
      val scores = toks.join(broadcast(lm), Seq("w"))
        .groupBy("doc_id")
        .agg(round(sum("lp") * lit(1.0) / count(lit(1))).cast("long").as("mean_u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bnds = scores.agg(
        expr("percentile(mean_u, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))")
          .as("bnds"))
      scores.crossJoin(broadcast(bnds))
        .select(col("doc_id"), col("mean_u"),
          size(filter(col("bnds"), x => x <= col("mean_u"))).cast("long").as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Language-ID classifier evaluation: the confusion table of the truth
    * label vs the langGuess heuristic, with per-cell corpus share and the
    * per-truth-class hit rate — the QA report that decides whether the
    * cheap classifier is good enough to gate the mix on. Counts are a
    * languages²-sized groupBy (tiny at any corpus size, map-side combine
    * does the work); shares snap to integer micro-units against broadcast
    * totals.
    */
  val textLangidEval: Op = Op.sql(
    "text-langid-eval",
    """WITH g AS (SELECT lang,
      |  CASE WHEN len(list_filter(string_split(text, ' '),
      |       w -> w IN ('the','a','of','and','to','in','is'))) > 0
      |       THEN 'en' ELSE 'unk' END AS guess
      |  FROM documents),
      |c AS (SELECT lang, guess, count(*) AS n FROM g GROUP BY lang, guess),
      |cls AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_class FROM c GROUP BY lang),
      |t AS (SELECT count(*) AS total FROM documents)
      |SELECT c.lang, c.guess, c.n,
      |       CAST(round(c.n * 1000000.0 / t.total) AS BIGINT) / 1000000.0 AS share,
      |       CAST(round(c.n * 1000000.0 / cls.n_class) AS BIGINT) / 1000000.0
      |         AS class_frac
      |FROM c JOIN cls ON c.lang = cls.lang CROSS JOIN t
      |ORDER BY c.lang, guess""".stripMargin
  ) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("lang"), TextAnalysis.langGuess(col("text")).as("guess"))
    val c = g.groupBy("lang", "guess").agg(count(lit(1)).as("n"))
    val cls = c.groupBy("lang").agg(sum("n").as("n_class"))
    val t = g.agg(count(lit(1)).as("total"))
    c.join(broadcast(cls), Seq("lang")).crossJoin(broadcast(t))
      .select(col("lang"), col("guess"), col("n"),
        (round(col("n") * lit(1000000.0) / col("total")).cast("long")
          / lit(1000000.0)).as("share"),
        (round(col("n") * lit(1000000.0) / col("n_class")).cast("long")
          / lit(1000000.0)).as("class_frac"))
      .orderBy("lang", "guess")
  }

  /** BPE tokenizer-training merge step: the frequency of every adjacent
    * character pair inside words, weighted by word frequency — the count
    * table whose argmax IS the next BPE merge (Sennrich et al. 2016; one
    * round shown, the trainer loop re-runs it over the merged vocab).
    * Top-20 by count, pair-lexicographic tiebreak.
    *
    * Scale shape: pair counting runs over the VOCABULARY (one groupBy of
    * the token stream with map-side combine collapses the corpus to
    * distinct words first — a 100 TB corpus has a ~10M-row vocab), and the
    * pair table is alphabet²-bounded, so the second aggregation is
    * trivially small; the top-20 is a TakeOrderedAndProject, never a
    * global sort. Words shorter than 2 chars are filtered BEFORE the
    * `sequence` call (Spark generates descending sequences for b < a
    * where DuckDB returns empty).
    */
  val textBpePairs: Op = Op.sql(
    "text-bpe-pairs",
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT w, count(*) AS freq FROM toks GROUP BY w),
      |p AS (SELECT substr(w, i, 2) AS pair, freq
      |      FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
      |            FROM v WHERE length(w) >= 2))
      |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair
      |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
  }

  /** Term-blocklist safety filter — the policy stage every production
    * corpus passes through (brand-safety / NSFW / PII-adjacent term
    * lists): per document, how many blocklist terms appear, total
    * occurrences, and the drop verdict (≥ 4 distinct terms AND ≥ 12
    * occurrences — conjunctive so one boilerplate word can't nuke a doc).
    * The 8-term list stands in for a config-distributed lexicon.
    *
    * Scale shape: pure row-local projection — each term's count is a
    * filter over the doc's own token array; the blocklist ships as plan
    * literals (a real lexicon broadcasts). Zero shuffle, no explode: the
    * corpus token stream never leaves its row.
    */
  val textBlocklistFilter: Op = {
    val terms = Seq("scan", "window", "join", "query", "merge", "sort", "agg", "key")
    val perTermSql = terms.map(t =>
      s"len(list_filter(ws, x -> x = '$t'))").mkString("[", ", ", "]")
    Op.sql(
      "text-blocklist-filter",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |c AS (SELECT doc_id, $perTermSql AS cnts FROM t)
         |SELECT doc_id,
         |       CAST(len(list_filter(cnts, x -> x > 0)) AS BIGINT) AS n_terms_hit,
         |       CAST(list_sum(cnts) AS BIGINT) AS n_occurrences,
         |       (len(list_filter(cnts, x -> x > 0)) >= 4 AND list_sum(cnts) >= 12)
         |         AS drop_doc
         |FROM c ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val ws = TextAnalysis.tokens(col("text"))
      val cnts = array(terms.map(t =>
        size(filter(ws, x => x === lit(t)))): _*)
      Tables.documents(s, d)
        .select(col("doc_id"), cnts.as("cnts"))
        .select(col("doc_id"),
          size(filter(col("cnts"), x => x > 0)).cast("long").as("n_terms_hit"),
          aggregate(col("cnts"), lit(0L), (a, x) => a + x).as("n_occurrences"))
        .select(col("doc_id"), col("n_terms_hit"), col("n_occurrences"),
          (col("n_terms_hit") >= 4 && col("n_occurrences") >= 12).as("drop_doc"))
        .orderBy("doc_id")
    }
  }

  /** Paragraph-grain language segmentation: per document (≥ 10 tokens),
    * each non-overlapping 10-token block gets the stopword language guess
    * of text-lang-id, and the doc reports block counts per language,
    * adjacent-block switches, and the mixed-language verdict — the signal
    * for splitting or dropping code-switching / boilerplate-stitched
    * documents that a DOC-level language ID averages away.
    *
    * Scale shape: entirely row-local — a document's blocks live in its
    * own token array, so guesses, counts and the switch scan are one
    * projection (indexed HOFs over a per-row boolean array; the `when`
    * guards keep Spark's descending `sequence` away from short docs).
    * ZERO shuffle beyond the output ordering.
    */
  val textLangSegments: Op = Op.sql(
    "text-lang-segments",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |                  len(string_split(text, ' ')) // 10 AS nb
      |           FROM documents WHERE len(string_split(text, ' ')) >= 10),
      |g AS (SELECT doc_id, nb,
      |             [len(list_filter(ws[i*10+1:i*10+10],
      |                  w -> w IN ('the','a','of','and','to','in','is'))) > 0
      |              FOR i IN generate_series(0, nb - 1)] AS gs
      |      FROM t)
      |SELECT doc_id, CAST(nb AS BIGINT) AS n_blocks,
      |       CAST(len(list_filter(gs, x -> x)) AS BIGINT) AS n_en_blocks,
      |       CAST(CASE WHEN nb < 2 THEN 0
      |                 ELSE len(list_filter(generate_series(2, nb),
      |                          i -> gs[i] <> gs[i-1])) END AS BIGINT) AS n_switches,
      |       (len(list_filter(gs, x -> x)) > 0 AND
      |        len(list_filter(gs, x -> x)) < nb) AS is_mixed
      |FROM g ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val b = 10
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val ws = TextAnalysis.tokens(col("text"))
    val nb = (size(col("ws")) / b).cast("int")
    Tables.documents(s, d)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= b)
      .select(col("doc_id"), nb.as("nb"),
        transform(sequence(lit(0), nb - 1),
          i => exists(slice(col("ws"), i * b + 1, lit(b)),
            w => w.isin(stop: _*))).as("gs"))
      .select(col("doc_id"), col("nb").cast("long").as("n_blocks"),
        size(filter(col("gs"), x => x)).cast("long").as("n_en_blocks"),
        when(col("nb") < 2, lit(0L))
          .otherwise(size(filter(sequence(lit(2), col("nb")),
            i => element_at(col("gs"), i) =!= element_at(col("gs"), i - 1)))
            .cast("long")).as("n_switches"),
        col("nb"), col("gs"))
      .select(col("doc_id"), col("n_blocks"), col("n_en_blocks"), col("n_switches"),
        (col("n_en_blocks") > 0 && col("n_en_blocks") < col("n_blocks"))
          .as("is_mixed"))
      .orderBy("doc_id")
  }

  /** Per-document lexical diversity: token count, type count, type-token
    * ratio and Shannon token entropy — the diversity signal that separates
    * template/boilerplate pages (low entropy at any length) from natural
    * prose, used alongside text-quality in filter ladders.
    *
    * Scale shape: ZERO shuffle — every statistic is a function of the
    * row's own token array, computed by a native codegen kernel
    * ([[graft.functions.TokenEntropy]]); the naive explode → groupBy(doc,
    * w) → groupBy(doc) spelling shuffles the corpus token stream twice
    * for what is a per-row map. Float discipline: one ln per TYPE snapped
    * to integer micro-nats before any summation (order-free), one final
    * division snapped at micro grain — the text-unigram-logprob pattern.
    */
  val textEntropy: Op = Op.sql(
    "text-entropy",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |cnt AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
      |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
      |per AS (SELECT c.doc_id, n.n AS n_tokens, CAST(count(*) AS BIGINT) AS n_types,
      |               CAST(sum(c.c * CAST(round(ln(n.n * 1.0 / c.c) * 1000000) AS BIGINT))
      |                    AS BIGINT) AS s_e6
      |        FROM cnt c JOIN n ON c.doc_id = n.doc_id GROUP BY c.doc_id, n.n)
      |SELECT doc_id, n_tokens, n_types,
      |       CAST(round(n_types * 1000000.0 / n_tokens) AS BIGINT) / 1000000.0 AS ttr,
      |       CAST(round(s_e6 * 1.0 / n_tokens) AS BIGINT) / 1000000.0 AS entropy
      |FROM per ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TokenEntropy(TextAnalysis.tokens(col("text"))).as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.n_types").as("n_types"),
        (round(col("e.n_types") * lit(1000000.0) / col("e.n_tokens")).cast("long") /
          lit(1000000.0)).as("ttr"),
        (round(col("e.sum_e6") * lit(1.0) / col("e.n_tokens")).cast("long") /
          lit(1000000.0)).as("entropy"))
      .orderBy("doc_id")
  }

  /** Retrieval chunking with overlap (the RAG indexing unit): 64-token
    * windows at stride 48 (16-token overlap so no answer span straddles a
    * boundary unseen), each chunk hashed for downstream dedup/indexing.
    * Complements text-cdc-chunks (content-defined boundaries for dedup)
    * and text-pack-sequences (training-batch packing) — this is the
    * retrieval-index unit.
    *
    * Scale shape: boundary arithmetic and chunk extraction are row-local
    * array ops (transform + posexplode over the row's own token array) —
    * zero shuffle; the output is chunk-grained, ~n_tokens/48 rows per doc.
    */
  val textChunkOverlap: Op = Op.sql(
    "text-chunk-overlap",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |           FROM documents),
      |c AS (SELECT doc_id, ws, n,
      |             CASE WHEN n <= 64 THEN 0 ELSE (n - 17) // 48 END AS extra FROM t),
      |ch AS (SELECT doc_id, ws, n, k,
      |              CAST(k * 48 + 1 AS BIGINT) AS t_start,
      |              CAST(least(k * 48 + 64, n) AS BIGINT) AS t_end
      |       FROM (SELECT doc_id, ws, n, unnest(generate_series(0, extra)) AS k FROM c))
      |SELECT doc_id, CAST(k + 1 AS BIGINT) AS chunk_no, t_start, t_end,
      |       t_end - t_start + 1 AS n_tokens,
      |       md5(array_to_string(ws[CAST(t_start AS INTEGER):CAST(t_end AS INTEGER)], ' '))
      |         AS chunk_hash
      |FROM ch ORDER BY doc_id, chunk_no""".stripMargin
  ) { (s, d) =>
    val (w, st) = (64, 48)
    val n = size(col("ws")).cast("long")
    // extra = ceil((n-64)/48) for n > 64, via integer floor((n-17)/48);
    // the n<=64 branch guards Spark's descending sequence on short rows.
    val extra = when(n <= w, lit(0L))
      .otherwise(floor((n - lit(w - st + 1)) / lit(st)).cast("long"))
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), n.as("n"),
        posexplode(transform(sequence(lit(0L), extra),
          k => struct((k * st + 1).as("t_start"),
            least(k * st + w, n).as("t_end")))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_no"),
        col("col.t_start").as("t_start"), col("col.t_end").as("t_end"),
        (col("col.t_end") - col("col.t_start") + 1).as("n_tokens"),
        md5(concat_ws(" ", slice(col("ws"), col("col.t_start").cast("int"),
          (col("col.t_end") - col("col.t_start") + 1).cast("int")))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_no")
  }

  /** Temperature-scaled source mixture (the multilingual-sampling rule:
    * p_s ∝ p_raw^α flattens head sources and lifts the tail): α = 0.5, so
    * the scaled mass is sqrt(n_s) — chosen because IEEE sqrt is exact on
    * both engines where pow(x, 0.3) is libm-approximated. Each source's
    * sqrt snaps to integer micro-units BEFORE the normalizing sum (the
    * order-free integer-sum discipline), and both the raw and tempered
    * shares snap at micro grain.
    *
    * Scale shape: one map-side-combined groupBy to source grain
    * (catalog-sized), a 1-row total broadcast — the corpus stream never
    * shuffles.
    */
  val textMixTemperature: Op = Op.sql(
    "text-mix-temperature",
    """WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |r AS (SELECT source, n_docs,
      |             CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS r_e6 FROM per),
      |tot AS (SELECT CAST(sum(r_e6) AS BIGINT) AS tot,
      |               CAST(sum(n_docs) AS BIGINT) AS nt FROM r)
      |SELECT source, n_docs,
      |       CAST(round(n_docs * 1000000.0 / nt) AS BIGINT) / 1000000.0 AS p_raw,
      |       CAST(round(r_e6 * 1000000.0 / tot) AS BIGINT) / 1000000.0 AS p_temp
      |FROM r, tot ORDER BY source""".stripMargin
  ) { (s, d) =>
    val per = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("r_e6", round(sqrt(col("n_docs")) * 1000000).cast("long"))
    val tot = per.agg(sum("r_e6").as("tot"), sum("n_docs").as("nt"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (round(col("n_docs") * lit(1000000.0) / col("nt")).cast("long") /
          lit(1000000.0)).as("p_raw"),
        (round(col("r_e6") * lit(1000000.0) / col("tot")).cast("long") /
          lit(1000000.0)).as("p_temp"))
      .orderBy("source")
  }

  /** row_number over (c desc, w) on a CAPPED head, without a window: the
    * top-`cap` rows (TakeOrderedAndProject — the vocabulary is never
    * globally sorted) fold into ONE sorted array (struct sorts by -c
    * then w = the rank order) and posexplode back out; the 1-indexed
    * position IS the rank. Shared by text-vocab-coverage and
    * text-rank-freq-curve — the subtle negated-count struct sort lives
    * in exactly one place. Output columns: rk, w, c.
    */
  private def rankedHead(cnt: org.apache.spark.sql.DataFrame,
      cap: Int): org.apache.spark.sql.DataFrame =
    cnt.orderBy(col("c").desc, col("w")).limit(cap)
      .agg(array_sort(collect_list(struct((-col("c")).as("nc"),
        col("w").as("w"), col("c").as("c")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("rk"),
        col("x.w").as("w"), col("x.c").as("c"))

  /** Vocabulary-coverage curve: for each candidate vocabulary size K, the
    * fraction of all corpus token OCCURRENCES covered by the top-K types
    * — the table read before fixing a tokenizer's vocab size or an OOV
    * policy (where does coverage plateau?).
    *
    * Scale shape: the count table reduces the token stream with map-side
    * combine; the top-5000 head comes off it via TakeOrderedAndProject
    * (per-partition partial top-k — the vocabulary is never globally
    * sorted, which matters when web junk makes it billions of types);
    * ranking then happens ROW-LOCALLY over the capped head (one ≤ max(K)-
    * element array_sort + posexplode — no window at all, not even a
    * bounded one), and the denominator is a 1-row broadcast.
    */
  val textVocabCoverage: Op = Op.sql(
    "text-vocab-coverage",
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM cnt),
      |rk AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM cnt),
      |ks AS (SELECT CAST(unnest([100, 500, 1000, 2000, 5000]) AS BIGINT) AS k)
      |SELECT k,
      |       CAST(sum(CASE WHEN rk <= k THEN c ELSE 0 END) AS BIGINT) AS covered,
      |       tot AS total,
      |       CAST(round(sum(CASE WHEN rk <= k THEN c ELSE 0 END) * 1000000.0 / tot)
      |            AS BIGINT) / 1000000.0 AS coverage
      |FROM rk, ks, tot GROUP BY k, tot ORDER BY k""".stripMargin
  ) { (s, d) =>
    val ks = Seq(100, 500, 1000, 2000, 5000)
    val cnt = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val head = rankedHead(cnt, ks.max).select("rk", "c")
    val tot = cnt.agg(sum("c").as("total"))
    head
      .select(explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"),
        col("rk"), col("c"))
      .groupBy("k")
      .agg(sum(when(col("rk") <= col("k"), col("c")).otherwise(lit(0L))).as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("covered"), col("total"),
        (round(col("covered") * lit(1000000.0) / col("total")).cast("long") /
          lit(1000000.0)).as("coverage"))
      .orderBy("k")
  }

  /** Flesch-style readability scoring with deterministic structural
    * proxies (sentence = [.!?] run, syllable = vowel run, each word ≥ 1
    * syllable via the max guard) — the classic readability gate next to
    * text-quality's ratio stack. The formula's constants multiply
    * IEEE-exactly on both engines with a fixed left-associated expression
    * tree; the score snaps at micro grain as the last op.
    *
    * Scale shape: pure per-row regexp_count projections — zero shuffle.
    */
  val textReadability: Op = Op.sql(
    "text-readability",
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
      |           AS n_sentences,
      |         CAST(greatest(len(string_split(text, ' ')),
      |                       len(regexp_extract_all(text, '[aeiouy]+'))) AS BIGINT)
      |           AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |       CAST(round((206.835 - 1.015 * (n_words * 1.0 / n_sentences)
      |                   - 84.6 * (n_syllables * 1.0 / n_words)) * 1000000.0)
      |            AS BIGINT) / 1000000.0 AS flesch
      |FROM t ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val nWords = TextAnalysis.tokenCount(col("text")).cast("long")
    val nSentences = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    val nSyllables = greatest(nWords,
      regexp_count(col("text"), lit("[aeiouy]+")).cast("long"))
    val score = lit(206.835) - lit(1.015) * (col("n_words") * lit(1.0) / col("n_sentences")) -
      lit(84.6) * (col("n_syllables") * lit(1.0) / col("n_words"))
    Tables.documents(s, d)
      .select(col("doc_id"), nWords.as("n_words"), nSentences.as("n_sentences"),
        nSyllables.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        (round(score * lit(1000000.0)).cast("long") / lit(1000000.0)).as("flesch"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language: subtokens-per-word under the
    * BPE-ish pre-tokenization (letter runs | digit runs | single symbol —
    * the same regex as text-tokens) — the tokenizer-efficiency report
    * that decides whether a vocabulary under-serves a language (fertility
    * creep is the standard multilingual-tokenizer health metric).
    *
    * Scale shape: per-row regexp counts, then one map-side-combined
    * groupBy to language grain; fertility divides the language totals
    * once and snaps at micro grain.
    */
  val textTokenizerFertility: Op = Op.sql(
    "text-tokenizer-fertility",
    """WITH t AS (
      |  SELECT lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
      |           AS nst
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(nw) AS BIGINT) AS n_words,
      |       CAST(sum(nst) AS BIGINT) AS n_subtokens,
      |       CAST(round(sum(nst) * 1000000.0 / sum(nw)) AS BIGINT) / 1000000.0
      |         AS fertility
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("nw"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("nst"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_words"),
        sum("nst").as("n_subtokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subtokens"),
        (round(col("n_subtokens") * lit(1000000.0) / col("n_words")).cast("long") /
          lit(1000000.0)).as("fertility"))
      .orderBy("lang")
  }

  /** Leakage-safe train/val/test assignment: the split key is the CONTENT
    * hash, not the doc id, so byte-identical duplicates can never straddle
    * splits (the eval-contamination bug id-keyed splits ship). 90/5/5 by
    * md5 hex range; deterministic, seedless, reproducible across runs and
    * engines — and a per-row projection (zero shuffle) so the assignment
    * never becomes a pipeline stage of its own.
    */
  val textTrainSplit: Op = Op.sql(
    "text-train-split",
    """SELECT doc_id,
      |       CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
      |            WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val'
      |            ELSE 'test' END AS split,
      |       substr(md5(text), 1, 2) AS bucket
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val bucket = substring(md5(col("text")), 1, 2)
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(bucket < "e6", lit("train"))
          .when(bucket < "f3", lit("val"))
          .otherwise(lit("test")).as("split"),
        bucket.as("bucket"))
      .orderBy("doc_id")
  }

  /** Context-window fit planning: for each candidate context length, how
    * many documents fit whole, how many must truncate, and the fraction
    * of corpus tokens lost to truncation — the table read before fixing a
    * packing/truncation policy (complement of text-pack-sequences, which
    * executes the policy this table selects).
    *
    * Scale shape: per-doc token counts are a zero-shuffle projection; the
    * candidate grid multiplies the DOC-COUNT table by a constant 5 and
    * aggregates with map-side combine; the output is grid-sized.
    */
  val textCtxFit: Op = Op.sql(
    "text-ctx-fit",
    """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |           FROM documents),
      |g AS (SELECT CAST(unnest([128, 256, 512, 1024, 2048]) AS BIGINT) AS ctx),
      |j AS (SELECT ctx, nt, CASE WHEN nt > ctx THEN nt - ctx ELSE 0 END AS lost
      |      FROM t, g)
      |SELECT ctx, CAST(sum(CASE WHEN nt <= ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
      |       CAST(sum(CASE WHEN nt > ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
      |       CAST(sum(lost) AS BIGINT) AS tokens_lost,
      |       CAST(round(sum(lost) * 1000000.0 / sum(nt)) AS BIGINT) / 1000000.0
      |         AS lost_frac
      |FROM j GROUP BY ctx ORDER BY ctx""".stripMargin
  ) { (s, d) =>
    val grid = Seq(128L, 256L, 512L, 1024L, 2048L)
    Tables.documents(s, d)
      .select(TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
      .select(col("nt"), explode(array(grid.map(lit): _*)).as("ctx"))
      .select(col("ctx"), col("nt"),
        when(col("nt") > col("ctx"), col("nt") - col("ctx")).otherwise(lit(0L)).as("lost"))
      .groupBy("ctx")
      .agg(sum(when(col("nt") <= col("ctx"), 1L).otherwise(0L)).as("n_fit"),
        sum(when(col("nt") > col("ctx"), 1L).otherwise(0L)).as("n_truncated"),
        sum("lost").as("tokens_lost"),
        (round(sum("lost") * lit(1000000.0) / sum("nt")).cast("long") /
          lit(1000000.0)).as("lost_frac"))
      .orderBy("ctx")
  }

  /** Split-leakage audit at shingle grain — the deeper check behind
    * text-train-split's exact-hash guarantee: for every test/val
    * document, how many of its distinct 5-gram shingles also occur
    * anywhere in the TRAIN split (near-duplicate leakage that survives
    * content-hash splitting). The same n-gram-overlap machinery as
    * text-contamination, pointed at the pipeline's own split instead of
    * an external benchmark.
    *
    * Scale shape: both sides reduce to DISTINCT (split, shingle-hash)
    * rows; the train-side membership is min/max-free — one left-semi
    * hash join on 8-byte keys with map-side combine upstream, AQE-
    * splittable. Unlike text-contamination's tiny-benchmark broadcast,
    * BOTH sides here are corpus-scale, so the join is the honest shape.
    */
  val textSplitLeakage: Op = Op.sql(
    "text-split-leakage",
    """WITH sp AS (SELECT doc_id, text,
      |                   CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
      |                        WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val'
      |                        ELSE 'test' END AS split
      |            FROM documents),
      |sh AS (SELECT doc_id, split, array_to_string(ws[i:i+4], ' ') AS s
      |       FROM (SELECT doc_id, split, ws,
      |                    unnest(generate_series(1, greatest(1, len(ws) - 4))) AS i
      |             FROM (SELECT doc_id, split, string_split(text, ' ') AS ws FROM sp))),
      |dsh AS (SELECT DISTINCT doc_id, split, s FROM sh),
      |tr AS (SELECT DISTINCT s FROM dsh WHERE split = 'train'),
      |ev AS (SELECT doc_id, split, count(*) AS n_shingles,
      |              CAST(sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |                AS n_leaked
      |       FROM dsh LEFT JOIN tr ON dsh.s = tr.s
      |       WHERE dsh.split <> 'train'
      |       GROUP BY doc_id, split)
      |SELECT doc_id, split, n_shingles, n_leaked,
      |       CAST(round(n_leaked * 1000000.0 / n_shingles) AS BIGINT) / 1000000.0
      |         AS leak_frac
      |FROM ev ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val bucket = substring(md5(col("text")), 1, 2)
    val sp = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        when(bucket < "e6", lit("train"))
          .when(bucket < "f3", lit("val"))
          .otherwise(lit("test")).as("split"))
    // Round 14: hash fused into the shingle kernel (no gram strings).
    val dsh = sp.select(col("doc_id"), col("split"),
        explode(array_distinct(TextAnalysis.shingleHashes(col("text"), 5))).as("h"))
    val tr = dsh.filter(col("split") === "train").select("h").distinct()
      .select(col("h"), lit(1).as("seen"))
    dsh.filter(col("split") =!= "train")
      .join(tr, Seq("h"), "left")
      .groupBy("doc_id", "split")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("seen"), lit(0))).cast("long").as("n_leaked"))
      .select(col("doc_id"), col("split"), col("n_shingles"), col("n_leaked"),
        (round(col("n_leaked") * lit(1000000.0) / col("n_shingles")).cast("long") /
          lit(1000000.0)).as("leak_frac"))
      .orderBy("doc_id")
  }

  /** Corpus novelty curve — the diminishing-returns view data curation
    * prices collection against: walking the corpus in doc_id order, what
    * fraction of each 50-doc batch's distinct 3-gram shingles has never
    * appeared before? A falling curve says new data is mostly re-treading
    * old n-grams (time to diversify sources). First-occurrence
    * attribution is one `min(doc_id)` groupBy over the hashed shingle
    * stream — shuffles move 8-byte xxhash64 keys, never gram strings
    * (the dedup-substring-spans discipline; the string-exact oracle
    * bounds collisions at test SF). The totals side never explodes at
    * all: a doc's distinct-shingle count is `size(array_distinct(...))`,
    * ROW-LOCAL, folding straight to the 50-doc bucket grain with
    * map-side combine (VERDICT r11 item 7 — the old spelling exploded
    * the corpus a second time and joined at doc grain; different
    * shuffle keys meant no exchange reuse, so the whole scan+explode
    * ran twice). Both sides meet bucket-grained — config-sized.
    *
    * Why it shares no fill: persistedShingles is df-PRUNED (hot
    * shingles dropped — novelty must count them) and the KN family's
    * docBigramStream is bigram-grained (novelty is 3-gram), so neither
    * cache has the right stream; the one explode pass here is its own.
    */
  val textNoveltyCurve: Op = Op.sql(
    "text-novelty-curve",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
      |       FROM (SELECT doc_id, ws,
      |                    unnest(generate_series(1, len(ws) - 2)) AS i FROM t)),
      |fst AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY s),
      |nv AS (SELECT fd AS doc_id, count(*) AS novel FROM fst GROUP BY fd),
      |tt AS (SELECT doc_id, count(*) AS total FROM sh GROUP BY doc_id),
      |j AS (SELECT tt.doc_id, COALESCE(nv.novel, 0) AS novel, tt.total
      |      FROM tt LEFT JOIN nv USING (doc_id))
      |SELECT doc_id // 50 AS bucket, count(*) AS n_docs,
      |       CAST(sum(novel) AS BIGINT) AS novel_shingles,
      |       CAST(sum(total) AS BIGINT) AS total_shingles,
      |       CAST(round(CAST(sum(novel) AS DOUBLE) * 1000000
      |                  / CAST(sum(total) AS DOUBLE)) AS BIGINT)
      |         / 1000000.0 AS novelty
      |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .filter(size(graft.text.TextAnalysis.tokens(col("text"))) >= 3)
    // Round 14: hash fused into the shingle kernel — the distinct runs
    // on primitive longs and no gram string is ever built (a within-doc
    // 64-bit collision could undercount a doc's distinct shingles by 1;
    // same p ≈ n²/2⁶⁵ class as the hashed stream, oracle-bounded).
    val grams = array_distinct(
      graft.text.TextAnalysis.shingleHashes(col("text"), 3))
    // totals + doc counts: row-local distinct-shingle size, folded straight
    // to bucket grain (~corpus/50 groups, map-side combined — no explode)
    val tt = docs
      .select(expr("doc_id div 50").as("bucket"),
        size(grams).cast("long").as("n_sh"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_sh").as("total_shingles"))
    // novelty: the one explode pass — min(doc_id) per 8-byte shingle hash,
    // then first-occurrence counts fold to the same bucket grain
    val nv = docs
      .select(col("doc_id"), explode(grams).as("h"))
      .groupBy("h").agg(min("doc_id").as("fd"))
      .groupBy(expr("fd div 50").as("bucket"))
      .agg(count(lit(1)).as("novel"))
    tt.join(nv, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("novel"), lit(0L)).as("novel_shingles"),
        col("total_shingles"),
        (round(coalesce(col("novel"), lit(0L)).cast("double") * lit(1000000) /
          col("total_shingles").cast("double")).cast("long") / lit(1e6))
          .as("novelty"))
      .orderBy("bucket")
  }

  /** Code-vs-prose detection — the corpus-curation router that decides
    * whether a document goes down the NL pipeline or the code pipeline
    * (they want different dedup grains, different quality filters,
    * different tokenizers). Signals are pure substring counts via the
    * length-difference identity (no regex at all — exact, codegen'd and
    * engine-identical): braces, semicolons, parens and the assignment
    * token. The prose fixture carries no code, so docs with
    * doc_id % 5 = 0 get a DETERMINISTIC code suffix (same construction
    * both sides — the text-pii-scrub pattern) and the op proves the
    * verdict hits exactly that residue class. Zero-shuffle row-local
    * projection — the scale shape of every routing pass.
    */
  val textCodeDetect: Op = Op.sql(
    "text-code-detect",
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 5 = 0
      |              THEN text || ' int main() { return doc_' ||
      |                   CAST(doc_id AS VARCHAR) || '; } // end'
      |              ELSE text END AS body
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |         CAST(length(body) - length(replace(body, '{', '')) AS BIGINT) AS n_brace,
      |         CAST(length(body) - length(replace(body, ';', '')) AS BIGINT) AS n_semi,
      |         CAST(length(body) - length(replace(body, '(', '')) AS BIGINT) AS n_paren,
      |         CAST((length(body) - length(replace(body, '// ', ''))) / 3 AS BIGINT) AS n_comment
      |  FROM t)
      |SELECT doc_id, n_brace, n_semi, n_paren, n_comment,
      |       (n_brace >= 1 AND n_semi >= 1 AND n_paren >= 1) AS is_code
      |FROM c ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    def cnt(c: org.apache.spark.sql.Column, tok: String) =
      ((length(c) - length(replace(c, lit(tok), lit("")))) / tok.length)
        .cast("long")
    val body = when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" int main() { return doc_"),
        col("doc_id").cast("string"), lit("; } // end")))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), body.as("body"))
      .select(col("doc_id"),
        cnt(col("body"), "{").as("n_brace"),
        cnt(col("body"), ";").as("n_semi"),
        cnt(col("body"), "(").as("n_paren"),
        cnt(col("body"), "// ").as("n_comment"))
      .withColumn("is_code",
        col("n_brace") >= 1 && col("n_semi") >= 1 && col("n_paren") >= 1)
      .orderBy("doc_id")
  }

  /** Zipf head curve: corpus frequency at power-of-two ranks (1, 2, 4,
    * …, 1024) with parts-per-million share — the two-point-per-octave
    * summary of the rank-frequency law. A healthy natural-language corpus
    * halves frequency roughly once per octave of rank; a flattened head
    * (ppm(1) ≈ ppm(32)) signals boilerplate/template flooding and a
    * collapsed tail signals truncated vocabulary — both are one-glance
    * corpus-health reads before a tokenizer or mix decision. Ties rank by
    * (freq desc, token) so the curve is deterministic.
    *
    * Scale shape: token counts are one map-side-combined groupBy; the
    * 1024-row head comes off it via TakeOrderedAndProject (per-partition
    * partial top-k — the vocabulary is never globally sorted), ranking is
    * row-local over the capped head (array_sort + posexplode, no window),
    * and the denominator is a 1-row broadcast. (Training-pipeline
    * extension op; the reference archives blocks, not documents.)
    */
  val textRankFreqCurve: Op = Op.sql(
    "text-rank-freq-curve",
    """WITH c AS (SELECT w, count(*) AS c
      |           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |           GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
      |rk AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM c)
      |SELECT CAST(rank AS BIGINT) AS rank, w AS token, CAST(c AS BIGINT) AS freq,
      |       CAST((c * 1000000) // tot.total AS BIGINT) AS ppm
      |FROM rk, tot
      |WHERE rank IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)
      |ORDER BY rank""".stripMargin
  ) { (s, d) =>
    val ranksWanted = (0 to 10).map(1L << _)
    val cnt = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val head = rankedHead(cnt, 1024)
      .select(col("rk").as("rank"), col("w").as("token"), col("c").as("freq"))
      .filter(col("rank").isin(ranksWanted: _*))
    val tot = cnt.agg(sum("c").as("total"))
    head.crossJoin(broadcast(tot))
      .select(col("rank"), col("token"), col("freq"),
        expr("(freq * 1000000) div total").as("ppm"))
      .orderBy("rank")
  }

  /** Epoch plan under an equal-share token budget: give every source the
    * same slice of the total corpus token budget and report what that
    * implies per source — the repeat factor in milli-epochs
    * (share/tokens × 1000) and the ceil epoch count a loader would
    * schedule, with the >4-epoch over-repetition flag (the point where
    * repeated data measurably degrades a pretraining run). Complements
    * text-mix-weights (doc-count weights) and text-mix-apply (quota
    * sampling): this is the TOKEN-budget view a dataloader consumes.
    * All-integer arithmetic — exact on every engine.
    *
    * Scale shape: one map-side-combined groupBy to source grain
    * (≤ sources rows), then a 1-row broadcast total; per-source columns
    * are projections.
    */
  val textEpochPlan: Op = Op.sql(
    "text-epoch-plan",
    """WITH s AS (SELECT source,
      |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |           FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS budget, count(*) AS n_sources
      |      FROM s)
      |SELECT source, tokens,
      |       CAST(t.budget // t.n_sources AS BIGINT) AS share_tokens,
      |       CAST((t.budget // t.n_sources) * 1000 // tokens AS BIGINT)
      |         AS repeat_milli,
      |       CAST((t.budget // t.n_sources + tokens - 1) // tokens AS BIGINT)
      |         AS epochs_ceil,
      |       ((t.budget // t.n_sources) * 1000 // tokens) > 4000 AS over_repeat
      |FROM s, t ORDER BY source""".stripMargin
  ) { (s, d) =>
    val bySrc = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
    val tot = bySrc.agg(sum("tokens").as("budget"),
      count(lit(1)).as("n_sources"))
    bySrc.crossJoin(broadcast(tot))
      .withColumn("share_tokens", expr("budget div n_sources"))
      .withColumn("repeat_milli", expr("(share_tokens * 1000) div tokens"))
      .withColumn("epochs_ceil",
        expr("(share_tokens + tokens - 1) div tokens"))
      .withColumn("over_repeat", col("repeat_milli") > 4000L)
      .select("source", "tokens", "share_tokens", "repeat_milli",
        "epochs_ceil", "over_repeat")
      .orderBy("source")
  }

  /** The sampler's final per-document weight — the capstone the weight
    * tier feeds: dedup weight (1/n_copies, dedup-weights' soft-dedup
    * factor) × source mix weight (text-mix-weights' equal-share
    * negotiation) with a hard drop for sub-8-token fragments, all in
    * exact integer micro-units (final = wd·ws div 10⁶). This one column
    * is what a training dataloader actually consumes: expected epochs
    * per document under the negotiated mix with duplication bias
    * neutralized. Emitting it as a table (not folding it into the
    * sampler) is deliberate — the weight is auditable, diffable between
    * corpus versions, and joinable against quality tiers.
    *
    * Scale shape: one md5-groupBy (distinct-text-sized, AQE-splittable
    * hot groups), a broadcast source-weight table (catalog-sized), and
    * per-row integer arithmetic — no new shuffle beyond dedup-weights'
    * own.
    */
  val textSampleWeights: Op = Op.sql(
    "text-sample-weights",
    """WITH g AS (SELECT md5(text) AS h, count(*) AS n_copies
      |           FROM documents GROUP BY 1),
      |s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, count(*) AS n_sources
      |      FROM s),
      |w AS (SELECT source,
      |             least(1000000, CAST(round(total * 1000000.0 /
      |                                       (n_sources * n_docs)) AS BIGINT))
      |               AS ws_e6
      |      FROM s, t)
      |SELECT d.doc_id, g.n_copies, w.ws_e6,
      |       CAST(round(1000000.0 / g.n_copies) AS BIGINT) AS wd_e6,
      |       CASE WHEN len(string_split(d.text, ' ')) < 8 THEN 0
      |            ELSE (CAST(round(1000000.0 / g.n_copies) AS BIGINT) * w.ws_e6)
      |                 // 1000000 END AS final_e6
      |FROM documents d JOIN g ON md5(d.text) = g.h JOIN w ON d.source = w.source
      |ORDER BY d.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
        TextAnalysis.tokenCount(col("text")).as("ntok"))
    val g = docs.groupBy("h").agg(count(lit(1)).as("n_copies"))
    val bySrc = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = bySrc.agg(sum("n_docs").as("total"), count(lit(1)).as("n_sources"))
    val w = bySrc.crossJoin(broadcast(tot))
      .select(col("source"), least(lit(1000000L),
        round(col("total") * lit(1000000.0) / (col("n_sources") * col("n_docs")))
          .cast("long")).as("ws_e6"))
    docs.join(g, "h").join(broadcast(w), "source")
      .withColumn("wd_e6", round(lit(1000000.0) / col("n_copies")).cast("long"))
      .select(col("doc_id"), col("n_copies"), col("ws_e6"), col("wd_e6"),
        when(col("ntok") < 8, lit(0L))
          .otherwise(expr("(wd_e6 * ws_e6) div 1000000")).as("final_e6"))
      .orderBy("doc_id")
  }

  val ops: Seq[Op] = Seq(textCodeDetect, textTokens, textQuality, textLangId, textFingerprint,
    textNormalize, textPackSequences, textSampleStratified, textContamination,
    textPiiScrub, textTokenHistogram, textCorpusStats, textUnigramLogprob,
    textBm25Topk, textRepetition, textMixWeights, textLengthHistogram,
    textWinnowing, textCollocations, textHeavyHitters, textBigramLogprob,
    textCdcChunks, textSampleUniform, textTfidfTopk, textSourceDrift,
    textDsir, textMixApply, textHashEmbedding, textQualityDeciles,
    textLangidEval, textBpePairs, textBlocklistFilter, textLangSegments,
    textEntropy, textChunkOverlap, textMixTemperature, textVocabCoverage,
    textReadability, textTokenizerFertility, textTrainSplit, textCtxFit,
    textSplitLeakage, textNoveltyCurve, textTypeToken, textInfillPlan,
    textLmHoldoutGap, textSourceHhi, textSourceLangPurity,
    textRankFreqCurve, textEpochPlan, textSampleWeights,
    textBpeTrain, textClassifierScore, textMixSchedule,
    textBpeApply, textKnBigram, textDocPerplexity, textPerplexityHoldout,
    textKnTrigram, textMinKProb, textTermBurstiness)

  /** Language purity per source: dominant language and its share in
    * basis points — the crawler-drift monitor (a source whose purity
    * decays is mixing feeds or mislabeling; purity 10000/|langs| means
    * the source label carries no language signal). The per-source
    * argmax is a max(struct) fold — map-side combinable, never a window
    * over the catalog.
    */
  lazy val textSourceLangPurity: Op = Op.sql(
    "text-source-lang-purity",
    """WITH sl AS (SELECT source, lang, count(*) AS n FROM documents
      |            GROUP BY source, lang),
      |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM sl GROUP BY source),
      |top AS (SELECT source, lang AS top_lang, n AS n_top FROM (
      |          SELECT source, lang, n,
      |                 row_number() OVER (PARTITION BY source
      |                   ORDER BY n DESC, lang) AS rn FROM sl) x
      |        WHERE rn = 1)
      |SELECT t.source AS source, t.ns AS n_docs, top.top_lang,
      |       CAST(top.n_top AS BIGINT) AS n_top,
      |       CAST((top.n_top * 10000) // t.ns AS BIGINT) AS purity_bp
      |FROM t JOIN top ON top.source = t.source
      |ORDER BY t.source""".stripMargin
  ) { (s, d) =>
    val sl = Tables.documents(s, d)
      .groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val t = sl.groupBy("source").agg(sum("n").cast("long").as("n_docs"))
    // argmax by (n DESC, lang ASC) as a struct max: negate nothing —
    // compare (n, reversed-lang) is awkward for strings, so rank via the
    // two-field struct (n, lang) maximum won't break ties the same way;
    // use the salted TopK instead (catalog-sized input, k=1)
    val top = graft.functions.TopK.topkPerGroup(sl, Seq("source"),
      Seq(col("n").desc, col("lang").asc), 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("n").cast("long").as("n_top"))
    t.join(top, Seq("source"))
      .select(col("source"), col("n_docs"), col("top_lang"), col("n_top"),
        expr("(n_top * 10000) div n_docs").as("purity_bp"))
      .orderBy("source")
  }

  /** Source-concentration index per language: the Herfindahl–Hirschman
    * index of source shares in basis points (10000 = a single-source
    * monoculture, 10000/n = perfectly even across n sources) — the
    * one-number diversity read regulators apply to markets and corpus
    * curators apply to provenance (a lang whose HHI spikes is being fed
    * by one crawler). Exact integers: shares snap to bp, the index is a
    * sum of squared bp over 1e4.
    *
    * Scale shape: one (lang, source) rollup, lang totals broadcast, a
    * lang-grained fold — catalog-sized end to end.
    */
  lazy val textSourceHhi: Op = Op.sql(
    "text-source-hhi",
    """WITH ls AS (SELECT lang, source, count(*) AS n FROM documents
      |            GROUP BY lang, source),
      |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM ls GROUP BY lang),
      |sh AS (SELECT ls.lang, CAST((ls.n * 10000) // t.nl AS BIGINT) AS bp
      |       FROM ls JOIN t ON t.lang = ls.lang)
      |SELECT lang, count(*) AS n_sources,
      |       CAST(sum(bp * bp) // 10000 AS BIGINT) AS hhi_bp
      |FROM sh GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val ls = Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val t = ls.groupBy("lang").agg(sum("n").cast("long").as("nl"))
    ls.join(broadcast(t), Seq("lang"))
      .select(col("lang"), expr("(n * 10000) div nl").as("bp"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sources"),
        expr("sum(bp * bp) div 10000").cast("long").as("hhi_bp"))
      .orderBy("lang")
  }

  /** Train/holdout unigram-LM gap: fit an add-one-smoothed unigram LM on
    * the TRAIN split (doc_id % 10 < 8) and compare mean log-prob on
    * train vs holdout docs — the memorization/generalization sanity
    * check run before any perplexity filter is trusted (a large gap
    * means the LM is fitting its own split, and scoring held-out data
    * with it will over-drop). OOV tokens get the smoothed
    * ln(1/(tot+V)) mass, per-token log-probs snap to integer micro-nats
    * BEFORE summation (the text-unigram-logprob contract), and the split
    * means divide as integers.
    *
    * Scale shape: one token explode; the LM (vocab-sized) broadcasts;
    * both split means fold from one conditional aggregation.
    */
  lazy val textLmHoldoutGap: Op = Op.sql(
    "text-lm-holdout-gap",
    """WITH toks AS (SELECT doc_id, doc_id % 10 < 8 AS is_train,
      |                     unnest(string_split(text, ' ')) AS w
      |              FROM documents),
      |v AS (SELECT w, count(*) AS cnt FROM toks WHERE is_train GROUP BY w),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM toks WHERE is_train),
      |vs AS (SELECT CAST(count(*) AS BIGINT) AS vsize FROM v),
      |lm AS (SELECT v.w,
      |         CAST(round((ln(v.cnt + 1) - ln(t.tot + vs.vsize)) * 1000000)
      |           AS BIGINT) AS lp
      |       FROM v, t, vs),
      |oov AS (SELECT CAST(round((0 - ln(t.tot + vs.vsize)) * 1000000) AS BIGINT)
      |          AS lp_oov FROM t, vs),
      |sc AS (SELECT toks.is_train, coalesce(lm.lp, oov.lp_oov) AS lp
      |       FROM toks LEFT JOIN lm ON lm.w = toks.w CROSS JOIN oov)
      |SELECT CASE WHEN is_train THEN 'train' ELSE 'holdout' END AS split,
      |       count(*) AS n_tokens,
      |       CAST(sum(lp) // count(*) AS BIGINT) AS mean_lp_micro
      |FROM sc GROUP BY split ORDER BY split""".stripMargin
  ) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 10 < 8).as("is_train"),
        explode(split(col("text"), " ")).as("w"))
    val v = toks.filter(col("is_train")).groupBy("w").agg(count(lit(1)).as("cnt"))
    val t = toks.filter(col("is_train")).agg(count(lit(1)).as("tot"))
    val vs = v.agg(count(lit(1)).as("vsize"))
    val lm = v.crossJoin(broadcast(t)).crossJoin(broadcast(vs))
      .select(col("w"),
        round((log(col("cnt") + 1) - log(col("tot") + col("vsize"))) * 1000000)
          .cast("long").as("lp"))
    val oov = t.crossJoin(vs)
      .select(round((lit(0) - log(col("tot") + col("vsize"))) * 1000000)
        .cast("long").as("lp_oov"))
    toks.join(broadcast(lm), Seq("w"), "left")
      .crossJoin(broadcast(oov))
      .select(col("is_train"), coalesce(col("lp"), col("lp_oov")).as("lp"))
      .groupBy(when(col("is_train"), "train").otherwise("holdout").as("split"))
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(lp) div count(1)").cast("long").as("mean_lp_micro"))
      .orderBy("split")
  }

  /** Span-corruption plan (T5/UL2-style infill pretraining): per document,
    * the deterministic 15% token mask and its span structure — token
    * count, masked count, SPAN count (maximal masked runs — each becomes
    * one sentinel), and the realized mask rate in basis points. The mask
    * is seedless and reproducible (md5 of (doc, position)), so a re-run
    * or a different cluster regenerates the identical corruption — the
    * property that makes checkpoint-resume and ablation comparisons
    * honest. Span counting folds through the flag list with an
    * integer-ENCODED state (acc = 2·spans + prevFlag), the trick that
    * keeps a two-field fold inside single-value HOF lambdas in BOTH
    * engines.
    *
    * Scale shape: a pure per-row projection over the token array — ZERO
    * shuffle (the RepetitionStats contract); at 100 TB this is scan-side.
    */
  lazy val textInfillPlan: Op = Op.sql(
    "text-infill-plan",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |f AS (SELECT doc_id, len(ws) AS n_tokens,
      |        [CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
      |               || ':' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 15
      |              THEN 1 ELSE 0 END
      |         FOR i IN generate_series(0, len(ws) - 1)] AS flags
      |      FROM t),
      |e AS (SELECT doc_id, n_tokens,
      |        CAST(list_sum(flags) AS BIGINT) AS n_masked,
      |        list_reduce(list_prepend(0::BIGINT, flags),
      |          (acc, x) -> (acc // 2 + CASE WHEN x = 1 AND acc % 2 = 0
      |                                       THEN 1 ELSE 0 END) * 2 + x) AS enc
      |      FROM f)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_masked,
      |       CAST(enc // 2 AS BIGINT) AS n_spans,
      |       CAST((n_masked * 10000) // n_tokens AS BIGINT) AS mask_bp
      |FROM e ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val flags = transform(
      sequence(lit(0), size(graft.text.TextAnalysis.tokens(col("text"))) - 1),
      i => when(conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), i.cast("string"))), 1, 8), 16, 10).cast("long") % 100 < 15,
        1L).otherwise(0L))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long")
          .as("n_tokens"),
        flags.as("flags"))
      .select(col("doc_id"), col("n_tokens"),
        aggregate(col("flags"), lit(0L), (acc, x) =>
          (shiftright(acc, 1) +
            when(x === 1 && acc % 2 === 0, 1L).otherwise(0L)) * 2 + x)
          .as("enc"),
        aggregate(col("flags"), lit(0L), (a, x) => a + x).as("n_masked"))
      .select(col("doc_id"), col("n_tokens"), col("n_masked"),
        shiftright(col("enc"), 1).cast("long").as("n_spans"),
        expr("(n_masked * 10000) div n_tokens").as("mask_bp"))
      .orderBy("doc_id")
  }

  /** Lexical diversity per source: token volume, distinct TYPES, and the
    * type–token ratio in basis points — the corpus-health read that
    * separates template mills (huge volume, tiny vocabulary) from
    * genuinely diverse sources before mix weights are negotiated
    * (companions: text-vocab-coverage is global top-K-centric,
    * text-source-drift is distributional; this is the per-source
    * vocabulary size itself).
    *
    * Scale shape: one token explode → one (source)-grained aggregate with
    * a distinct expand — the cross-doc type union genuinely requires the
    * exchange; partials still combine map-side per (source, token).
    */
  lazy val textTypeToken: Op = Op.sql(
    "text-type-token",
    """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |           FROM documents)
      |SELECT source, count(*) AS n_tokens,
      |       CAST(count(DISTINCT w) AS BIGINT) AS n_types,
      |       CAST((count(DISTINCT w) * 10000) // count(*) AS BIGINT) AS ttr_bp
      |FROM t GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct("w").as("n_types"))
      .withColumn("ttr_bp", expr("(n_types * 10000) div n_tokens"))
      .orderBy("source")
  }

  /** Iterative BPE tokenizer TRAINING (Sennrich et al. 2016), three
    * unrolled merge rounds — the canonical tokenizer-training dataflow
    * (text-bpe-pairs is one pair-count step; this LEARNS merges): words
    * become spaced symbol sequences, each round counts adjacent symbol
    * pairs weighted by word frequency, adopts the argmax pair
    * (count desc, pair asc — a total order, so ties cannot diverge) and
    * applies it as a greedy left-to-right non-overlapping merge. The
    * merge application is a plain string `replace` over a DOUBLE-space
    * symbol separator (" a  b  c  "): each symbol owns a flanking space
    * on both sides, so replacing " a  b " with " ab " consumes no
    * neighbor's boundary and ADJACENT occurrences of the winning pair
    * all merge ("abab" → [ab, ab], "aaa" → [aa, a]) — exactly the BPE
    * merge rule, with identical non-overlapping replace semantics on
    * both engines (a single-space separator would swallow the shared
    * boundary and skip every second adjacent pair — caught in the
    * round-8 self-review).
    *
    * Scale shape: rounds run at the VOCAB grain (word-type table with
    * map-side-combined frequencies — never the token stream), persisted
    * for the learn loop and unpersisted after; each round is one pair
    * explode over vocab rows + a top-1 TakeOrdered whose single row
    * collects driver-side (the k-means model-state pattern:
    * config-sized state drives the next distributed round). The emitted
    * result IS that model — 3 rows computed by the three distributed
    * rounds; no re-derivation pass.
    */
  /** Corpus word-frequency vocab in spaced-symbol form (" a  b  c  "),
    * the shared input of the BPE trainer and encoder: vocab-grain (never
    * the token stream), map-side-combined frequencies.
    */
  private[ops] def bpeSpacedVocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1  ")).as("seq"),
        col("freq"))

  /** Adjacent-pair counts over spaced-symbol sequences weighted by freq. */
  private def bpePairsOf(seqs: DataFrame): DataFrame = seqs
    .select(col("freq"), split(trim(col("seq")), " +").as("syms"))
    .filter(size(col("syms")) >= 2)
    .select(col("freq"),
      explode(transform(sequence(lit(1), size(col("syms")) - 1),
        i => concat(element_at(col("syms"), i), lit(" "),
          element_at(col("syms"), i + 1)))).as("pair"))
    .groupBy("pair").agg(sum("freq").cast("long").as("cnt"))

  /** One greedy left-to-right non-overlapping BPE merge over a `seq`
    * column in double-space symbol form (see textBpeTrain's scaladoc for
    * why the DOUBLE space is load-bearing). Preserves all other columns.
    */
  private[ops] def bpeApplyMerge(df: DataFrame, pair: String): DataFrame = df
    .withColumn("_pat", lit(" " + pair.replace(" ", "  ") + " "))
    .withColumn("_rep", lit(" " + pair.replace(" ", "") + " "))
    .withColumn("seq", expr("replace(seq, _pat, _rep)"))
    .drop("_pat", "_rep")

  /** Broadcast-merge-table BPE encode at the decode seam — the documented
    * production swap for [[textBpeApply]]'s plan-literal replaces: a real
    * 32k-merge vocabulary cannot live as 32k stacked `replace` nodes in
    * the plan (analysis cost alone is quadratic), so the merge table
    * BROADCASTS and one mapPartitions pass applies the merges in learned
    * order per row (mapPartitions is allowed here by the connector/decode-
    * seam rule — this IS the tokenizer decode seam). Exactly the same
    * double-space symbol representation and left-to-right non-overlapping
    * `replace` semantics as [[bpeApplyMerge]]; OpsR19Spec parity-tests the
    * two paths on the same learned merges.
    */
  private[graft] def bpeEncodeBroadcast(df: DataFrame,
      merges: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val table = merges.map(p =>
      (" " + p.replace(" ", "  ") + " ", " " + p.replace(" ", "") + " ")).toArray
    val bc = spark.sparkContext.broadcast(table)
    val schema = df.schema
    val idx = schema.fieldIndex("seq")
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      val t = bc.value
      it.map { r =>
        var s = r.getString(idx)
        // NULL passes through, matching SQL replace()'s null semantics on
        // the plan-literal path
        if (s != null) {
          var i = 0
          while (i < t.length) { s = s.replace(t(i)._1, t(i)._2); i += 1 }
        }
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.updated(idx, s))
      }
    }
  }

  /** Learn up to `rounds` BPE merges over the corpus vocab; returns
    * (pair, weighted count) in merge order, stopping early when no
    * adjacent pair remains. Each round is one distributed pair count +
    * a 1-row TakeOrdered collect (driver-held model state, the k-means
    * pattern). The merged vocab CARRIES FORWARD across rounds via an
    * eager localCheckpoint — both halves matter at a production 32k-merge
    * depth: carrying forward makes learning O(rounds) replace passes (not
    * the O(rounds²) refold-from-seqs0 — ADVICE r9), and the CHECKPOINT
    * (vs a plain persist) truncates the logical plan each round; a
    * persist-only chain keeps all previous rounds' replaces + cache nodes
    * in the lineage and the plan bookkeeping alone OOMs the driver near
    * round ~60 (measured — OpsR19Spec runs this at 64 rounds).
    */
  private[ops] def bpeLearnMerges(s: SparkSession, d: String,
      rounds: Int): List[(String, Long)] = {
    var cur = bpeSpacedVocab(s, d).persist()
    var merges = List.empty[(String, Long)]
    var r = 0
    var dry = false
    while (r < rounds && !dry) {
      val top = bpePairsOf(cur).orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect()
      if (top.isEmpty) dry = true
      else {
        val pair = top(0).getString(0)
        merges = (pair, top(0).getLong(1)) :: merges
        if (r + 1 < rounds) {
          // eager: the successor materializes BEFORE the parent's blocks
          // are released (a lazy handoff would recompute — or, once the
          // parent is checkpointed, have nothing to recompute FROM)
          val next = bpeApplyMerge(cur, pair).localCheckpoint(true)
          cur.unpersist()
          cur = next
        }
      }
      r += 1
    }
    cur.unpersist()
    merges.reverse
  }

  lazy val textBpeTrain: Op = {
    val ROUNDS = 3
    Op.sql(
      "text-bpe-train",
      """WITH v AS (SELECT w, count(*) AS freq
        |           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |           GROUP BY w),
        |s1 AS (SELECT ' ' || regexp_replace(w, '(.)', '\1  ', 'g') AS seq, freq FROM v),
        |e1 AS (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
        |       FROM (SELECT regexp_split_to_array(trim(seq), ' +') AS syms, freq FROM s1)
        |       WHERE len(syms) >= 2),
        |c1 AS (SELECT syms[i] || ' ' || syms[i+1] AS pair,
        |              CAST(sum(freq) AS BIGINT) AS cnt FROM e1 GROUP BY pair),
        |w1 AS (SELECT pair, cnt FROM c1 ORDER BY cnt DESC, pair LIMIT 1),
        |s2 AS (SELECT replace(seq, ' ' || replace(pair, ' ', '  ') || ' ',
        |                      ' ' || replace(pair, ' ', '') || ' ') AS seq, freq
        |       FROM s1, w1),
        |e2 AS (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
        |       FROM (SELECT regexp_split_to_array(trim(seq), ' +') AS syms, freq FROM s2)
        |       WHERE len(syms) >= 2),
        |c2 AS (SELECT syms[i] || ' ' || syms[i+1] AS pair,
        |              CAST(sum(freq) AS BIGINT) AS cnt FROM e2 GROUP BY pair),
        |w2 AS (SELECT pair, cnt FROM c2 ORDER BY cnt DESC, pair LIMIT 1),
        |s3 AS (SELECT replace(seq, ' ' || replace(pair, ' ', '  ') || ' ',
        |                      ' ' || replace(pair, ' ', '') || ' ') AS seq, freq
        |       FROM s2, w2),
        |e3 AS (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
        |       FROM (SELECT regexp_split_to_array(trim(seq), ' +') AS syms, freq FROM s3)
        |       WHERE len(syms) >= 2),
        |c3 AS (SELECT syms[i] || ' ' || syms[i+1] AS pair,
        |              CAST(sum(freq) AS BIGINT) AS cnt FROM e3 GROUP BY pair),
        |w3 AS (SELECT pair, cnt FROM c3 ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, pair AS merge_pair, cnt FROM w1
        |  UNION ALL SELECT CAST(2 AS BIGINT), pair, cnt FROM w2
        |  UNION ALL SELECT CAST(3 AS BIGINT), pair, cnt FROM w3)
        |ORDER BY round""".stripMargin
    ) { (s, d) =>
      // learn the merges (bpeLearnMerges: 1 collected winner row per
      // round — driver-held model state, the k-means pattern)
      val merges = bpeLearnMerges(s, d, ROUNDS)
      // the learned merge table IS the output (each row was computed by
      // its own distributed round above); empty corpus → empty table,
      // matching the oracle's empty w1/w2/w3
      import scala.jdk.CollectionConverters._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("round",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("merge_pair",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val rows = merges.zipWithIndex.map { case ((pair, cnt), idx) =>
        org.apache.spark.sql.Row((idx + 1).toLong, pair, cnt)
      }
      s.createDataFrame(rows.asJava, schema).orderBy("round")
    }
  }

  /** fastText-style linear quality-classifier INFERENCE + calibration
    * (Joulin et al. 2016): each document's hashing-trick bag-of-words
    * (the text-hash-embedding 16-bucket space) dots a plan-time literal
    * weight vector, and the margin z maps through the fast sigmoid
    * z/(2(1+|z|)) + 1/2 (Elliott activation — only +,*,/,abs, so the
    * double is BIT-IDENTICAL cross-engine where exp()-based logistic
    * would drift with libm) to a micro-unit score. Scores calibrate
    * against the unigram-logprob quality deciles: per decile, document
    * count, positive count (z > 0) and mean score — the table that
    * validates a cheap classifier against the corpus's intrinsic
    * quality signal before it gates a 100 TB mix.
    *
    * Scale shape: scoring is ZERO-shuffle — the token→weight transform
    * and the dot-sum fold run inside the document's own row (the hash
    * IS the dictionary, the weights are plan literals; a real model
    * broadcasts) — pinned in PlanAuditSpec. Calibration reuses the
    * decile subtree (broadcast LM + 1-row percentile broadcast) and one
    * bucket-grain groupBy.
    */
  lazy val textClassifierScore: Op = {
    val wts = Seq(3L, -2L, 1L, 0L, 2L, -1L, -3L, 2L, 1L, -2L, 0L, 1L,
      -1L, 2L, -2L, 3L)
    val wtsSql = wts.mkString("[", ", ", "]")
    Op.sql(
      "text-classifier-score",
      s"""WITH wt AS (SELECT $wtsSql AS v),
         |z AS (SELECT doc_id,
         |        CAST(list_sum(list_transform(string_split(text, ' '),
         |          w -> v[CAST(CAST(concat('0x', substr(md5(w), 1, 4)) AS UBIGINT)
         |                      % 16 AS INT) + 1])) AS BIGINT) - 1 AS z
         |      FROM documents, wt),
         |sc AS (SELECT doc_id, z,
         |         CAST(round((z / (2.0 * (1 + abs(z))) + 0.5) * 1000000) AS BIGINT)
         |           AS score_micro
         |       FROM z),
         |${unigramDecileCtes("mu", "bk")}
         |SELECT CAST(bk.bucket AS BIGINT) AS bucket, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN sc.z > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |       CAST(round(sum(sc.score_micro) * 1.0 / count(*)) AS BIGINT)
         |         AS mean_score_micro
         |FROM sc JOIN bk ON sc.doc_id = bk.doc_id
         |GROUP BY bk.bucket ORDER BY bucket""".stripMargin
    ) { (s, d) =>
      classifierScores(s, d)
        .join(unigramDecileBuckets(s, d).select("doc_id", "bucket"), Seq("doc_id"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("z") > 0, 1L).otherwise(0L)).cast("long").as("n_pos"),
          round(sum("score_micro") * lit(1.0) / count(lit(1))).cast("long")
            .as("mean_score_micro"))
        .orderBy("bucket")
    }
  }

  /** Zero-shuffle scoring subtree of [[textClassifierScore]]: doc_id,
    * margin z, fast-sigmoid micro-score. Exposed for the PlanAuditSpec
    * no-exchange pin.
    */
  private[graft] def classifierScores(s: SparkSession, d: String): DataFrame = {
    val wts = array(Seq(3L, -2L, 1L, 0L, 2L, -1L, -3L, 2L, 1L, -2L, 0L, 1L,
      -1L, 2L, -2L, 3L).map(lit): _*)
    Tables.documents(s, d)
      .select(col("doc_id"),
        (aggregate(
          transform(TextAnalysis.tokens(col("text")), w =>
            element_at(wts,
              ((conv(substring(md5(w), 1, 4), 16, 10).cast("long") % 16) + 1)
                .cast("int"))),
          lit(0L), (a, x) => a + x) - 1L).as("z"))
      .select(col("doc_id"), col("z"),
        round((col("z").cast("double") /
          (lit(2.0) * (lit(1L) + abs(col("z")))) + lit(0.5)) * 1000000)
          .cast("long").as("score_micro"))
  }

  /** Curriculum mix SCHEDULE: per-training-step interpolation between
    * the natural (document-proportional) source mix at step 0 and the
    * τ=0.5 temperature-flattened mix (the text-mix-temperature shape)
    * at the final step — the warmup→final weight ramp a curriculum
    * trainer feeds its sampler, step-grain companion to
    * text-sample-weights. Weights are exact integer micro-units; the
    * interpolation (raw·(S−step) + temp·step) div S is all-non-negative
    * integer arithmetic, so Spark's truncating div and DuckDB's
    * flooring // agree.
    *
    * Scale shape: one source-grain map-side-combined aggregate, one
    * 1-row broadcast total, then a 9-step explode over source-grain
    * rows. Corpus pass count: one.
    */
  lazy val textMixSchedule: Op = Op.sql(
    "text-mix-schedule",
    """WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |r AS (SELECT source, n_docs,
      |             CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS r_e6 FROM per),
      |tot AS (SELECT CAST(sum(r_e6) AS BIGINT) AS tot,
      |               CAST(sum(n_docs) AS BIGINT) AS nt FROM r),
      |m AS (SELECT source,
      |             CAST(round(n_docs * 1000000.0 / nt) AS BIGINT) AS raw_e6,
      |             CAST(round(r_e6 * 1000000.0 / tot) AS BIGINT) AS temp_e6
      |      FROM r, tot),
      |st AS (SELECT unnest(generate_series(0, 8)) AS step)
      |SELECT CAST(step AS BIGINT) AS step, source,
      |       CAST((raw_e6 * (8 - step) + temp_e6 * step) // 8 AS BIGINT) AS w_micro
      |FROM m, st ORDER BY step, source""".stripMargin
  ) { (s, d) =>
    val per = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("r_e6", round(sqrt(col("n_docs")) * 1000000).cast("long"))
    val tot = per.agg(sum("r_e6").as("tot"), sum("n_docs").as("nt"))
    per.crossJoin(broadcast(tot))
      .select(col("source"),
        round(col("n_docs") * lit(1000000.0) / col("nt")).cast("long").as("raw_e6"),
        round(col("r_e6") * lit(1000000.0) / col("tot")).cast("long").as("temp_e6"))
      .select(col("source"), col("raw_e6"), col("temp_e6"),
        explode(sequence(lit(0L), lit(8L))).as("step"))
      .select(col("step"), col("source"),
        expr("(raw_e6 * (8 - step) + temp_e6 * step) div 8").as("w_micro"))
      .orderBy("step", "source")
  }

  /** BPE tokenizer ENCODE — the inference half of text-bpe-train: learn
    * the 3 merges with the same training dataflow, then apply them to
    * every document's words and account the result per source (words,
    * symbols before/after, merges fired, compression in basis points) —
    * the table that tells you what a tokenizer buys on each slice of a
    * training mix (reference analogue: per-kind archive statistics,
    * src/command/verify.rs:62-96, at the tokenizer grain).
    *
    * Scale shape: encoding runs at the (source, word-type) grain —
    * map-side-combined frequencies, NEVER the token stream — and each
    * learned merge is a driver-literal string `replace` (config-sized
    * model state, broadcast-free: the pattern is IN the plan), so the
    * whole encode is one groupBy + row-local string work + one
    * source-grain rollup. Missing merges (a corpus that exhausts its
    * pairs early) downgrade to a never-matching sentinel on the oracle
    * side and a shorter fold here — both engines then apply the same
    * k < 3 merges.
    */
  lazy val textBpeApply: Op = Op.sql(
    "text-bpe-apply",
    """WITH v AS (SELECT w, count(*) AS freq
      |           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |           GROUP BY w),
      |s1 AS (SELECT ' ' || regexp_replace(w, '(.)', '\1  ', 'g') AS seq, freq FROM v),
      |e1 AS (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
      |       FROM (SELECT regexp_split_to_array(trim(seq), ' +') AS syms, freq FROM s1)
      |       WHERE len(syms) >= 2),
      |c1 AS (SELECT syms[i] || ' ' || syms[i+1] AS pair,
      |              CAST(sum(freq) AS BIGINT) AS cnt FROM e1 GROUP BY pair),
      |w1 AS (SELECT pair FROM c1 ORDER BY cnt DESC, pair LIMIT 1),
      |s2 AS (SELECT replace(seq, ' ' || replace(pair, ' ', '  ') || ' ',
      |                      ' ' || replace(pair, ' ', '') || ' ') AS seq, freq
      |       FROM s1, w1),
      |e2 AS (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
      |       FROM (SELECT regexp_split_to_array(trim(seq), ' +') AS syms, freq FROM s2)
      |       WHERE len(syms) >= 2),
      |c2 AS (SELECT syms[i] || ' ' || syms[i+1] AS pair,
      |              CAST(sum(freq) AS BIGINT) AS cnt FROM e2 GROUP BY pair),
      |w2 AS (SELECT pair FROM c2 ORDER BY cnt DESC, pair LIMIT 1),
      |s3 AS (SELECT replace(seq, ' ' || replace(pair, ' ', '  ') || ' ',
      |                      ' ' || replace(pair, ' ', '') || ' ') AS seq, freq
      |       FROM s2, w2),
      |e3 AS (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
      |       FROM (SELECT regexp_split_to_array(trim(seq), ' +') AS syms, freq FROM s3)
      |       WHERE len(syms) >= 2),
      |c3 AS (SELECT syms[i] || ' ' || syms[i+1] AS pair,
      |              CAST(sum(freq) AS BIGINT) AS cnt FROM e3 GROUP BY pair),
      |w3 AS (SELECT pair FROM c3 ORDER BY cnt DESC, pair LIMIT 1),
      |p1 AS (SELECT coalesce((SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM w1), chr(1)) AS pat,
      |              coalesce((SELECT ' ' || replace(pair, ' ', '') || ' ' FROM w1), chr(1)) AS rep),
      |p2 AS (SELECT coalesce((SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM w2), chr(1)) AS pat,
      |              coalesce((SELECT ' ' || replace(pair, ' ', '') || ' ' FROM w2), chr(1)) AS rep),
      |p3 AS (SELECT coalesce((SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM w3), chr(1)) AS pat,
      |              coalesce((SELECT ' ' || replace(pair, ' ', '') || ' ' FROM w3), chr(1)) AS rep),
      |sv AS (SELECT source, w, count(*) AS freq
      |       FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |       GROUP BY source, w),
      |f0 AS (SELECT source, freq, ' ' || regexp_replace(w, '(.)', '\1  ', 'g') AS seq FROM sv),
      |fb AS (SELECT source, freq, len(regexp_split_to_array(trim(seq), ' +')) AS nb, seq FROM f0),
      |f1 AS (SELECT source, freq, nb, replace(seq, p1.pat, p1.rep) AS seq FROM fb, p1),
      |f2 AS (SELECT source, freq, nb, replace(seq, p2.pat, p2.rep) AS seq FROM f1, p2),
      |f3 AS (SELECT source, freq, nb, replace(seq, p3.pat, p3.rep) AS seq FROM f2, p3),
      |fa AS (SELECT source, freq, nb,
      |              len(regexp_split_to_array(trim(seq), ' +')) AS na FROM f3)
      |SELECT source,
      |       CAST(sum(freq) AS BIGINT) AS n_words,
      |       CAST(sum(freq * nb) AS BIGINT) AS syms_before,
      |       CAST(sum(freq * na) AS BIGINT) AS syms_after,
      |       CAST(sum(freq * nb) - sum(freq * na) AS BIGINT) AS merges_done,
      |       CAST((sum(freq * na) * 10000) // sum(freq * nb) AS BIGINT) AS compression_bp
      |FROM fa GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    val merges = bpeLearnMerges(s, d, 3).map(_._1)
    val sv = Tables.documents(s, d)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
      .select(col("source"), col("freq"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1  ")).as("seq"))
      .withColumn("nb", size(split(trim(col("seq")), " +")))
    merges.foldLeft(sv)(bpeApplyMerge)
      .withColumn("na", size(split(trim(col("seq")), " +")))
      .groupBy("source")
      .agg(sum("freq").cast("long").as("n_words"),
        sum(col("freq") * col("nb")).cast("long").as("syms_before"),
        sum(col("freq") * col("na")).cast("long").as("syms_after"))
      .withColumn("merges_done", col("syms_before") - col("syms_after"))
      .withColumn("compression_bp", expr("(syms_after * 10000) div syms_before"))
      .orderBy("source")
  }

  /** Interpolated Kneser–Ney smoothed bigram LM (Kneser & Ney 1995;
    * Chen & Goodman 1999), fixed discount D = 0.75 — the smoothing
    * behind the KenLM-style perplexity filters LLM pipelines use
    * (CCNet): P(w2|w1) = (c(w1,w2) − D)/c(w1·) + D·N1+(w1,·)/c(w1·) ×
    * N1+(·,w2)/|bigram types|. Emits the 20 strongest conditional
    * probabilities among bigrams seen ≥ 3 times, in micro-units.
    *
    * Float discipline: D = 3/4 makes the discounted numerator the exact
    * integer (4c − 3)/4, every factor is a ratio of exact integer
    * counts, and the expression tree is IDENTICAL on both engines —
    * IEEE division/multiplication are correctly rounded, so the double
    * is bit-identical cross-engine and the 6-dp micro snap is safe
    * (no libm anywhere).
    *
    * Scale shape: one map-side-combined groupBy reduces the token
    * stream to the bigram-TYPE table; left statistics (c(w1·) and
    * N1+(w1,·)) come from ONE reuse of that reduced table, right
    * continuation counts from another — all joins run at the model
    * grain, never the corpus grain — and the top-20 is a
    * TakeOrderedAndProject (map-side top-k, no window). Reference
    * analogue: the corpus-statistics rollup of
    * src/command/verify.rs:62-96, lifted to the n-gram model grain
    * (the reference has no LM tier — extension scope).
    */
  /** Corpus bigram stream at (doc_id, source, is_train, w1, w2) — the
    * shared front of the three KN-LM ops (textKnBigram's model table,
    * textDocPerplexity's training-corpus scorer, textPerplexityHoldout's
    * held-out scorer), so the tokenization, the ≥ 2-token filter and the
    * bigram explode can never diverge between them. `is_train` is the
    * text-train-split 'train' predicate (md5 bucket < 'e6'); consumers
    * that model the whole corpus simply ignore it (Catalyst prunes the
    * unused column). SQL mirror: [[DocBigramCtes]].
    */
  private[ops] def docBigramStream(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("ws"),
        (substring(md5(col("text")), 1, 2) < "e6").as("is_train"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("source"), col("is_train"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("source"), col("is_train"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** KN model tables over a bigram stream: (cxy bigram types with counts,
    * lft = c(w1·)/N1+(w1,·), rgt = N1+(·,w2)) — the bigram-TYPE-grain
    * model shared by the three KN-LM ops. SQL mirror: [[knModelCtes]].
    */
  private[ops] def knModelTables(pr: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // Deliberately NOT persisted (round-13 A/B): cxy's consumers (lft,
    // rgt, totals, the scoring join) are narrow re-aggregations of its
    // REUSED exchange — column pruning makes each re-agg cheaper than the
    // full-width in-memory materialization a persist forces (measured
    // min-of-3 interleaved: text-min-k-prob 1.58 → 1.94 s,
    // text-perplexity-holdout 1.18 → 1.67 s WITH a persist; kn-bigram /
    // doc-perplexity a wash). Contrast minhash signatures, where the
    // repeated work is a 32-column aggregate pruning can't shrink.
    val cxy = pr.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val lft = cxy.groupBy("w1").agg(sum("cnt").cast("long").as("cx"),
      count(lit(1)).as("n1l"))
    val rgt = cxy.groupBy("w2").agg(count(lit(1)).as("n1r"))
    (cxy, lft, rgt)
  }

  /** SQL mirror of [[docBigramStream]]: `d0` + `pr` CTEs (starts with
    * WITH; append further CTEs after a comma). Lazy: the `ops` board val
    * is declared earlier in the object and forces the LM ops during
    * object init — a strict val here would still be null at that point.
    */
  private[ops] lazy val DocBigramCtes: String =
    """WITH d0 AS (SELECT doc_id, source, string_split(text, ' ') AS ws,
      |                   substr(md5(text), 1, 2) < 'e6' AS is_train
      |            FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |pr AS (SELECT doc_id, source, is_train, ws[i] AS w1, ws[i + 1] AS w2
      |       FROM (SELECT doc_id, source, is_train, ws,
      |                    unnest(generate_series(1, len(ws) - 1)) AS i FROM d0))""".stripMargin

  /** The KN min-count prune (session conf `graft.kn.minCount`, default 1
    * = keep every type — the shipped-SF behavior): drops rare bigram
    * types from the SCORING side of the model before it rides a
    * broadcast, exactly how a shipped KenLM prunes before loading. At
    * 100 TB the unpruned bigram-TYPE table is broadcast-hostile; this is
    * the knob PLANS.md's scale rule names. Model statistics (lft / rgt /
    * T) stay at the full type grain. Consumer semantics (per the
    * held-out scorer, the ONLY prunable consumer): a pruned-but-seen
    * pair flows to the backoff branch and counts as OOV — exactly how a
    * pruned KenLM treats it. The training-corpus scorer
    * (text-doc-perplexity) is deliberately NOT pruned: its design
    * premise is that every scored bigram is in-model (no backoff
    * branch), so a prune there would silently drop bigram occurrences
    * from the per-document mean; its broadcast guard names the holdout
    * scorer as the scale remedy instead.
    */
  private[ops] def knPruned(cxy: DataFrame): DataFrame = {
    val minCount =
      cxy.sparkSession.conf.get("graft.kn.minCount", "1").toLong
    require(minCount >= 1, s"graft.kn.minCount must be >= 1, got $minCount")
    if (minCount > 1) cxy.filter(col("cnt") >= minCount) else cxy
  }

  /** Driver-side bound assert on a model table headed into a broadcast —
    * the sim-mahalanobis precedent (SimOps.scala:1835): at scale the
    * failure mode must be an actionable message, not an executor OOM
    * mid-broadcast. Counts the model ONCE when session conf
    * `graft.kn.maxBroadcastTypes` is set (production deployments set it
    * alongside `graft.kn.minCount`; unset — the shipped-SF default — the
    * count job is skipped and the plan is byte-identical to round 10).
    * `remedy` names the lever that ACTUALLY shrinks this broadcast —
    * per-consumer, because they differ: the doc scorer's LM table
    * shrinks with graft.kn.minCount, but the holdout scorer's lp table
    * is HELD-OUT-type-sized (hb left-joins the model, so pruning cannot
    * shrink it) — there the remedy is scoring in smaller held-out
    * batches.
    */
  private[ops] def knBroadcastGuard(model: DataFrame, what: String,
      remedy: String): DataFrame = {
    model.sparkSession.conf.getOption("graft.kn.maxBroadcastTypes")
      .foreach { boundS =>
        val bound = boundS.toLong
        val n = model.count()
        require(n <= bound,
          s"$what: $n bigram types exceed graft.kn.maxBroadcastTypes=$bound " +
            s"— $remedy, or raise the bound if executors have the memory")
      }
    model
  }

  /** KN backoff scoring table over a DISTINCT (w1, w2) pair set: the
    * three-branch interpolated-KN probability of [[textPerplexityHoldout]]
    * (seen pair / seen-w1 backoff / continuation-only), with
    * Pcont(w2) = (N1+(·,w2)+1)/(T+V) the Laplace-smoothed continuation.
    * Factored out so the holdout scorer and the Min-K% membership scorer
    * ([[textMinKProb]]) share one expression tree and can never diverge
    * on branches, smoothing or the micro-nat snap. `scoredPairs` must be
    * distinct (the lp table is scored-TYPE-grain); model tables come from
    * [[knModelTables]]; `tv` is the 1-row (t, v) totals table. The model join
    * rides [[knPruned]] (graft.kn.minCount) and the result passes the
    * [[knBroadcastGuard]] with a per-consumer remedy. SQL mirror:
    * [[knBackoffLpCte]].
    */
  private[ops] def knBackoffLp(scoredPairs: DataFrame, cxy: DataFrame,
      lft: DataFrame, rgt: DataFrame, tv: DataFrame,
      what: String, remedy: String): DataFrame = {
    val pcont = (coalesce(col("n1r"), lit(0L)) + 1) /
      (lit(1.0) * (col("t") + col("v")))
    knBroadcastGuard(scoredPairs
      .join(knPruned(cxy), Seq("w1", "w2"), "left_outer")
      .join(lft, Seq("w1"), "left_outer")
      .join(rgt, Seq("w2"), "left_outer")
      .crossJoin(broadcast(tv))
      .select(col("w1"), col("w2"),
        round(log(
          when(col("cnt").isNotNull,
            ((lit(4) * col("cnt") - 3) / (lit(4.0) * col("cx"))) +
              (((lit(3.0) * col("n1l")) / (lit(4.0) * col("cx"))) * pcont))
            .when(col("cx").isNotNull,
              ((lit(3.0) * col("n1l")) / (lit(4.0) * col("cx"))) * pcont)
            .otherwise(pcont)) * 1000000).cast("long").as("lp"),
        when(col("cnt").isNull, 1L).otherwise(0L).as("oov")),
      what, remedy)
  }

  /** SQL mirror of [[knBackoffLp]]: the `lp` CTE over the distinct pair
    * source `src` (expects cxy/lft/rgt/tv CTEs in scope). */
  private[ops] def knBackoffLpCte(src: String): String =
    s"""lp AS (SELECT $src.w1, $src.w2,
       |              CAST(round(ln(CASE
       |                WHEN cxy.cnt IS NOT NULL THEN
       |                  ((4 * cxy.cnt - 3) / (4.0 * lft.cx)) +
       |                  (((3.0 * lft.n1l) / (4.0 * lft.cx)) *
       |                   ((coalesce(rgt.n1r, 0) + 1) / (1.0 * (tv.t + tv.v))))
       |                WHEN lft.cx IS NOT NULL THEN
       |                  ((3.0 * lft.n1l) / (4.0 * lft.cx)) *
       |                  ((coalesce(rgt.n1r, 0) + 1) / (1.0 * (tv.t + tv.v)))
       |                ELSE (coalesce(rgt.n1r, 0) + 1) / (1.0 * (tv.t + tv.v))
       |              END) * 1000000) AS BIGINT) AS lp,
       |              CASE WHEN cxy.cnt IS NULL THEN 1 ELSE 0 END AS oov
       |       FROM $src LEFT JOIN cxy ON $src.w1 = cxy.w1 AND $src.w2 = cxy.w2
       |                LEFT JOIN lft ON $src.w1 = lft.w1
       |                LEFT JOIN rgt ON $src.w2 = rgt.w2, tv)""".stripMargin

  /** SQL mirror of [[knModelTables]] over the bigram source `src`. */
  private[ops] def knModelCtes(src: String): String =
    s"""cxy AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM $src GROUP BY 1, 2),
       |lft AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS cx,
       |               CAST(count(*) AS BIGINT) AS n1l FROM cxy GROUP BY w1),
       |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM cxy GROUP BY w2)""".stripMargin

  lazy val textKnBigram: Op = Op.sql(
    "text-kn-bigram",
    s"""$DocBigramCtes,
       |${knModelCtes("pr")},
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM cxy)
       |SELECT w1, w2, cnt,
       |       CAST(round((((4 * cnt - 3) / (4.0 * cx)) +
       |                   (((3.0 * n1l) / (4.0 * cx)) * (n1r / (1.0 * t))))
       |                  * 1000000) AS BIGINT) AS pkn_micro
       |FROM cxy JOIN lft USING (w1) JOIN rgt USING (w2), tt
       |WHERE cnt >= 3
       |ORDER BY pkn_micro DESC, w1, w2 LIMIT 20""".stripMargin
  ) { (s, d) =>
    // the bigram-TYPE table is the LM model — reduce once, reuse thrice
    val (cxy, lft, rgt) = knModelTables(docBigramStream(s, d))
    val tt = cxy.agg(count(lit(1)).as("t"))
    cxy.join(lft, "w1").join(rgt, "w2").crossJoin(broadcast(tt))
      .filter(col("cnt") >= 3)
      .withColumn("pkn_micro",
        round((((lit(4) * col("cnt") - 3) / (lit(4.0) * col("cx"))) +
          (((lit(3.0) * col("n1l")) / (lit(4.0) * col("cx"))) *
            (col("n1r") / (lit(1.0) * col("t"))))) * 1000000)
          .cast("long"))
      .select("w1", "w2", "cnt", "pkn_micro")
      .orderBy(col("pkn_micro").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Interpolated Kneser–Ney TRIGRAM LM (Chen & Goodman 1999 eq. 4.24 at
    * order 3 — the shape a shipped KenLM actually loads): the top-20
    * trigram types by
    *   P_KN(w3|w1w2) = (c₃−D)/c(w1w2·) + D·N1+(w1w2·)/c(w1w2·) · P_KN(w3|w2)
    * where the ORDER-2 term is the CONTINUATION bigram model — counts
    * c'(w2w3) = N1+(·w2w3) (distinct left contexts, not raw counts: the
    * Kneser–Ney insight that "Francisco" is frequent but follows only
    * "San") — recursing into the continuation unigram
    * N1+(·w3)/N1+(··). D = 3/4 exactly as [[textKnBigram]], so the two
    * orders share the discount discipline. Extends the round-9/10 LM
    * family (bigram model → doc scoring → held-out scoring → order 3);
    * reference analogue: src/command/verify.rs:516-577 at the LM grain
    * (extension scope — the reference has no LM tier).
    *
    * Float discipline: every factor is an exact-integer ratio combined
    * in ONE identical expression tree both engines (no libm anywhere);
    * the only rounding is the final micro snap. Denominators are
    * positive by construction (c(w1w2·) ≥ c₃ ≥ 1, c'(w2·) ≥ 1,
    * N1+(··) ≥ 1 on any corpus with one trigram).
    *
    * Scale shape: ONE corpus token→trigram pass, map-side combined to
    * the trigram-TYPE grain; every model table derives from c3 by
    * further type-grain reductions (contexts (w1,w2), continuation
    * bigrams (w2,w3), continuation-context (w2), continuation-unigram
    * (w3), 1-row total) — the corpus never joins anything. The scoring
    * joins run at the TYPE grain keyed (w1,w2) / (w2,w3) / (w2) / (w3);
    * the (w2)/(w3)/total tables are vocabulary-sized or smaller and the
    * final top-20 is a TakeOrdered, never a global sort.
    */
  lazy val textKnTrigram: Op = Op.sql(
    "text-kn-trigram",
    """WITH d0 AS (SELECT string_split(text, ' ') AS ws FROM documents
      |            WHERE len(string_split(text, ' ')) >= 3),
      |tr AS (SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
      |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i
      |             FROM d0)),
      |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS cnt
      |       FROM tr GROUP BY 1, 2, 3),
      |ctx AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c2,
      |               CAST(count(*) AS BIGINT) AS n1p3
      |        FROM c3 GROUP BY w1, w2),
      |cb AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cp
      |       FROM c3 GROUP BY w2, w3),
      |cbx AS (SELECT w2, CAST(sum(cp) AS BIGINT) AS cpx,
      |               CAST(count(*) AS BIGINT) AS n1p2
      |        FROM cb GROUP BY w2),
      |pc AS (SELECT w3, CAST(count(*) AS BIGINT) AS nc FROM cb GROUP BY w3),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM cb)
      |SELECT w1, w2, w3, cnt,
      |       CAST(round((((4 * cnt - 3) / (4.0 * c2)) +
      |                   (((3.0 * n1p3) / (4.0 * c2)) *
      |                    (((4 * cp - 3) / (4.0 * cpx)) +
      |                     (((3.0 * n1p2) / (4.0 * cpx)) * (nc / (1.0 * t))))))
      |                  * 1000000) AS BIGINT) AS pkn_micro
      |FROM c3 JOIN ctx USING (w1, w2) JOIN cb USING (w2, w3)
      |        JOIN cbx USING (w2) JOIN pc USING (w3), tt
      |WHERE cnt >= 3
      |ORDER BY pkn_micro DESC, w1, w2, w3 LIMIT 20""".stripMargin
  ) { (s, d) =>
    val tr = Tables.documents(s, d)
      .select(TextAnalysis.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2"),
          element_at(col("ws"), i + 2).as("w3")))).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
    // c3/cb deliberately NOT persisted (round-13 A/B): their consumers are
    // narrow re-aggs of reused exchanges; a persist regressed the op
    // 1.79 → 2.98 s (min-of-3 interleaved) — same finding as knModelTables.
    val c3 = tr.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("cnt"))
    val ctx = c3.groupBy("w1", "w2").agg(sum("cnt").cast("long").as("c2"),
      count(lit(1)).as("n1p3"))
    val cb = c3.groupBy("w2", "w3").agg(count(lit(1)).as("cp"))
    val cbx = cb.groupBy("w2").agg(sum("cp").cast("long").as("cpx"),
      count(lit(1)).as("n1p2"))
    val pc = cb.groupBy("w3").agg(count(lit(1)).as("nc"))
    val tt = cb.agg(count(lit(1)).as("t"))
    c3.join(ctx, Seq("w1", "w2")).join(cb, Seq("w2", "w3"))
      .join(cbx, Seq("w2")).join(pc, Seq("w3")).crossJoin(broadcast(tt))
      .filter(col("cnt") >= 3)
      .withColumn("pkn_micro",
        round((((lit(4) * col("cnt") - 3) / (lit(4.0) * col("c2"))) +
          (((lit(3.0) * col("n1p3")) / (lit(4.0) * col("c2"))) *
            (((lit(4) * col("cp") - 3) / (lit(4.0) * col("cpx"))) +
              (((lit(3.0) * col("n1p2")) / (lit(4.0) * col("cpx"))) *
                (col("nc") / (lit(1.0) * col("t"))))))) * 1000000)
          .cast("long"))
      .select("w1", "w2", "w3", "cnt", "pkn_micro")
      .orderBy(col("pkn_micro").desc, col("w1"), col("w2"), col("w3"))
      .limit(20)
  }

  /** Per-document cross-entropy under the interpolated Kneser–Ney bigram
    * LM of [[textKnBigram]] — the CCNet/KenLM-style perplexity quality
    * filter (Wenzek et al. 2020): each document's bigrams score
    * −ln P_KN(w2|w1) under the corpus-trained model, the per-document
    * mean is its cross-entropy in micro-nats-per-bigram (low = fluent,
    * high = junk), and documents bucket into corpus-wide deciles; the
    * emitted (source, decile) table — document count and mean
    * cross-entropy — is the quality profile a 100 TB mix is screened on
    * before training. Reference analogue: the per-file content
    * validation pass of src/command/verify.rs:516-577, lifted to the LM
    * grain (the reference has no LM tier — extension scope).
    *
    * Float discipline: P_KN is the EXACT-integer-ratio tree of
    * textKnBigram (D = 3/4, no libm inside), so its double is
    * bit-identical cross-engine; the single ln() snaps to integer
    * micro-nats at the MODEL grain (the textClassifierScore precedent),
    * and every downstream step is exact-integer sums / identical-tree
    * divisions. Scoring the training corpus means every document bigram
    * IS in the model — no OOV branch (a held-out scorer would add the
    * backoff-only term). Decile boundaries follow the
    * textQualityDeciles engine-stability argument (interpolated
    * percentiles of integers, identical formula both engines).
    *
    * Scale shape: the only corpus-grain work is one token→bigram pass,
    * read twice (model build and scoring — like sim-mahalanobis' two
    * scans, cheaper than persisting at 100 TB); the model tables (cxy /
    * left / continuation stats) all live at the bigram-TYPE grain and
    * the scoring join BROADCASTS the model into the per-document fold
    * (a shipped KenLM does exactly this — the model rides in executor
    * memory); the decile pass is a 1-row percentile broadcast and the
    * output rollup is (source × 10)-sized.
    */
  lazy val textDocPerplexity: Op = Op.sql(
    "text-doc-perplexity",
    s"""$DocBigramCtes,
      |${knModelCtes("pr")},
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM cxy),
      |lm AS (SELECT w1, w2,
      |         CAST(round(ln(((4 * cnt - 3) / (4.0 * cx)) +
      |                       (((3.0 * n1l) / (4.0 * cx)) * (n1r / (1.0 * t))))
      |                    * 1000000) AS BIGINT) AS lp
      |       FROM cxy JOIN lft USING (w1) JOIN rgt USING (w2), tt),
      |dx AS (SELECT pr.doc_id, pr.source,
      |              CAST(round(-sum(lm.lp) * 1.0 / count(*)) AS BIGINT) AS xent_micro
      |       FROM pr JOIN lm USING (w1, w2) GROUP BY pr.doc_id, pr.source),
      |b AS (SELECT quantile_cont(xent_micro,
      |               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds FROM dx),
      |bk AS (SELECT source, xent_micro,
      |              len(list_filter(bnds, x -> x <= xent_micro)) AS bucket
      |       FROM dx, b)
      |SELECT source, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
      |       CAST(round(sum(xent_micro) * 1.0 / count(*)) AS BIGINT) AS mean_xent_micro
      |FROM bk GROUP BY source, bucket ORDER BY source, bucket""".stripMargin
  ) { (s, d) =>
    val pr = docBigramStream(s, d)
    // the KN model at the bigram-TYPE grain — textKnBigram's exact trees
    val (cxy, lft, rgt) = knModelTables(pr)
    val tt = cxy.agg(count(lit(1)).as("t"))
    // NOT knPruned: this op scores the TRAINING corpus, where every
    // bigram is in-model by design (no backoff branch) — a prune here
    // would silently drop occurrences from the per-document mean. The
    // prunable deployment scorer is text-perplexity-holdout.
    val lm = knBroadcastGuard(
      cxy.join(lft, "w1").join(rgt, "w2").crossJoin(broadcast(tt))
        .select(col("w1"), col("w2"),
          round(log((((lit(4) * col("cnt") - 3) / (lit(4.0) * col("cx"))) +
            (((lit(3.0) * col("n1l")) / (lit(4.0) * col("cx"))) *
              (col("n1r") / (lit(1.0) * col("t")))))) * 1000000)
            .cast("long").as("lp")),
      "text-doc-perplexity LM",
      "this exact training-corpus scorer cannot prune (every bigram must " +
        "be in-model) — at this scale score with text-perplexity-holdout's " +
        "pruned backoff scorer (graft.kn.minCount) instead")
    val dx = pr.join(broadcast(lm), Seq("w1", "w2"))
      .groupBy("doc_id", "source")
      .agg(round(-sum("lp") * lit(1.0) / count(lit(1))).cast("long").as("xent_micro"))
    val bnds = dx.agg(expr(
      "percentile(xent_micro, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))")
      .as("bnds"))
    dx.crossJoin(broadcast(bnds))
      .select(col("source"),
        size(filter(col("bnds"), x => x <= col("xent_micro"))).cast("long").as("bucket"),
        col("xent_micro"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(sum("xent_micro") * lit(1.0) / count(lit(1))).cast("long")
          .as("mean_xent_micro"))
      .orderBy("source", "bucket")
  }

  /** HELD-OUT perplexity under the KN bigram LM — the deployment shape of
    * [[textDocPerplexity]]: the model trains on the text-train-split
    * 'train' partition (md5-bucket < 'e6', ~90%) and scores the held-out
    * ~10%, which is where the OOV/backoff branches the training-corpus
    * scorer never reaches become load-bearing. Bigram probability by
    * case, with Pcont(w2) = (N1+(·,w2) + 1)/(T + V) the Laplace-smoothed
    * continuation (V = model right-type count + 1 — the floor that keeps
    * every unseen word scorable, the role KenLM's <unk> plays):
    *  - seen (w1,w2):   (4c−3)/(4·c(w1·)) + (3·N1+(w1,·)/(4·c(w1·)))·Pcont
    *  - unseen pair, seen w1: (3·N1+(w1,·)/(4·c(w1·)))·Pcont (the
    *    discount mass backs off to the smoothed continuation)
    *  - unseen w1:      Pcont alone.
    * Emits per source: held-out doc count, mean cross-entropy in
    * micro-nats-per-bigram, and the OOV-bigram share in basis points —
    * the generalization-vs-memorization read a quality screen is
    * calibrated on before it gates UNSEEN data at 100 TB. Reference
    * analogue: src/command/verify.rs:516-577 at the LM grain (extension
    * scope).
    *
    * Float discipline: every factor is an exact-integer ratio in an
    * identical tree (T + V ≥ 1 always — no zero denominator; c(w1·) > 0
    * whenever that branch is reached); the single ln() snaps to integer
    * micro-nats at the held-out bigram-TYPE grain; oov_bp divides
    * non-negative integers (div == // safe).
    *
    * Scale shape: two token→bigram passes (train-model, held-out-score),
    * both map-side combined to TYPE grain before any join; the lp table
    * is held-out-type-sized with the model tables left-joined at the
    * type grain; the per-doc fold joins the corpus-grain held-out bigram
    * stream against the broadcast lp table (the KenLM-in-executor-memory
    * shape); the rollup is source-grain.
    */
  lazy val textPerplexityHoldout: Op = Op.sql(
    "text-perplexity-holdout",
    s"""$DocBigramCtes,
      |trn AS (SELECT w1, w2 FROM pr WHERE is_train),
      |${knModelCtes("trn")},
      |tv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM cxy) AS t,
      |              (SELECT CAST(count(*) AS BIGINT) + 1 FROM rgt) AS v),
      |hb AS (SELECT DISTINCT w1, w2 FROM pr WHERE NOT is_train),
      |${knBackoffLpCte("hb")},
      |dx AS (SELECT pr.doc_id, pr.source,
      |              CAST(round(-sum(lp.lp) * 1.0 / count(*)) AS BIGINT) AS xent,
      |              CAST(sum(lp.oov) AS BIGINT) AS n_oov,
      |              CAST(count(*) AS BIGINT) AS n_bi
      |       FROM pr JOIN lp ON pr.w1 = lp.w1 AND pr.w2 = lp.w2
      |       WHERE NOT pr.is_train GROUP BY pr.doc_id, pr.source)
      |SELECT source, count(*) AS n_docs,
      |       CAST(round(sum(xent) * 1.0 / count(*)) AS BIGINT) AS mean_xent_micro,
      |       CAST((sum(n_oov) * 10000) // sum(n_bi) AS BIGINT) AS oov_bp
      |FROM dx GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    val pr = docBigramStream(s, d)
    val (cxy, lft, rgt) = knModelTables(pr.filter(col("is_train")))
    val tv = cxy.agg(count(lit(1)).as("t"))
      .crossJoin(rgt.agg((count(lit(1)) + 1).as("v")))
    val hb = pr.filter(!col("is_train")).select("w1", "w2").distinct()
    val lp = knBackoffLp(hb, cxy, lft, rgt, tv,
      "text-perplexity-holdout scoring table",
      "this table is HELD-OUT-type-sized (graft.kn.minCount prunes the " +
        "model joins, not this broadcast) — score in smaller held-out " +
        "batches (split the md5 bucket range) or partition the scoring join")
    val dx = pr.filter(!col("is_train"))
      .join(broadcast(lp), Seq("w1", "w2"))
      .groupBy("doc_id", "source")
      .agg(round(-sum("lp") * lit(1.0) / count(lit(1))).cast("long").as("xent"),
        sum("oov").cast("long").as("n_oov"),
        count(lit(1)).as("n_bi"))
    dx.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum("xent") * lit(1.0) / count(lit(1))).cast("long")
          .as("mean_xent_micro"),
        expr("(sum(n_oov) * 10000) div sum(n_bi)").as("oov_bp"))
      .orderBy("source")
  }

  /** Min-K% Prob membership inference (Shi et al. 2024, "Detecting
    * Pretraining Data from Large Language Models"): per document, score
    * every bigram under the KN model trained on the text-train-split
    * 'train' partition, keep only the k% = 20% LEAST-probable bigrams
    * (the document's hardest tokens) and average their costs. Member
    * documents (the model saw them) stay cheap even on their worst
    * bigrams; non-members spike — the per-(source, split) rollup of mean
    * and median Min-K cost is the memorization/contamination read: a
    * "held-out" source whose Min-K distribution matches the member one
    * has leaked into training. Complements [[textDocPerplexity]] (mean
    * over ALL tokens — fluency) and text-contamination (surface n-gram
    * overlap — this op needs no benchmark list). Reference analogue:
    * the per-file content-validation pass of
    * /root/reference/src/command/verify.rs:516-577, lifted to the LM
    * grain (extension scope — the reference has no LM tier).
    *
    * Float discipline: the per-pair cost is [[knBackoffLp]]'s integer
    * micro-nat (shared tree with the holdout scorer — the branches
    * cannot diverge); the Min-K selection sorts INTEGER costs
    * descending (ties are equal values, so the boundary pick cannot
    * change the sum); k_sel = greatest(1, n div 5) divides non-negative
    * integers (div == //); the two terminal means are identical
    * round(sum·1.0/n) trees and the median is the interpolated
    * percentile of integers both engines compute with the same formula.
    *
    * Scale shape: three corpus token→bigram passes (model build on the
    * train split, distinct scored-pair set, scoring), each map-side
    * combined or distinct-reduced to the TYPE grain before any join;
    * the lp table is corpus-bigram-TYPE-sized and BROADCASTS into the
    * per-document fold ([[knBroadcastGuard]]-checked — at 100 TB score
    * in md5-bucket batches); the per-document Min-K fold is a
    * collect_list at the DOC grain (state per group = the document's
    * own bigram list, the same bound as the text column itself) with
    * the sort/slice/sum running row-locally — no corpus-grain window
    * sort anywhere; the rollup is (source × 2)-sized.
    */
  lazy val textMinKProb: Op = Op.sql(
    "text-min-k-prob",
    s"""$DocBigramCtes,
      |trn AS (SELECT w1, w2 FROM pr WHERE is_train),
      |${knModelCtes("trn")},
      |tv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM cxy) AS t,
      |              (SELECT CAST(count(*) AS BIGINT) + 1 FROM rgt) AS v),
      |sp AS (SELECT DISTINCT w1, w2 FROM pr),
      |${knBackoffLpCte("sp")},
      |sc AS (SELECT pr.doc_id, pr.source, pr.is_train, -lp.lp AS cost,
      |              row_number() OVER (PARTITION BY pr.doc_id
      |                ORDER BY -lp.lp DESC, pr.w1, pr.w2) AS r,
      |              count(*) OVER (PARTITION BY pr.doc_id) AS n
      |       FROM pr JOIN lp ON pr.w1 = lp.w1 AND pr.w2 = lp.w2),
      |dk AS (SELECT doc_id, source, is_train,
      |              CAST(round(sum(CASE WHEN r <= greatest(1, n // 5)
      |                                  THEN cost END) * 1.0
      |                         / greatest(1, n // 5)) AS BIGINT) AS mink
      |       FROM sc GROUP BY doc_id, source, is_train, n)
      |SELECT source,
      |       CASE WHEN is_train THEN 'member' ELSE 'holdout' END AS split,
      |       count(*) AS n_docs,
      |       CAST(round(sum(mink) * 1.0 / count(*)) AS BIGINT) AS mean_mink_micro,
      |       round(quantile_cont(mink, 0.5), 1) AS p50_mink_micro
      |FROM dk GROUP BY source, is_train ORDER BY source, split""".stripMargin
  ) { (s, d) =>
    val pr = docBigramStream(s, d)
    val (cxy, lft, rgt) = knModelTables(pr.filter(col("is_train")))
    val tv = cxy.agg(count(lit(1)).as("t"))
      .crossJoin(rgt.agg((count(lit(1)) + 1).as("v")))
    val sp = pr.select("w1", "w2").distinct()
    val lp = knBackoffLp(sp, cxy, lft, rgt, tv,
      "text-min-k-prob scoring table",
      "this table is corpus-bigram-TYPE-sized — score in md5-bucket " +
        "batches (split the scored pair set) or partition the scoring join")
    pr.join(broadcast(lp), Seq("w1", "w2"))
      .groupBy("doc_id", "source", "is_train")
      .agg(collect_list((-col("lp")).cast("long")).as("costs"))
      .select(col("source"), col("is_train"),
        expr("greatest(1L, size(costs) div 5)").as("k_sel"),
        reverse(array_sort(col("costs"))).as("sorted"))
      .select(col("source"), col("is_train"),
        round(aggregate(slice(col("sorted"), lit(1), col("k_sel").cast("int")),
          lit(0L), (a, b) => a + b) * lit(1.0) / col("k_sel"))
          .cast("long").as("mink"))
      .groupBy("source", "is_train")
      .agg(count(lit(1)).as("n_docs"),
        round(sum("mink") * lit(1.0) / count(lit(1))).cast("long")
          .as("mean_mink_micro"),
        round(expr("percentile(mink, 0.5)"), 1).as("p50_mink_micro"))
      .select(col("source"),
        when(col("is_train"), "member").otherwise("holdout").as("split"),
        col("n_docs"), col("mean_mink_micro"), col("p50_mink_micro"))
      .orderBy("source", "split")
  }

  /** Term burstiness (Church & Gale 1995; Katz 1996): for every term
    * with document frequency ≥ 5, the mean occurrences PER CONTAINING
    * DOCUMENT (cf/df) — the overdispersion signal that separates topical
    * content words (bursty: when they appear, they appear repeatedly)
    * from function words (evenly spread, cf/df ≈ 1) without any stopword
    * list. Top-20 burstiest terms with their corpus and document
    * frequencies — the read a vocab builder or tf-idf damping schedule
    * is calibrated on (complements text-collocations' cross-term PMI and
    * text-token-histogram's raw Zipf head). Reference analogue: the
    * per-kind archive statistics of
    * /root/reference/src/command/verify.rs:62-96, lifted to the term
    * grain (extension scope).
    *
    * Integer discipline: burst_micro = (cf·10⁶) div df on positive
    * integers (div == //); ties order by term ascending both engines.
    *
    * Scale shape: ONE corpus token pass map-side combined at the
    * (term, doc) grain, then a (term)-grain reduction — the classic
    * two-level distinct-count shape with no Expand; the df ≥ 5 prune
    * lands before the ranking and the top-20 is a TakeOrdered, never a
    * global sort.
    */
  lazy val textTermBurstiness: Op = Op.sql(
    "text-term-burstiness",
    """WITH pd AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |                  FROM documents)
      |            GROUP BY w, doc_id),
      |st AS (SELECT w, CAST(sum(c) AS BIGINT) AS cf,
      |              CAST(count(*) AS BIGINT) AS df
      |       FROM pd GROUP BY w)
      |SELECT w, cf, df, CAST((cf * 1000000) // df AS BIGINT) AS burst_micro
      |FROM st WHERE df >= 5
      |ORDER BY burst_micro DESC, w LIMIT 20""".stripMargin
  ) { (s, d) =>
    val pd = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
    pd.groupBy("w").agg(sum("c").as("cf"), count(lit(1)).as("df"))
      .filter(col("df") >= 5)
      .select(col("w"), col("cf"), col("df"),
        expr("(cf * 1000000) div df").as("burst_micro"))
      .orderBy(col("burst_micro").desc, col("w"))
      .limit(20)
  }
}
