package graft

import org.apache.spark.sql.execution.SimpleMode

/** Mechanical guard for the PLANS.md audit: the plans that must push down,
  * prune, and broadcast keep doing so. Catches silent plan regressions
  * (e.g. a refactor that breaks filter pushdown) without eyeballing
  * explain output.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(op: String): String =
    SparkEntry.queries(op)(spark, sf())
      .queryExecution.explainString(SimpleMode)

  test("filter-height-range pushes the range to the parquet scan") {
    val p = plan("filter-height-range")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThanOrEqual(o_orderkey,100)"), p)
  }

  test("project-height scans exactly one column") {
    val p = plan("project-height")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint>"), p)
  }

  test("semi-join-fork broadcasts the canonical side") {
    val p = plan("semi-join-fork")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_max"), p) // map-side combine before the exchange
  }

  test("tail-n pushes the literal head range to the parquet scan") {
    val p = plan("tail-n")
    // Two-job literal pattern: the BETWEEN bounds must reach PushedFilters
    // so row-group stats prune the archive down to the tail.
    assert(p.contains("GreaterThanOrEqual(o_orderkey,"), p)
    assert(p.contains("LessThanOrEqual(o_orderkey,"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("topk-largest-group never funnels the table through k key partitions") {
    val p = plan("topk-largest-group")
    // round 8: the bounded top-k aggregate partial-combines to <= k rows
    // per (group, map partition) BEFORE the exchange — keying on the raw
    // 3-value group column is now safe because shuffle volume is bounded
    // by configuration, not data
    assert(p.contains("partial_bounded_top_structs"), p)
  }

  test("sim-topk-cosine never funnels the corpus through per-query partitions") {
    val p = plan("sim-topk-cosine")
    // the bounded top-k partial aggregate must combine map-side; with a
    // handful of queries an unaggregated exchange keyed on q_id alone
    // would put every scored corpus row for one query into a single task
    assert(p.contains("partial_bounded_top_structs"), p)
  }

  test("dedup-simhash sizes fingerprint groups without a fingerprint window") {
    val p = plan("dedup-simhash")
    // n_same must come from groupBy (map-side combine) + broadcast join —
    // a window partitioned by simhash funnels hot fingerprints
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window [count(1)"), p)
  }

  // The dedup ops persist the pruned shingle set (an InMemoryRelation hides
  // the subtree from the op's explain string), so the shingle-pipeline
  // invariants are audited on the pure composition the ops wrap.
  private def pureShingles = graft.dedup.Dedup.shingleSets(
    Tables.documents(spark, sf()), "doc_id", "text")

  test("dedup-ngram-jaccard broadcasts the hot-shingle prune, never a cartesian") {
    val p = graft.dedup.Dedup.jaccardPairs(pureShingles, 0.5)
      .queryExecution.explainString(SimpleMode)
    // the df-prune's hot-key set is tiny → must reach the anti-join as a
    // broadcast; a viral shingle must never trigger a cartesian product
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup-minhash band join stays a hash join (no cartesian)") {
    val p = graft.dedup.Dedup.minhashNearDups(pureShingles, 0.8)
      .queryExecution.explainString(SimpleMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim-ivf-ann assigns lists without shuffling the corpus") {
    val p = plan("sim-ivf-ann")
    // assignment is a projection over centroid literals; the only join on
    // the corpus is the broadcast of the (tiny) probe set
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one exchange may hash-partition corpus rows: the final
    // per-query top-k window; nothing before the join repartitions
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val corpusSide = p.substring(joinIdx)
    assert(!p.substring(0, joinIdx).contains("hashpartitioning(n_id"), p)
    assert(corpusSide.nonEmpty)
  }

  test("dedup-embedding-lsh joins on the bucket, never a cartesian") {
    val p = plan("dedup-embedding-lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text-contamination broadcasts the benchmark shingles") {
    val p = plan("text-contamination")
    // the corpus side must stream against a broadcast of the (tiny)
    // benchmark shingle set — a sort-merge join would shuffle the corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text-pack-sequences windows per shard, never globally") {
    val p = plan("text-pack-sequences")
    // the running token sum must exchange on the shard key — an empty
    // partition spec here would funnel the corpus through one task
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("q1_agg partial-aggregates before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), p)
    assert(p.contains("Exchange hashpartitioning(l_returnflag"), p)
  }

  test("delete-files semi-join broadcasts the chunk list") {
    val p = plan("delete-files")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("sim-embed-stats is a pure projection — zero exchanges") {
    val p = plan("sim-embed-stats")
    // per-row health stats must never shuffle the embedding table; the
    // only allowed exchange is the output-ordering sort's range partition
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("text-token-histogram partial-aggregates and takes ordered top-k") {
    val p = plan("text-token-histogram")
    // a viral token's rows must combine map-side, and the top-100 must be
    // TakeOrdered over the count table — never a global row sort
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text-corpus-stats broadcasts the corpus total") {
    val p = plan("text-corpus-stats")
    // the 1-row total must broadcast into the share projection — a
    // sort-merge join against a 1-row side would shuffle the stats table
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sim-pq-ann encodes by projection and top-ks with salt") {
    val p = plan("sim-pq-ann")
    // encoding + distance tables are projections over codebook literals —
    // the corpus must never sort-merge; the only join is the broadcast of
    // the tiny query table set, and the top-k must partial-combine
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_bounded_top_structs"), p)
  }

  test("sim-ann-recall evaluates over salted exact top-k, no cartesian") {
    val p = plan("sim-ann-recall")
    // the exact side must keep the bounded-partial top-k shape; the recall
    // joins run over top-k tables only
    assert(p.contains("partial_bounded_top_structs"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text-bm25-topk partial-aggregates postings and takes ordered top-10") {
    val p = plan("text-bm25-topk")
    // tf must partial-aggregate (map-side combine on (doc, term)); the
    // final selection is TakeOrderedAndProject, never a global sort; df
    // and the corpus totals broadcast
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim-rrf-hybrid retrieves through salted top-k, fuses without cartesian") {
    val p = plan("sim-rrf-hybrid")
    // both retrievers select with the bounded-partial top-k; the fusion
    // join runs over top-k tables only
    assert(p.contains("partial_bounded_top_structs"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mm-phash-dedup blocks on band keys — an equi-join, never a cross") {
    val p = plan("mm-phash-dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text-winnowing is shuffle-free row-local selection (ordering sort aside)") {
    val p = plan("text-winnowing")
    // grams, window minima and per-fp dedup all happen inside the row:
    // no aggregate, no join, no hash exchange — only the output ordering's
    // range exchange may appear
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("join-asof is one user-partitioned window, never a join") {
    val p = plan("join-asof")
    assert(!p.contains("Join"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(p.contains("PushedFilters: [In(event_type"), p)
  }

  test("win-sessionize merges sessions with partial aggregation before the exchange") {
    val p = plan("win-sessionize")
    assert(p.contains("MergingSessions"), p)
    assert(p.contains("partial_min"), p) // map-side combine feeds the shuffle
    assert(!p.contains("Join"), p)
  }

  test("dedup-substring-spans shuffles hashed shingles, never gram strings") {
    val p = plan("dedup-substring-spans")
    assert(p.contains("shinglehashes("), p) // the fused word-tuple hash kernel
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // every hash exchange keys on the long hash or the doc id — a gram
    // string key would name the `col` explode output
    assert(!p.contains("hashpartitioning(col#"), p)
  }

  test("dedup-edit-distance scores only blocked candidate pairs") {
    val p = plan("dedup-edit-distance")
    assert(p.contains("levenshtein"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text-cdc-chunks cuts row-locally; only the chunk-hash count shuffles") {
    val p = plan("text-cdc-chunks")
    // the cut list comes from the codegen kernel, not nested HOF lambdas
    assert(p.contains("cdccuts") || p.contains("CdcCuts"), p)
    // exactly one aggregation family: the md5-keyed duplicate count
    assert(p.contains("hashpartitioning(chunk_hash"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text-collocations prunes at min-count and joins without cartesian") {
    val p = plan("text-collocations")
    assert(p.contains("partial_count"), p) // map-side combine on both count tables
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-20, no global sort
  }

  test("text-heavy-hitters reduces corpus→vocab→sketch with map-side combine") {
    val p = plan("text-heavy-hitters")
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_sum"), p) // sketch-cell build combines before its exchange
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text-sample-uniform takes ordered k without a global sort") {
    val p = plan("text-sample-uniform")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("join-range-bin turns the interval join into a bin equi-join") {
    val p = plan("join-range-bin")
    // The whole point: an interval-containment join with no equi key must
    // NOT plan as a nested-loop/cartesian — the bin key makes it an
    // equi-join (hash or sort-merge, Catalyst's pick).
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("bin"), p)
  }

  test("text-dsir broadcasts the LM table; the token stream never shuffles for scoring") {
    val p = plan("text-dsir")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p) // map-side combine on both LM fits
  }

  test("text-mix-apply broadcasts quotas and ranks per source, not globally") {
    val p = plan("text-mix-apply")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(source"), p) // window keyed by source
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text-hash-embedding is one explode + one combined aggregation, no joins") {
    val p = plan("text-hash-embedding")
    assert(!p.contains("Join"), p) // the hash IS the dictionary
    assert(p.contains("partial_count"), p)
  }

  test("sim-semantic-dedup pairs only inside clusters — equi on cid, never corpus²") {
    val p = plan("sim-semantic-dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p) // the dropped-set probe is a semi join
  }

  test("stream-dedup keeps first-per-digest via struct-min aggregation, no window") {
    val p = plan("stream-dedup")
    assert(p.contains("partial_min"), p) // map-side combine
    assert(!p.contains("Window"), p)
  }

  test("text-quality-deciles buckets without a window or global sort of scores") {
    val p = plan("text-quality-deciles")
    assert(!p.contains("Window"), p) // no ntile funnel — broadcast boundaries
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_percentile") || p.contains("percentile"), p)
  }

  test("agg-user-value filters before aggregating and takes ordered top-25") {
    val p = plan("agg-user-value")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"), p)
  }

  test("text-langid-eval reduces to a languages-squared table before any join") {
    val p = plan("text-langid-eval")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text-boilerplate-strip never hash-shuffles document text") {
    // The op's scale claim: only 16-byte block hashes and per-doc position
    // sets move between stages — document text appears in an exchange ONLY
    // as the final output-ordering range exchange (which exists for the
    // deterministic oracle compare, not the computation).
    // AQE wraps exchanges in an adaptive plan whose stages aren't
    // traversable pre-execution — audit the non-adaptive physical plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exec =
      try SparkEntry.queries("text-boilerplate-strip")(spark, sf())
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val hashExchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
        e.output.map(_.name)
    }
    assert(hashExchanges.nonEmpty)
    hashExchanges.foreach { cols =>
      assert(!cols.exists(Set("text", "ws", "clean_text")),
        s"hash shuffle carries document text: $cols")
    }
  }

  test("row-local text ops have ZERO hash exchanges — scan-side projections only") {
    // These ops' whole scale story is that per-document stats never need
    // a shuffle; the only exchange allowed is the output-ordering range
    // exchange for the deterministic oracle compare.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (op <- Seq("text-repetition", "text-blocklist-filter",
        "text-lang-segments", "dedup-simhash",
        // round 6: entropy/TTR ride the TokenEntropy kernel, chunking and
        // readability are per-row array/regexp projections
        "text-entropy", "text-chunk-overlap", "text-readability")) {
        val exec = SparkEntry.queries(op)(spark, sf()).queryExecution.executedPlan
        val hashExchanges = exec.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
        }
        // dedup-simhash aggregates fingerprint group sizes (one combine),
        // the pure text ops none at all
        val allowed = if (op == "dedup-simhash") 2 else 0
        assert(hashExchanges.size <= allowed,
          s"$op: ${hashExchanges.size} hash exchanges (allowed $allowed)")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("text-vocab-coverage caps the vocabulary via TakeOrdered, no global sort") {
    val p = plan("text-vocab-coverage")
    // The head must come off the count table as per-partition top-k
    // partials (TakeOrderedAndProject); a global Sort of the vocabulary
    // before the limit would be the billions-of-types anti-pattern.
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("mix/fertility reports broadcast their 1-row totals") {
    for (op <- Seq("text-mix-temperature")) {
      val p = plan(op)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), s"$op\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum"), s"$op\n$p")
    }
  }

  test("sketch ops combine map-side and rank through the salted top-k") {
    // HLL: the (group, bucket) max-rho sketch must partially aggregate
    // before its exchange — that partial IS the mergeable sketch.
    val hll = plan("agg-hll-distinct")
    assert(hll.contains("partial_max"), hll)
    val shll = plan("stream-hll")
    assert(shll.contains("partial_max"), shll)
    // KMV: the k-smallest build must partial-combine per map partition,
    // never a raw per-group window over the distinct-hash stream.
    val kmv = plan("agg-kmv-overlap")
    assert(kmv.contains("partial_bounded_top_structs"), kmv)
  }

  test("join-star-revenue broadcasts every dimension hop, no nested loop") {
    val p = plan("join-star-revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("join-interval-overlap equi-joins on the bucket id, never a cross") {
    val p = plan("join-interval-overlap")
    assert(!p.contains("CartesianProduct"), p)
    // the only BNLJ allowed is the 1-row global-span anchor feeding the
    // window grid, never the interval pair join itself
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("agg-gini-cents ranks inside value buckets, not one global window") {
    val p = plan("agg-gini-cents")
    // the per-user rank window must be partitioned by the bucket column
    assert(p.contains("windowspecdefinition(b"), p)
  }

  test("agg-rollup-metrics is one Expand into one partial-aggregated exchange") {
    val p = plan("agg-rollup-metrics")
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("sim-ivf-pq probes via broadcast; the corpus never shuffles") {
    val p = plan("sim-ivf-pq")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // assignment+encoding are projections: no exchange keyed on the corpus id
    assert(!p.contains("hashpartitioning(n_id"), p)
  }

  test("win-burst-flag rollup reuses the window's user_id partitioning") {
    val p = plan("win-burst-flag")
    assert(p.contains("windowspecdefinition(user_id"), p)
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges\n$p")
  }

  test("stream-watermark-audit computes lateness per key, never a global window") {
    val p = plan("stream-watermark-audit")
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(!p.contains("windowspecdefinition(event_id"), p)
  }

  test("pipeline-incremental-delta is one scan into one chunk-grained exchange") {
    val p = plan("pipeline-incremental-delta")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans\n$p")
  }

  test("join-skew-salted joins on (user_id, salt) with no cartesian") {
    val p = plan("join-skew-salted")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("salt"), p)
  }

  test("layout-bucketed-join joins exchange-free over the bucketed layout") {
    val p = plan("layout-bucketed-join")
    assert(p.contains("SortMergeJoin"), p)
    // The SMJ's subtree (everything printed after it) must hold only the
    // bucketed scans — any Exchange there means the bucket layout was NOT
    // the join distribution and the write-time shuffle bought nothing. The
    // exchanges above the join (final agg, orderBy) are expected.
    val sub = p.substring(p.indexOf("SortMergeJoin"))
    assert(!sub.contains("Exchange"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("dedup-graph-triangles wedges only at the oriented low endpoint") {
    val p = plan("dedup-graph-triangles")
    assert(!p.contains("CartesianProduct"), p)
    // the wedge self-join keys on the low endpoint u, the closing lookup
    // is a LeftSemi on the canonical pair
    assert(p.contains("hashpartitioning(u") || p.contains("[u"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("win-forward-fill windows over the grid per type, never the event stream") {
    val p = plan("win-forward-fill")
    assert(p.contains("windowspecdefinition(event_type"), p)
    // events must be aggregated to (hour, type) grain BEFORE any window
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("win-ewma is convolution + groupBy — no window operator at all") {
    val p = plan("win-ewma")
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("sim-ivf-index-layout probes prune index partitions at plan time") {
    val p = plan("sim-ivf-index-layout")
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined, p)
    // candidate fetch must be the pruned scan + broadcast probes, not a
    // corpus-wide shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dedup-containment pairs come from one aggregation, never a self cross") {
    val p = plan("dedup-containment")
    assert(!p.contains("CartesianProduct"), p)
    // pair generation is the in-task SIZED generator over per-shingle
    // (id, n) lists (round 13: sizes ride the pair rows — the jaccard
    // rewrite's shape), not a shingle self-join, and the two post-agg
    // size joins are gone: the only joins left are the shingle-sized
    // size attach and whatever the persisted-shingle fill carries
    assert(p.toLowerCase.contains("arrayorderedsizedpairs"), p)
  }

  test("agg-countmin sketch collapses map-side and broadcasts onto keys") {
    val p = plan("agg-countmin")
    // the ≤256-cell sketch build partial-aggregates before its exchange
    assert(p.contains("partial_count"), p)
    // the key-grading join must broadcast the sketch, never shuffle keys
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sim-int8-recall broadcasts the quantized queries; corpus never shuffles") {
    val p = plan("sim-int8-recall")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // both top-k selections ride the bounded-partial TopK
    assert(p.contains("partial_bounded_top_structs"), p)
    // the integer code dot is the codegen ArrayDotLong, not a HOF chain
    assert(p.toLowerCase.contains("arraydotlong"), p)
  }

  test("agg-dp-count is one partial-agged groupBy plus a projection") {
    val p = plan("agg-dp-count")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("join-bloom-prune screens map-side via broadcasts before the merge join") {
    val p = plan("join-bloom-prune")
    // three bloom position lookups ride broadcast hash joins (no exchange)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // the big-big join itself is the hinted sort-merge
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pipeline-content-fingerprint is one map-side-combined rollup") {
    val p = plan("pipeline-content-fingerprint")
    assert(p.contains("partial_count") && p.contains("partial_sum"), p)
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("agg-basket-pairs expands pairs in-task and broadcasts the lift tables") {
    val p = plan("agg-basket-pairs")
    assert(p.toLowerCase.contains("arrayorderedpairs"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("win-drawdown windows over the daily rollup, never the event stream") {
    val p = plan("win-drawdown")
    // day-grain aggregation (partial first) BEFORE the running-max window
    assert(p.contains("partial_sum"), p)
    val winIdx = p.indexOf("windowspecdefinition")
    val aggIdx = p.indexOf("partial_sum")
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"), p)
  }

  test("dedup-minhash-accuracy joins stay pair-table-sized broadcasts") {
    val p = plan("dedup-minhash-accuracy")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("sim-filtered-topk scores via a label hash join, not a post-filter") {
    val p = plan("sim-filtered-topk")
    // label predicate joins INSIDE candidate generation — a broadcast
    // HASH join on label (not BNLJ over the whole corpus)
    assert(p.contains("BroadcastHashJoin [label"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_bounded_top_structs"), p)
  }

  test("dedup-canonical-tiers explodes all tiers from one scan") {
    val p = plan("dedup-canonical-tiers")
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
  }

  test("stream-countmin collapses to the fixed windowed cell grid map-side") {
    val p = plan("stream-countmin")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("join-local-supplier shuffles once; every dimension hop broadcasts") {
    val p = plan("join-local-supplier")
    // one big-big exchange (lineitem ⋈ orders); dims are broadcast hash
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert("SortMergeJoin".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join-card-estimate works on key-grained tables, never row joins") {
    val p = plan("join-card-estimate")
    // per-key counts partial-agg before their exchanges; the exact term
    // joins COUNT tables, so no row-sized shuffle joins appear
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("layout-overlap-depth sweeps catalog rows only") {
    val p = plan("layout-overlap-depth")
    // extents are a catalog-grained groupBy with map-side combine; the
    // sweep window runs over boundary events, not data rows
    assert(p.contains("partial_min") || p.contains("partial_max"), p)
    assert(p.contains("windowspecdefinition"), p)
    assert(!p.contains("Join"), p)
  }

  test("pipeline-quarantine explodes the rule rows from one aggregated scan") {
    val p = plan("pipeline-quarantine")
    // row-local rules fold in one conditional aggregation (map-side
    // partials), never five selects of the corpus
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("agg-freshness folds over the hourly rollup, event stream scans once") {
    val p = plan("agg-freshness")
    assert(p.contains("partial_max"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text-infill-plan is a pure zero-shuffle projection") {
    val p = plan("text-infill-plan")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("agg-rfm-segments broadcasts median cutoffs, never a global ntile") {
    val p = plan("agg-rfm-segments")
    // \bntile( — "percentile(" contains the substring, so anchor it
    assert("(?<![a-z])ntile\\(".r.findFirstIn(p).isEmpty, p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("agg-double-charge windows over (user, amount) lanes") {
    val p = plan("agg-double-charge")
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("agg-active-horizons explodes bounded visibility, no window operator") {
    val p = plan("agg-active-horizons")
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("stream-cms-topk reads cells with partial aggregation") {
    val p = plan("stream-cms-topk")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup-minhash-k-sweep joins stay pair-table-sized broadcasts") {
    val p = plan("dedup-minhash-k-sweep")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // one explode fans the three widths from one agreement row
    assert(p.contains("Generate explode"), p)
  }

  test("verify-sampled pushes the chain battery onto sampled chunks only") {
    val p = plan("verify-sampled")
    // the sticky sample is a row filter ahead of all checks; the chunk
    // adjacency join stays chunk-local (equi on h AND chunk)
    assert(p.contains("substring(md5"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("agg-whale-stability broadcasts weekly cutoffs, no global rank") {
    val p = plan("agg-whale-stability")
    assert("(?<![a-z])ntile\\(".r.findFirstIn(p).isEmpty, p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("join-fanout-profile folds key-grained counts with a broadcast total") {
    val p = plan("join-fanout-profile")
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("agg-dedup-largest argmaxes with map-side combine, no rank window") {
    // round 13: the all-DESC rank window became max(struct) — partial
    // aggregation must reduce the fact table BEFORE its exchange, and no
    // window funnel may reappear
    val p = plan("agg-dedup-largest")
    assert(p.contains("partial_max"), p)
    assert(!p.contains("row_number"), p)
  }

  test("reorg-repair argmaxes with map-side combine, no rank window") {
    val p = plan("reorg-repair")
    assert(p.contains("partial_max"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("row_number"), p)
  }

  test("agg-peak-rate partial-aggregates the minute rollup before the exchange") {
    val p = plan("agg-peak-rate")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
  }

  test("text-source-lang-purity argmax rides the bounded-partial TopK") {
    val p = plan("text-source-lang-purity")
    assert(p.contains("partial_bounded_top_structs"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("win-drawdown-episodes windows over daily rollup rows only") {
    val p = plan("win-drawdown-episodes")
    // day-grain aggregation happens BEFORE any window operator
    val aggIdx = p.indexOf("partial_sum")
    assert(aggIdx >= 0, p)
    assert(p.contains("windowspecdefinition"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("layout-skip-compare builds all three catalogs in one exchange") {
    val p = plan("layout-skip-compare")
    // one explode feeds one (layout, fid) groupBy with map-side combine;
    // the only other exchange is the catalog-sized probe rollup
    assert(p.contains("partial_count"), p)
    val ex = "Exchange hashpartitioning\\(layout[^)]*".r.findAllIn(p).toSeq
    assert(ex.size == 2 && ex.count(_.contains("fid")) == 1, p)
    // probe grading is a projection over catalog rows — no join operator
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("text-rank-freq-curve caps the vocab via partial top-k, never a window") {
    val p = plan("text-rank-freq-curve")
    assert(p.contains("TakeOrderedAndProject(limit=1024"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("partial_count"), p) // vocab groupBy map-side combines
  }

  test("sim-jl-distortion projects with literal sign vectors and broadcasts the query side") {
    val p = plan("sim-jl-distortion")
    // 16 plan-time literal weight vectors × codegen integer dots — the
    // projection pass must be shuffle-free arraydotlong, not a HOF chain
    assert(p.contains("arraydotlong"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // corpus/query filters reach the parquet scan
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), GreaterThanOrEqual(vec_id,10)]"), p)
    assert(p.contains("partial_count"), p) // histogram map-side combines
  }

  test("join-null-bypass keeps null keys out of the exchange") {
    val p = plan("join-null-bypass")
    // null rows must ride the union branch, never the join: the isnotnull
    // guard folds through the key projection into the SCAN filter
    // (CASE ... THEN false ELSE isnotnull(o_custkey)), and a Union
    // stitches the bypass back above the join
    assert(p.contains("THEN false ELSE isnotnull(o_custkey"), p)
    assert(p.contains("Union"), p)
    assert(p.contains("partial_count"), p) // month rollup map-side combines
  }

  test("agg-hll-precision-sweep folds every register budget in one corpus pass") {
    val p = plan("agg-hll-precision-sweep")
    // ONE scan of events feeds the 4-way register explode; the sketch is
    // a (b, bucket)-keyed max with map-side combine
    assert(p.contains("partial_max"), p)
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p) // sketch + exact
  }

  test("pipeline-dq-suite evaluates every check in ONE scan of events") {
    val p = plan("pipeline-dq-suite")
    // 6 row-level checks + uniqueness = one conditional-aggregation pass;
    // only the referential row may add its own (orders/customer) scans
    assert("events\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_sum"), p)
  }

  test("mm-shard-pack windows per (kind, ingest batch), never corpus-globally") {
    val p = plan("mm-shard-pack")
    assert(p.contains("windowspecdefinition(kind"), p)
    assert(p.contains("batch"), p)
    assert(p.contains("partial_sum"), p) // manifest rollup map-side combines
  }

  test("text-classifier-score's scoring subtree is zero-shuffle") {
    val p = ops.TextOps.classifierScores(spark, sf())
      .queryExecution.explainString(SimpleMode)
    assert(!p.contains("Exchange"), p) // per-row fold: hash IS the dictionary
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("join-pit-scd2 probes runs on (cust, bucket), never all customer runs") {
    val p = plan("join-pit-scd2")
    // the fact-side exchange keys on cust AND the 32-day bucket
    assert(p.contains("hashpartitioning(cust"), p)
    assert(p.contains("bkt"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("text-doc-perplexity broadcasts the LM into the per-document fold") {
    val p = plan("text-doc-perplexity")
    // the lp model table joins the corpus-grain bigram stream as a
    // broadcast (the KenLM-in-executor-memory shape) — a shuffled join
    // here would re-exchange the whole token stream on (w1, w2)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p) // type-grain map-side combine
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("text-perplexity-holdout broadcasts the lp table; no cartesian") {
    val p = plan("text-perplexity-holdout")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("text-min-k-prob broadcasts the lp table; the doc fold has no corpus window") {
    val p = plan("text-min-k-prob")
    // the scored-pair lp table joins the corpus-grain bigram stream as a
    // broadcast (the KenLM-in-executor-memory shape of its two LM
    // siblings), and the per-document Min-K selection must stay a
    // row-local sort/slice over the collected cost list — a
    // windowspecdefinition here would mean the corpus bigram stream is
    // being exchange+sorted per doc just to rank 20% of it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("sim-kmeans-elbow: one corpus scan, literal-fold assignment, no rank window") {
    val p = plan("sim-kmeans-elbow")
    // all three ks assign via row-local greatest(struct) folds over
    // centroid LITERALS in ONE map-side-combined corpus aggregation;
    // the only window is the 3-row lag over the exploded curve
    assert(p.contains("greatest"), p)
    assert(!p.contains("row_number"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("dedup-winnowing-eval: row-local sketch, pair-table joins, no cartesian") {
    val p = plan("dedup-winnowing-eval")
    // the sketch is the zero-shuffle winnowing kernel; predicted pairs
    // explode per fp group (one 8-byte-key exchange), and every
    // counting join is pair-table-sized
    assert(p.toLowerCase.contains("winnowfingerprints"), p)
    assert(p.toLowerCase.contains("arrayorderedpairs"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("sim-ivf-nlist-recall: probes broadcast into the lists; no cartesian") {
    val p = plan("sim-ivf-nlist-recall")
    // each k's candidate scoring joins the assigned corpus against
    // BROADCAST probes on cid (the ivfTopK shape); gradings are
    // top-k-table-sized semi-joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("text-term-burstiness: two-level map-side reduction, TakeOrdered top-20") {
    val p = plan("text-term-burstiness")
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("pipeline-order-sensitivity: struct-max keepers, no rank window, no cartesian") {
    val p = plan("pipeline-order-sensitivity")
    // both keepers come from ONE cluster-grain aggregation of max(struct)
    // partials — a cluster-partitioned rank window here would funnel a
    // boilerplate mega-cluster through one task (the cluster-rep rule)
    assert(!p.contains("row_number"), p)
    assert(p.contains("partial_max") || p.contains("partial_count"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("dedup-semantic resolves drops with a cid-keyed semi-join, no cartesian") {
    val p = plan("dedup-semantic")
    // the within-cluster pair stage must stay an equi-join on cid with a
    // LeftSemi drop resolution — Σ|cluster|² work, never corpus²
    assert(p.contains("LeftSemi"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("SemDeDup assignment is a zero-shuffle centroid-literal fold") {
    // the shared subtree behind sim-semantic-dedup / dedup-semantic /
    // dedup-semantic-sweep: assignment must be greatest(struct) over
    // centroid LITERALS — a pure projection. The old crossJoin+row_number
    // spelling exchanged+sorted the 4×-exploded corpus on vec_id purely
    // to argmax over 4 rows (round-10 verdict finding 1).
    val p = ops.SimOps.semanticMembers(spark, sf())
      .queryExecution.explainString(SimpleMode)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("row_number"), p)
    assert(p.contains("greatest"), p)
  }

  test("dedup-semantic-sweep: cid-keyed pairs, eps as 4-row broadcast loop") {
    val p = plan("dedup-semantic-sweep")
    // pairs are scored ONCE on the cid equi-join (Σ|cluster|², never
    // corpus²); the ε sweep is a broadcast nested-loop whose BUILD side
    // is the 4-row eps table (BuildLeft — eps is the join's left input),
    // so the pair table streams and is never re-executed per ε
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft, LeftOuter"), p)
    assert(!p.contains("row_number"), p)
  }

  test("pipeline-curation-e2e: hash-keyed keeper window, per-source/shard windows, no cartesian") {
    val p = plan("pipeline-curation-e2e")
    // exact keeper = min over a window partitioned by the content hash
    // (one 16-byte-key exchange, no groupBy+join-back); the quota rank
    // windows per SOURCE over the whole catalog (k3 sorts survivors
    // first — the single-aggregation trade). The pack stage's cumsum
    // window must be PRUNED away entirely: the composite reads only
    // (shard, n_tokens) off Packing's output, so a shard window in the
    // optimized plan means column pruning broke
    assert(p.contains("windowspecdefinition(h#"), p)
    assert(p.contains("windowspecdefinition(source"), p)
    assert(!p.contains("windowspecdefinition(shard"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("text-kn-trigram reduces to type grain map-side; top-20 is TakeOrdered") {
    val p = plan("text-kn-trigram")
    // the corpus trigram stream partial-combines before its one exchange,
    // and the top-20 must never become a global sort
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("sim-hard-negatives argmaxes with map-side combine, no window funnel") {
    val p = plan("sim-hard-negatives")
    // queries broadcast into one corpus projection; both nearest-neighbor
    // argmaxes are max(struct) groupBys that partial-combine map-side —
    // a row_number window would funnel each anchor's candidates into one
    // task
    assert(p.contains("partial_max"), p)
    assert(!p.contains("row_number"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("sim-rank-eval grades through the bounded top-k truth table") {
    val p = plan("sim-rank-eval")
    assert(p.contains("partial_bounded_top_structs"), p) // exact truth side
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("dedup-semantic-orphans rescues via a cid-keyed semi-join") {
    val p = plan("dedup-semantic-orphans")
    // the dropped→kept rescue probe must stay an equi-join on cid
    // (Σ|cluster|² work) resolved as LeftSemi; assignment stays the
    // zero-shuffle centroid fold (no row_number anywhere)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("row_number"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("sim-probe-order ranks candidates through the bounded top-k, no window funnel") {
    val p = plan("sim-probe-order")
    // per-(T, query) top-3 must partial-combine map-side — a window over
    // (t_budget, q_id) would funnel every candidate for one query/budget
    // into a single task
    assert(p.contains("partial_bounded_top_structs"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("text-novelty-curve explodes the corpus exactly once") {
    // VERDICT r11 item 7: the totals side is the row-local
    // size(array_distinct(...)) fold — only the first-occurrence side
    // pays the shingle explode. Two Generates = the old double-scan
    // spelling regressed back in.
    val p = plan("text-novelty-curve")
    assert(p.sliding("Generate explode".length).count(
      _ == "Generate explode") == 1, p)
    assert(!p.contains("row_number"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }
}
