package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.OpsSpecMath._

/** Invariant tests for the round-6 ops (text-entropy, text-chunk-overlap,
  * text-mix-temperature, text-vocab-coverage, sim-bucket-diversity,
  * win-next-event, mm-modality-manifest) over sf0.001. The driver gate
  * owns value-exactness against DuckDB; these recompute the semantics
  * independently on collected rows.
  */
class OpsR12Spec extends SparkSpec {

  private def docs() = graft.Tables.documents(spark, sf())
    .select(col("doc_id"), col("text"))
    .collect()
    .map(r => (r.getLong(0), r.getString(1)))

  test("text-entropy: kernel matches a brute-force recompute per doc") {
    val expected = docs().map { case (id, text) =>
      val ws = text.split(" ", -1)
      val n = ws.length.toLong
      val counts = ws.groupBy(identity).view.mapValues(_.length.toLong)
      val sumE6 = counts.values.map(c =>
        c * Math.round(Math.log(n.toDouble / c) * 1e6)).sum
      (id, n, counts.size.toLong,
        Math.round(counts.size * 1e6 / n) / 1e6,
        Math.round(sumE6.toDouble / n) / 1e6)
    }.toSeq.sortBy(_._1)
    val out = TextOps.textEntropy.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(out === expected)
    // Entropy is bounded by ln(n_types) (uniform) and nonnegative.
    out.foreach { case (id, _, types, _, ent) =>
      assert(ent >= 0.0 && ent <= Math.log(types.toDouble) + 1e-6, s"doc $id")
    }
  }

  test("text-chunk-overlap: chunks tile every document at stride 48") {
    val byDoc = TextOps.textChunkOverlap.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val lens = docs().map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    assert(byDoc.keySet === lens.keySet, "every document produces chunks")
    byDoc.foreach { case (id, chunks) =>
      val sorted = chunks.sortBy(_._2)
      val n = lens(id)
      assert(sorted.head._3 == 1L, s"doc $id first chunk starts at 1")
      assert(sorted.last._4 == n, s"doc $id last chunk ends at n")
      sorted.foreach { case (_, _, st, en) =>
        assert(en - st + 1 <= 64 && en <= n, s"doc $id window bounds")
      }
      sorted.sliding(2).foreach {
        case Array((_, _, s1, e1), (_, _, s2, _)) =>
          assert(s2 - s1 == 48, s"doc $id stride")
          assert(s2 <= e1 + 1, s"doc $id no gap between consecutive chunks")
        case _ => ()
      }
    }
  }

  test("text-mix-temperature: tempering flattens the source distribution") {
    val out = TextOps.textMixTemperature.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(Math.abs(out.map(_._3).sum - 1.0) < 1e-4)
    assert(Math.abs(out.map(_._4).sum - 1.0) < 1e-4)
    val byRaw = out.sortBy(-_._3)
    // Head shares shrink, tail shares grow (sqrt flattening), and the
    // raw ordering is preserved under the monotone transform.
    assert(byRaw.head._4 <= byRaw.head._3 + 1e-9, "head source flattens down")
    assert(byRaw.last._4 >= byRaw.last._3 - 1e-9, "tail source lifts up")
    assert(byRaw.map(_._4).toSeq === byRaw.map(_._4).sortBy(x => -x).toSeq,
      "sqrt preserves ordering")
  }

  test("text-vocab-coverage: monotone in k and consistent with token totals") {
    val out = TextOps.textVocabCoverage.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val total = docs().iterator.map(_._2.split(" ", -1).length.toLong).sum
    out.foreach { case (_, covered, tot, cov) =>
      assert(tot === total)
      assert(covered <= tot && cov <= 1.0)
    }
    out.sliding(2).foreach {
      case Array((_, c1, _, _), (_, c2, _, _)) => assert(c2 >= c1)
      case _ => ()
    }
    // The full fixture vocabulary is under the 5000 cap, so the last row
    // covers everything.
    val vocab = docs().flatMap(_._2.split(" ", -1)).distinct.length
    if (vocab <= 5000) assert(out.last._2 === total)
  }

  test("sim-bucket-diversity: members partition the corpus, rep is the min") {
    val emb = graft.Tables.embeddings(spark, sf())
    val out = SimOps.simBucketDiversity.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._3).sum === emb.count())
    val byBucket = emb.select(col("vec_id"),
        graft.sim.Similarity.lshBucket(col("embedding")).as("b"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    out.foreach { case (b, rep, n) =>
      assert(byBucket(b).min === rep, s"bucket $b rep")
      assert(byBucket(b).length.toLong === n, s"bucket $b size")
    }
  }

  test("win-next-event: transition counts are conserved per from-state") {
    val out = WindowOps.winNextEvent.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    out.groupBy(_._1).foreach { case (et, rows) =>
      val nFrom = rows.head._4
      assert(rows.forall(_._4 == nFrom), s"$et single n_from")
      assert(rows.map(_._3).sum === nFrom, s"$et counts sum to n_from")
      assert(Math.abs(rows.map(_._5).sum - 1.0) < 1e-3, s"$et probs sum to 1")
    }
    // Brute-force recompute of one from-state's row counts.
    val ev = graft.Tables.events(spark, sf())
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = ev.groupBy(_._1).values.flatMap { rows =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      ordered.iterator.zip(ordered.iterator.drop(1)).map(p => (p._1._4, p._2._4))
    }.toSeq.groupBy(p => p).view.mapValues(_.size.toLong).toMap
    out.foreach { case (et, nt, n, _, _) =>
      assert(expected((et, nt)) === n, s"$et -> $nt")
    }
  }

  test("pipeline-filter-funnel: stages chain and reconcile with preprocess") {
    val out = PipelineOps.pipelineFilterFunnel.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(out.map(_._2).toSeq ===
      Seq("exact-dup", "near-dup", "low-quality", "repetitive", "contaminated"))
    // Each stage's inflow is the previous stage's outflow.
    out.sliding(2).foreach {
      case Array((_, _, _, _, out1), (_, _, in2, _, _)) => assert(out1 === in2)
      case _ => ()
    }
    // The final outflow equals pipeline-preprocess's keep count; stage 1's
    // inflow is the corpus size.
    val pre = PipelineOps.pipelinePreprocess.build(spark, sf()).collect()
    assert(out.head._3.toInt === pre.length)
    assert(out.last._5.toInt === pre.count(_.getBoolean(6)))
    // A doc failing multiple rules charges only its FIRST rule: the sum of
    // per-stage drops equals the total non-keep count.
    assert(out.map(_._4).sum.toInt === pre.count(r => !r.getBoolean(6)))
  }

  test("dedup-simhash-eval: confusion counts reconcile with the pair ops") {
    val r = DedupOps.dedupSimhashEval.build(spark, sf()).collect().head
    val (nPred, nTrue, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nHit <= nPred && nHit <= nTrue)
    // Truth set matches dedup-minhash's verified pair count (same j>=0.8
    // exact-jaccard semantics).
    val minhash = DedupOps.dedupMinhash.build(spark, sf()).count()
    assert(nTrue === minhash)
    // Predicted set matches dedup-simhash's same-fingerprint group sizes.
    val fromGroups = DedupOps.dedupSimhash.build(spark, sf()).collect()
      .map(_.getLong(2)).groupBy(identity).map { case (n, xs) =>
        (xs.size / n) * n * (n - 1) / 2
      }.sum
    assert(nPred === fromGroups)
  }

  test("dedup-survivorship: totals reconcile with dedup-cluster-rep") {
    val r = DedupOps.dedupSurvivorship.build(spark, sf()).collect().head
    val reps = DedupOps.dedupClusterRep.build(spark, sf()).collect()
      .map(row => (row.getLong(1), row.getAs[Number](2).longValue(),
        row.getAs[Number](3).longValue()))
    val nDocs = graft.Tables.documents(spark, sf()).count()
    assert(r.getLong(0) === nDocs)
    assert(r.getLong(2) === reps.length.toLong, "dup cluster count")
    assert(r.getLong(1) === reps.map(_._3).sum, "dup member count")
    assert(r.getLong(3) === reps.map(_._3 - 1).sum, "dropped = members - reps")
    assert(r.getLong(4) >= 0L)
  }

  test("win-top-paths: counts match a brute-force path recompute") {
    val ev = graft.Tables.events(spark, sf())
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val paths = ev.groupBy(_._1).values.flatMap { rows =>
      val o = rows.sortBy(r => (r._2, r._3)).map(_._4)
      o.iterator.zip(o.iterator.drop(1)).zip(o.iterator.drop(2))
        .map { case ((a, b), c) => (a, b, c) }
    }.toSeq.groupBy(p => p).view.mapValues(_.size.toLong).toMap
    val expected = paths.toSeq.map { case ((a, b, c), n) => (a, b, c, n) }
      .sortBy { case (a, b, c, n) => (-n, a, b, c) }.take(20)
    val out = WindowOps.winTopPaths.build(spark, sf()).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(out === expected)
  }

  test("text-readability: proxies and formula match a brute-force recompute") {
    val out = TextOps.textReadability.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    val expected = docs().map { case (id, text) =>
      val w = text.split(" ", -1).length.toLong
      val s = math.max(1L, "[.!?]+".r.findAllIn(text).length.toLong)
      val syl = math.max(w, "[aeiouy]+".r.findAllIn(text).length.toLong)
      val score = 206.835 - 1.015 * (w * 1.0 / s) - 84.6 * (syl * 1.0 / w)
      (id, w, s, syl, Math.round(score * 1e6) / 1e6)
    }.toSeq.sortBy(_._1)
    assert(out === expected)
  }

  test("text-tokenizer-fertility: language totals reconcile with text-tokens") {
    val out = TextOps.textTokenizerFertility.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val nDocs = graft.Tables.documents(spark, sf()).count()
    assert(out.map(_._2).sum === nDocs)
    // Fertility >= 1: every whitespace word yields at least one subtoken.
    out.foreach { case (lang, _, w, st, f) =>
      assert(st >= w, s"$lang subtokens cover words")
      assert(f >= 1.0, s"$lang fertility")
      assert(Math.abs(f - Math.round(st * 1e6 / w) / 1e6) < 1e-12, s"$lang snap")
    }
    // Totals agree with the per-doc text-tokens op.
    val tok = TextOps.textTokens.build(spark, sf()).collect()
    assert(out.map(_._3).sum === tok.map(_.getAs[Number]("n_tokens").longValue()).sum)
    assert(out.map(_._4).sum === tok.map(_.getAs[Number]("n_subtokens").longValue()).sum)
  }

  test("win-debounce: bursts partition events and match a brute-force islands pass") {
    val ev = graft.Tables.events(spark, sf())
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val W = 86400000000L
    val expected = ev.groupBy(e => (e._1, e._2)).values.flatMap { rows =>
      val o = rows.sortBy(r => (r._3, r._4)).map(_._3)
      val bursts = o.foldLeft(List.empty[List[Long]]) {
        case (acc @ (cur :: rest), t) if t - cur.head < W => (t :: cur) :: rest
        case (acc, t) => List(t) :: acc
      }
      bursts.map(b => (b.last, b.size.toLong)) // first ts, burst length
    }.toSeq.sorted
    val out = WindowOps.winDebounce.build(spark, sf()).collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(out === expected)
    assert(out.map(_._2).sum === ev.length.toLong, "bursts partition all events")
  }

  test("agg-cohort-ltv: cumulative is a prefix sum and reconciles per cohort") {
    val out = AggOps.aggCohortLtv.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.groupBy(_._1).foreach { case (cw, rows) =>
      val o = rows.sortBy(_._2)
      val prefix = o.map(_._3).scanLeft(0L)(_ + _).drop(1)
      assert(o.map(_._4).toSeq === prefix.toSeq, s"cohort $cw cumulative")
      assert(o.forall(_._2 >= 0), s"cohort $cw offsets nonnegative")
    }
  }

  test("dedup-df-spectrum: spectrum mass reconciles with a brute-force df pass") {
    val out = DedupOps.dedupDfSpectrum.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val dfs = docs().flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      (if (ws.length <= 3) Seq(ws.mkString(" "))
       else ws.sliding(3).map(_.mkString(" ")).toSeq).distinct.map(s => (s, id))
    }.groupBy(_._1).view.mapValues(_.length.toLong).values.toSeq
    val expected = dfs.groupBy(df => if (df <= 20) df else 21L).view
      .mapValues(v => (v.length.toLong, v.sum)).toSeq
      .map { case (b, (n, rows)) => (b, n, rows) }.sortBy(_._1)
    assert(out === expected)
    // The spectrum's total row mass is the pre-prune (doc, shingle) count.
    assert(out.map(_._3).sum === dfs.sum)
  }

  test("mm-frame-dedup: every reported frame is genuinely cross-item") {
    val out = MultimodalOps.mmFrameDedup.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.forall(f => f._2 > 1), "n_docs > 1")
    assert(out.forall(f => f._3 >= f._2), "frames >= docs")
    // Brute-force recompute over the sampled 16-byte windows (single-byte
    // payloads only, mirroring the op's octet_length = length contract).
    val expected = docs().filter { case (_, text) =>
      text.getBytes("UTF-8").length == text.length
    }.flatMap { case (id, text) =>
      val n = text.length.toLong
      val step = math.max(1L, n / 5)
      (0L until n by step).map(off =>
        (text.substring(off.toInt, math.min(n, off + 16).toInt), id))
    }.groupBy(_._1).view
      .mapValues(v => (v.map(_._2).distinct.length.toLong, v.length.toLong))
      .filter(_._2._1 > 1).toSeq
    assert(out.length === expected.length)
    assert(out.map(f => (f._2, f._3)).sorted.toSeq ===
      expected.map(_._2).map { case (d, f) => (d, f) }.sorted.toSeq)
  }

  test("dedup-source-overlap: matrix is symmetric in counts and matches brute force") {
    val meta = graft.Tables.documents(spark, sf())
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val blocks = docs().flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      (0 until ws.length / 10).map(i => (meta(id), ws.slice(i * 10, i * 10 + 10).mkString(" ")))
    }.distinct
    val bySource = blocks.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = (for {
      a <- bySource.keys; b <- bySource.keys if a != b
      shared = (bySource(a) & bySource(b)).size if shared > 0
    } yield (a, b, shared.toLong, bySource(a).size.toLong)).toSeq.sortBy(t => (t._1, t._2))
    val out = CurationOps.dedupSourceOverlap.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === expected)
    // n_shared is symmetric (the denominator is not).
    val m = out.map(t => (t._1, t._2) -> t._3).toMap
    m.foreach { case ((a, b), n) => assert(m((b, a)) === n) }
  }

  test("text-train-split: duplicates can never straddle splits; shares are sane") {
    val out = TextOps.textTrainSplit.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byId = docs().toMap
    // Content-keyed: identical text => identical split, regardless of id.
    out.groupBy(t => byId(t._1)).foreach { case (_, rows) =>
      assert(rows.map(_._2).distinct.length === 1, "same text, same split")
    }
    val shares = out.groupBy(_._2).view.mapValues(_.length.toDouble / out.length)
    assert(shares("train") > 0.8 && shares("val") < 0.12 && shares("test") < 0.12,
      shares.toMap.toString)
    // Bucket boundaries respected.
    out.foreach { case (_, split, b) =>
      val expect = if (b < "e6") "train" else if (b < "f3") "val" else "test"
      assert(split === expect)
    }
  }

  test("text-ctx-fit: monotone in ctx and reconciles with token totals") {
    val out = TextOps.textCtxFit.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    val nts = docs().map(_._2.split(" ", -1).length.toLong)
    out.foreach { case (ctx, fit, trunc, lost, frac) =>
      assert(fit === nts.count(_ <= ctx).toLong)
      assert(trunc === nts.count(_ > ctx).toLong)
      assert(lost === nts.filter(_ > ctx).map(_ - ctx).sum)
      assert(frac >= 0.0 && frac <= 1.0)
    }
    out.sliding(2).foreach {
      case Array((_, f1, _, l1, _), (_, f2, _, l2, _)) =>
        assert(f2 >= f1 && l2 <= l1, "larger ctx fits more, loses less")
      case _ => ()
    }
  }

  test("agg-quantile-sketch: estimates stay within the sketch's own error bound") {
    val out = AggOps.aggQuantileSketch.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(out.nonEmpty)
    out.foreach { case (_, _, n, est, _, _) => assert(est >= 0 && n > 0) }
    // Within a type, higher quantiles estimate no lower.
    out.groupBy(_._1).foreach { case (et, rows) =>
      val byQ = rows.sortBy(_._2).map(_._4)
      assert(byQ.toSeq === byQ.sorted.toSeq, s"$et monotone")
    }
    // The sketch's actual guarantee: the RANK statistic (order statistic
    // at r = ceil(q·n/100)) lies inside the estimated bucket — est ≤
    // value(r) ≤ est + bound. The interpolated exact_cents column is
    // informational (quantile_cont can gap past one bucket in a sparse
    // tail; it carries no sketch guarantee).
    val ev = graft.Tables.events(spark, sf())
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out.foreach { case (et, q, n, est, _, bound) =>
      val cs = ev.filter(_._1 == et).map(_._2).sorted
      assert(n === cs.length.toLong)
      val r = (q * n + 99) / 100
      val rankVal = cs((r - 1).toInt)
      assert(rankVal >= est && rankVal <= est + bound,
        s"$et p$q: rank stat $rankVal outside [$est, ${est + bound}]")
    }
  }

  test("sim-ivf-balance: shares sum to 1 and sizes reconcile with the ivf corpus") {
    val out = SimOps.simIvfBalance.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val corpus = graft.Tables.embeddings(spark, sf())
      .filter(col("vec_id") >= 10).count()
    assert(out.map(_._2).sum === corpus, "every corpus vector lands in one list")
    assert(Math.abs(out.map(_._3).sum - 1.0) < 1e-3)
    val k = out.length
    out.foreach { case (cid, size, share, load) =>
      assert(Math.abs(load - share * k) < 1e-3, s"centroid $cid load = share*k")
      assert(size > 0)
    }
  }

  test("dedup-cluster-sizes: histogram mass reconciles with survivorship") {
    val out = DedupOps.dedupClusterSizes.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val surv = DedupOps.dedupSurvivorship.build(spark, sf()).collect().head
    assert(out.map(_._3).sum === surv.getLong(0), "doc mass = corpus")
    assert(out.filter(_._1 > 1).map(_._3).sum === surv.getLong(1), "dup doc mass")
    assert(out.filter(_._1 > 1).map(_._2).sum === surv.getLong(2), "dup cluster count")
    out.foreach { case (sz, n, docs) => assert(docs === sz * n) }
  }

  test("agg-whale-share: threshold and shares reconcile with a brute-force pass") {
    val r = AggOps.aggWhaleShare.build(spark, sf()).collect().head
    val per = graft.Tables.events(spark, sf())
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), round(col("value") * 100).cast("long").as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(r.getLong(0) === per.size.toLong)
    assert(r.getLong(1) === per.values.sum)
    val p99 = r.getDouble(4)
    val whales = per.values.filter(_ >= p99 - 1e-9)
    assert(r.getLong(2) === whales.size.toLong)
    assert(r.getLong(3) === whales.sum)
    assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
  }

  test("dedup-jaccard-sweep: monotone in the threshold and anchored at 0.8") {
    val out = DedupOps.dedupJaccardSweep.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    out.sliding(2).foreach {
      case Array((_, p1, d1), (_, p2, d2)) => assert(p2 <= p1 && d2 <= d1)
      case _ => ()
    }
    // The 0.8 row equals the verified minhash pair count (same threshold,
    // same exact-jaccard semantics).
    val minhash = DedupOps.dedupMinhash.build(spark, sf()).count()
    assert(out.find(_._1 == 800L).get._2 === minhash)
    // The 0.5 row equals dedup-ngram-jaccard's pair count.
    val ngram = DedupOps.dedupNgramJaccard.build(spark, sf()).count()
    assert(out.find(_._1 == 500L).get._2 === ngram)
  }

  test("text-split-leakage: leakage counts match a brute-force shingle audit") {
    val ds = docs()
    def split(t: String): String = {
      val b = md5hex2(t)
      if (b < "e6") "train" else if (b < "f3") "val" else "test"
    }
    def sh5(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      (if (ws.length <= 5) Seq(ws.mkString(" "))
       else ws.sliding(5).map(_.mkString(" ")).toSeq).toSet
    }
    val train = ds.filter(d => split(d._2) == "train").flatMap(d => sh5(d._2)).toSet
    val expected = ds.filter(d => split(d._2) != "train").map { case (id, t) =>
      val s = sh5(t)
      (id, split(t), s.size.toLong, s.count(train.contains).toLong)
    }.toSeq.sortBy(_._1)
    val out = TextOps.textSplitLeakage.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === expected)
    // Content-hash splitting already guarantees no EXACT duplicate
    // straddles; near-dup leakage is what this op exists to surface.
    assert(out.nonEmpty)
  }

  test("win-gap-histogram: mass reconciles with win-gap-detect's gap list") {
    val gaps = WindowOps.winGapDetect.build(spark, sf()).collect()
      .map(r => r.getLong(2))
    val out = WindowOps.winGapHistogram.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._2).sum === gaps.length.toLong)
    assert(out.map(_._3).sum === gaps.sum)
    out.foreach { case (len, n, mass) =>
      assert(mass === len * n)
      assert(gaps.count(_ == len).toLong === n)
    }
  }

  test("mm-phash-histogram: the dedup op's pairs are exactly the <=10 mass") {
    val hist = MultimodalOps.mmPhashHistogram.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val kept = MultimodalOps.mmPhashDedup.build(spark, sf()).count()
    assert(hist.filter(_._1 <= 10).map(_._2).sum === kept)
    // The random-pair hump sits near half the fingerprint width.
    assert(hist.map(_._2).sum > kept, "histogram sees beyond the threshold")
  }

  test("mm-modality-manifest: totals reconcile with the decode stub") {
    val manifest = MultimodalOps.mmModalityManifest.build(spark, sf()).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val decoded = MultimodalOps.mmDecodeStub.build(spark, sf()).collect()
      .map(r => (r.getInt(1), r.getInt(4)))
    val byKind = decoded.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(_._2.toLong).sum)).toMap
    assert(manifest.map(_._1).toSet === byKind.keySet)
    manifest.foreach { case (k, n, bytes) =>
      assert(byKind(k) === ((n, bytes)), s"kind $k")
    }
    assert(manifest.map(_._2).sum === decoded.length.toLong)
  }
}
