package graft.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import graft.SparkSpec
import graft.ops.OpsSpecMath._

/** Invariant tests for the round-11 extension batch (session 2). The
  * driver gate owns value-exactness vs DuckDB; these pin semantics with
  * from-scratch Scala reference implementations over the sf0.001 fixture.
  */
class OpsR21Spec extends SparkSpec {

  private def round1(v: Double): Double =
    new JBigDecimal(v).setScale(1, RoundingMode.HALF_UP).doubleValue()

  /** Spark `percentile` (linear interpolation) over sorted longs. */
  private def pct(sorted: IndexedSeq[Long], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  private def cos(a: Seq[Double], b: Seq[Double]): Double =
    dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))

  test("sim-kmeans-elbow equals a from-scratch 1-round fit + inertia sweep") {
    val vecs = graft.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    // one deterministic Lloyd round at k (graft.sim.KMeans from scratch)
    def fit(k: Int): IndexedSeq[IndexedSeq[Double]] = {
      val init = vecs.take(k).map(_._2)
      val assigned = vecs.map { case (_, v) =>
        // max round-6 cosine, ties to the lowest cid
        val cid = init.indices.minBy(i => (-round6(cos(v, init(i))), i))
        (cid, v)
      }
      init.indices.map { i =>
        val members = assigned.filter(_._1 == i).map(_._2)
        if (members.isEmpty) init(i)
        else members.head.indices.map { d =>
          val sv = members.map(v => halfUp(v(d) * 10000)).sum
          round6(sv.toDouble / members.length / 10000.0)
        }
      }
    }
    // assignment to the FITTED centroids at micro-cosine grain + inertia
    def inertia(cents: IndexedSeq[IndexedSeq[Double]]): (Long, Long) = {
      val d2s = vecs.map { case (_, v) =>
        val cid = cents.indices
          .minBy(i => (-halfUp(cos(v, cents(i)) * 1000000), i))
        v.indices.map(d => halfUp((v(d) - cents(cid)(d)) *
          (v(d) - cents(cid)(d)) * 1000000000000.0)).sum
      }
      (d2s.length.toLong, d2s.sum)
    }
    val curve = Seq(2, 4, 8).map { k =>
      val (n, sd2) = inertia(fit(k))
      (k.toLong, n, halfUp(sd2 / (n * 1000000.0)) / 1000000.0)
    }
    val expected = curve.zip(None +: curve.init.map(c => Some(c._3)))
      .map { case ((k, n, m), prev) =>
        (k, n, m, prev.collect { case p if p > 0 =>
          halfUp((p - m) / p * 1000000) })
      }
    val got = SimOps.simKmeansElbow.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    // non-vacuity: inertia strictly decreases along the sweep (more
    // centroids can only tighten the 1-round fit on this fixture)
    assert(curve.map(_._3).sliding(2).forall(p => p(1) < p(0)),
      s"elbow curve not decreasing: $curve")
  }

  test("agg-ks-drift equals a from-scratch exact two-sample KS") {
    val rows = graft.Tables.events(spark, sf())
      .select("event_type", "value").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getString(0), halfUp(r.getDouble(1) * 100))).toSeq
    val n = rows.length.toLong
    val cents = rows.map(_._2).distinct.sorted
    val byCents = rows.groupBy(_._2)
    val expected = rows.map(_._1).distinct.sorted.map { t =>
      val n1 = rows.count(_._1 == t).toLong
      val n2 = n - n1
      var c1 = 0L; var cAll = 0L
      var dmax = -1L; var at = 0L
      cents.foreach { x =>
        val here = byCents(x)
        c1 += here.count(_._1 == t)
        cAll += here.length
        val dnum = math.abs(c1 * n2 - (cAll - c1) * n1)
        if (dnum > dmax) { dmax = dnum; at = x } // strict > = lowest cents
      }
      (t, n1, n2,
        if (n1 * n2 > 0) Some(dmax * 1000000 / (n1 * n2)) else None, at)
    }
    val got = AggOps.aggKsDrift.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))).toSeq
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    // non-vacuity: every type carries a strictly positive KS distance on
    // the fixture (the statistic is live, not a vacuous zero)
    assert(expected.forall(_._4.exists(_ > 0)), s"degenerate KS board: $expected")
  }

  test("sim-ivf-nlist-recall: nlist=2/nprobe=2 anchors at recall 1; curve is sane") {
    val got = SimOps.simIvfNlistRecall.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got.map(_._1) == Seq(2L, 4L, 8L), s"rows: $got")
    // nprobe=2 over nlist=2 probes EVERY list — the IVF search scores the
    // whole corpus, so its top-3 must equal the exact top-3 exactly
    val anchor = got.head
    assert(anchor._3 == anchor._2 && anchor._4 == 1.0,
      s"nlist=2 anchor not exact: $got")
    // k_eff is the same truth set in every row; hits never exceed it
    assert(got.map(_._2).distinct.size == 1 &&
      got.forall(r => r._3 >= 0 && r._3 <= r._2), s"grading broken: $got")
    // from-scratch IVF at nlist=8: assign corpus to fitted centroids by
    // round-6 cosine (ties lowest cid), probe each query's top-2 lists,
    // top-3 by (round-6 cosine desc, n_id) — must equal the op's row
    val vecs = graft.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    val qs = vecs.filter(_._1 < 10)
    val cs = vecs.filter(_._1 >= 10)
    val cents = SimOps.fittedCentroids(spark, sf(), 8).map(_._2)
    def cos6v(a: Seq[Double], b: Seq[Double]): Double =
      new JBigDecimal(cos(a, b)).setScale(6, RoundingMode.HALF_UP)
        .doubleValue() + 0.0
    val lists = cs.map { case (id, v) =>
      (id, v, cents.indices.minBy(i => (-cos6v(v, cents(i)), i)))
    }
    val exact = qs.map { case (qid, qv) =>
      qid -> cs.sortBy { case (nid, nv) => (-cos6v(qv, nv), nid) }
        .take(3).map(_._1).toSet
    }.toMap
    val hits8 = qs.map { case (qid, qv) =>
      val probed = cents.indices.sortBy(i => (-cos6v(qv, cents(i)), i)).take(2).toSet
      val top = lists.filter(l => probed(l._3))
        .sortBy { case (nid, nv, _) => (-cos6v(qv, nv), nid) }
        .take(3).map(_._1).toSet
      (exact(qid) & top).size
    }.sum
    assert(got.last._3 == hits8.toLong,
      s"nlist=8 hits: from-scratch $hits8 vs op ${got.last._3}")
  }

  test("dedup-winnowing-eval equals a from-scratch blocker scorecard") {
    val docs = graft.Tables.documents(spark, sf())
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2 != null).toSeq
    // reference winnowing (OpsR7Spec's paper-written impl): k=4 grams,
    // w=4 windows, distinct fps per doc
    def polyHash(s: String): Long = {
      var h = 0L; var i = 0
      while (i < s.length) { h = (h * 31 + s.charAt(i).toLong) % 2147483647L; i += 1 }
      h
    }
    def winnowFps(toks: IndexedSeq[String]): Set[Long] = {
      if (toks.size < 4) return Set.empty
      val gs = toks.sliding(4).map(g => polyHash(g.mkString(" "))).toVector
      val nw = math.max(1, gs.size - 3)
      (1 to nw).map(j => gs.slice(j - 1, j + 3).min).toSet
    }
    val fps = docs.map { case (id, t) =>
      id -> winnowFps(t.split(" ", -1).toIndexedSeq)
    }.toMap
    val ids = docs.map(_._1).sorted
    val pred = (for {
      a <- ids; b <- ids if a < b
      if (fps(a) & fps(b)).nonEmpty
    } yield (a, b)).toSet
    // truth: 3-word shingles (short-doc fallback), df <= 20 prune, exact
    // jaccard snapped at round-6, threshold 0.8 (the DedupSpec model)
    def shinglesOf(text: String): Set[String] = {
      val ws = text.split(" ", -1)
      val upper = math.max(1, ws.length - 2)
      (1 to upper).map(i => ws.slice(i - 1, i + 2).mkString(" ")).toSet
    }
    val byDoc = docs.map { case (id, t) => id -> shinglesOf(t) }.toMap
    val df = byDoc.values.flatten.groupBy(identity)
      .map { case (s0, xs) => s0 -> xs.size }
    val pruned = byDoc.map { case (id, ss) => id -> ss.filter(df(_) <= 20) }
    val truth = (for {
      a <- ids; b <- ids if a < b
      inter = (pruned(a) & pruned(b)).size if inter > 0
      jac = new JBigDecimal(inter.toDouble /
        (pruned(a).size + pruned(b).size - inter))
        .setScale(6, RoundingMode.HALF_UP).doubleValue() if jac >= 0.8
    } yield (a, b)).toSet
    val nHit = (pred & truth).size.toLong
    def fr(num: Long, den: Long): Double =
      if (den == 0) 0.0 else halfUp(num * 1000000.0 / den) / 1000000.0
    val expected = (pred.size.toLong, truth.size.toLong, nHit,
      fr(nHit, pred.size.toLong), fr(nHit, truth.size.toLong))
    val got = DedupOps.dedupWinnowingEval.build(spark, sf()).collect()
    assert(got.length == 1)
    val g = (got(0).getLong(0), got(0).getLong(1), got(0).getLong(2),
      got(0).getDouble(3), got(0).getDouble(4))
    assert(g == expected, s"\nexpected: $expected\ngot:      $g")
    // non-vacuity: the fixture has true near-dups and the blocker fires
    assert(expected._1 > 0 && expected._2 > 0,
      s"degenerate scorecard: $expected")
  }

  test("text-term-burstiness equals a from-scratch cf/df ranker") {
    val docs = graft.Tables.documents(spark, sf())
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2 != null).toSeq
    val perDoc = docs.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, xs) =>
        (w, id, xs.length.toLong)
      }
    }
    val expected = perDoc.groupBy(_._1).map { case (w, xs) =>
      (w, xs.map(_._3).sum, xs.length.toLong)
    }.collect { case (w, cf, df) if df >= 5 =>
      (w, cf, df, cf * 1000000 / df)
    }.toSeq.sortBy(x => (-x._4, x._1)).take(20)
    val got = TextOps.textTermBurstiness.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    // non-vacuity: the board is full and burstiness is live (cf > df
    // somewhere — terms DO repeat within documents on the fixture)
    assert(got.length == 20 && got.head._4 > 1000000L, s"degenerate: $got")
  }

  test("pipeline-order-sensitivity equals a from-scratch two-order funnel") {
    val docs = graft.Tables.documents(spark, sf())
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2 != null).toSeq
    val ids = docs.map(_._1).sorted
    // near-dup clusters: 3-shingle df<=20 exact jaccard >= 0.8 (round-6)
    // + connected components labeled by min id (the ClusterOracle model)
    def shinglesOf(text: String): Set[String] = {
      val ws = text.split(" ", -1)
      val upper = math.max(1, ws.length - 2)
      (1 to upper).map(i => ws.slice(i - 1, i + 2).mkString(" ")).toSet
    }
    val byDoc = docs.map { case (id, t) => id -> shinglesOf(t) }.toMap
    val dfm = byDoc.values.flatten.groupBy(identity)
      .map { case (s0, xs) => s0 -> xs.size }
    val pruned = byDoc.map { case (id, ss) => id -> ss.filter(dfm(_) <= 20) }
    val edges = for {
      a <- ids; b <- ids if a < b
      inter = (pruned(a) & pruned(b)).size if inter > 0
      jac = new JBigDecimal(inter.toDouble /
        (pruned(a).size + pruned(b).size - inter))
        .setScale(6, RoundingMode.HALF_UP).doubleValue() if jac >= 0.8
    } yield (a, b)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val cluster = ids.map(i => i -> find(i)).toMap
    // quality deciles: corpus-fit unigram LM, per-doc mean micro-nats,
    // bucket = #boundaries <= score (unigramDecileBuckets' model)
    val allToks = docs.flatMap(_._2.split(" ", -1))
    val cnt = allToks.groupBy(identity).map { case (w, xs) => w -> xs.length }
    val tot = allToks.length
    val lp = cnt.map { case (w, c) =>
      w -> halfUp((math.log(c.toDouble) - math.log(tot.toDouble)) * 1000000)
    }
    val meanU = docs.map { case (id, t) =>
      val ws = t.split(" ", -1)
      id -> halfUp(ws.map(lp).sum * 1.0 / ws.length)
    }.toMap
    val bnds = {
      val sorted = meanU.values.toIndexedSeq.sorted
      (1 to 9).map(i => pct(sorted, i / 10.0))
    }
    val bucket = meanU.map { case (id, m) =>
      id -> bnds.count(_ <= m)
    }
    // both keepers per multi-member cluster
    val lens = docs.map { case (id, t) => id -> t.length.toLong }.toMap
    val per = ids.groupBy(cluster).values.filter(_.size > 1).map { members =>
      val kd = members.minBy(i => (-lens(i), i))
      val passing = members.filter(bucket(_) >= 1)
      val kq = if (passing.isEmpty) None
        else Some(passing.minBy(i => (-lens(i), i)))
      (kd, bucket(kd), kq)
    }.toSeq
    val expected = (per.size.toLong,
      per.count { case (kd, _, kq) => kq.exists(_ != kd) }.toLong,
      per.count(_._3.isEmpty).toLong,
      per.count(_._2 >= 1).toLong,
      per.count(_._3.nonEmpty).toLong)
    val got = PipelineOps.pipelineOrderSensitivity.build(spark, sf()).collect()
    assert(got.length == 1)
    val g = (got(0).getLong(0), got(0).getLong(1), got(0).getLong(2),
      got(0).getLong(3), got(0).getLong(4))
    assert(g == expected, s"\nexpected: $expected\ngot:      $g")
    // non-vacuity: order genuinely matters on the fixture — some keeper
    // changes AND some cluster is lost outright under quality-first
    assert(expected._2 > 0 && expected._3 > 0, s"order-insensitive fixture: $expected")
  }

  test("text-min-k-prob equals a from-scratch Min-K% membership scorer") {
    val docs = graft.Tables.documents(spark, sf())
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._2 != null)
    // the op's corpus: docs with >= 2 whitespace tokens (guard BEFORE
    // sliding — Scala sliding(2) emits a final partial window, so a
    // 1-token doc would throw instead of being excluded)
    val withBi = docs.map { case (id, text, src) =>
      val ws = text.split(" ", -1)
      (id, src, md5hex(text).substring(0, 2) < "e6",
        if (ws.length >= 2) ws.sliding(2).map(a => (a(0), a(1))).toSeq
        else Seq.empty[(String, String)])
    }.filter(_._4.nonEmpty).toSeq
    // KN model on the TRAIN split
    val trainBi = withBi.filter(_._3).flatMap(_._4)
    val cxy = trainBi.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val lft = cxy.toSeq.groupBy(_._1._1).view
      .mapValues(xs => (xs.map(_._2).sum, xs.length.toLong)).toMap
    val rgt = cxy.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val t = cxy.size.toLong
    val v = rgt.size.toLong + 1
    // three-branch backoff lp per distinct scored pair (the op's tree)
    def lp(w1: String, w2: String): Long = {
      val pcont = (rgt.getOrElse(w2, 0L) + 1) / (1.0 * (t + v))
      val p = cxy.get((w1, w2)) match {
        case Some(cnt) =>
          val (cx, n1l) = lft((w1))
          ((4 * cnt - 3) / (4.0 * cx)) + (((3.0 * n1l) / (4.0 * cx)) * pcont)
        case None => lft.get(w1) match {
          case Some((cx, n1l)) => ((3.0 * n1l) / (4.0 * cx)) * pcont
          case None            => pcont
        }
      }
      halfUp(math.log(p) * 1000000)
    }
    val oovPairs = withBi.flatMap(_._4).distinct
      .filter(p => !cxy.contains(p)).toSet
    // per-doc Min-K (k = 20% of bigram occurrences, at least 1)
    val perDoc = withBi.map { case (id, src, isTrain, bis) =>
      val costs = bis.map { case (w1, w2) => -lp(w1, w2) }.sorted.reverse
      val k = math.max(1L, costs.length / 5L).toInt
      (id, src, isTrain, halfUp(costs.take(k).sum * 1.0 / k))
    }
    val expected = perDoc.groupBy(x => (x._2, x._3)).map { case ((src, tr), xs) =>
      val minks = xs.map(_._4)
      (src, if (tr) "member" else "holdout", xs.length.toLong,
        halfUp(minks.sum * 1.0 / minks.length),
        round1(pct(minks.sorted.toIndexedSeq, 0.5)))
    }.toSeq.sortBy(x => (x._1, x._2))
    val got = TextOps.textMinKProb.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    // non-vacuity: both splits scored, and the OOV/backoff branches of
    // the shared lp tree are live on the scored pair set
    assert(got.exists(_._2 == "member") && got.exists(_._2 == "holdout"),
      s"degenerate split coverage: $got")
    assert(oovPairs.nonEmpty,
      "no OOV pair on the fixture — the backoff branches went untested")
    // the published Min-K effect reads on the fixture: averaged over all
    // sources, held-out documents cost more on their worst bigrams
    val mem = perDoc.filter(_._3).map(_._4)
    val hld = perDoc.filterNot(_._3).map(_._4)
    assert(mem.nonEmpty && hld.nonEmpty &&
      hld.sum * 1.0 / hld.length > mem.sum * 1.0 / mem.length,
      s"member/holdout Min-K gap not positive: member=${mem.sum * 1.0 / mem.length} " +
        s"holdout=${hld.sum * 1.0 / hld.length}")
  }
}
