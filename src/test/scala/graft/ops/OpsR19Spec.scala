package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.OpsSpecMath._

/** Invariant tests for the round-10 op batch over the sf0.001 fixtures.
  * The driver gate owns value-exactness vs DuckDB; these pin semantics
  * independently with from-scratch Scala reference implementations: a
  * KN-bigram document cross-entropy scorer, a SemDeDup keep/drop
  * resolver (1-round k-means + within-cluster pairs), and a
  * margin-ordered multi-probe LSH sweep — plus the broadcast-merge-table
  * BPE encode parity proof (the documented 32k-merge production swap).
  */
class OpsR19Spec extends SparkSpec {

  private def cos6(a: Array[Double], b: Array[Double]): Double =
    round6(dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))) + 0.0

  test("text-doc-perplexity equals a from-scratch KN cross-entropy scorer") {
    // NULL text drops on the op side (size(split(NULL)) is NULL -> filter
    // false); mirror that here so a regenerated fixture with NULLs crashes
    // neither scorer
    val docs = graft.Tables.documents(spark, sf())
      .filter(col("text").isNotNull)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the KN model over all documents with >= 2 tokens
    val docBigrams = docs.flatMap { case (id, src, t) =>
      val ws = t.split(" ", -1)
      if (ws.length >= 2) ws.zip(ws.tail).map(b => (id, src, b))
      else Array.empty[(Long, String, (String, String))]
    }
    val cxy = docBigrams.map(_._3).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val cx = cxy.toSeq.groupBy(_._1._1).view
      .mapValues(xs => (xs.map(_._2).sum, xs.length.toLong)).toMap
    val n1r = cxy.keys.toSeq.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val t = cxy.size.toLong
    val lp: Map[(String, String), Long] = cxy.map { case ((w1, w2), cnt) =>
      val (cxv, n1l) = cx(w1)
      val pkn = ((4 * cnt - 3) / (4.0 * cxv)) +
        (((3.0 * n1l) / (4.0 * cxv)) * (n1r(w2) / (1.0 * t)))
      (w1, w2) -> halfUp(math.log(pkn) * 1000000)
    }
    // per-document cross-entropy in micro-nats per bigram
    val xent = docBigrams.groupBy(x => (x._1, x._2)).map { case ((id, src), bs) =>
      val s = bs.map(b => lp(b._3)).sum
      (id, src, halfUp(-s * 1.0 / bs.length))
    }.toSeq
    // corpus deciles: linear-interpolated percentiles (Spark `percentile`
    // == DuckDB quantile_cont), boundary closed on the left (x <= v)
    val sorted = xent.map(_._3).sorted.toIndexedSeq
    def pct(p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.length) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo).toDouble
    }
    val bnds = (1 to 9).map(i => pct(i / 10.0))
    val expected = xent
      .map { case (_, src, x) => (src, bnds.count(_ <= x).toLong, x) }
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((src, b), xs) =>
        (src, b, xs.length.toLong, halfUp(xs.map(_._3).sum * 1.0 / xs.length))
      }
      .sortBy(r => (r._1, r._2))
    val got = TextOps.textDocPerplexity.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected,
      s"doc-perplexity diverges; first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
    // non-vacuity: every decile is populated and cross-entropy is a real
    // positive quality signal with genuine spread
    assert(got.map(_._2).distinct.size == 10, "not all 10 deciles populated")
    assert(got.forall(_._4 > 0), "cross-entropy must be positive (pkn <= 1)")
    val means = got.map(_._4)
    assert(means.max > means.min, "no spread — scoring is constant")
  }

  /** Micro-cosine (semanticKeepTable's cosMicro grain). */
  private def cosU(a: Array[Double], b: Array[Double]): Long =
    halfUp(dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))) * 1000000)

  /** From-scratch SemDeDup cluster membership: 1 Lloyd round from the 4
    * lowest vec_ids (graft.sim.KMeans semantics — assignment at the
    * 6-dp-cosine grain), then reassignment to the UPDATED centroids at
    * the micro-cosine grain with ties to the lowest cid. Shared by the
    * dedup-semantic and dedup-semantic-sweep reference scorers.
    */
  private def refSemanticMembers(): Array[(Long, Array[Double], Int)] = {
    val vecs = graft.Tables.embeddings(spark, sf())
      .filter(col("embedding").isNotNull) // NPE-proof the reference scorer
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val init = vecs.take(4).map(_._2)
    def assign(cents: IndexedSeq[Array[Double]], v: Array[Double]): Int =
      cents.indices.maxBy(ci => (cos6(v, cents(ci)), -ci))
    val firstAsgn = vecs.map { case (id, v) => (id, v, assign(init.toIndexedSeq, v)) }
    val dims = vecs.head._2.length
    val updated = (0 until 4).map { ci =>
      val members = firstAsgn.filter(_._3 == ci).map(_._2)
      if (members.isEmpty) init(ci)
      else (0 until dims).map { d =>
        val sv = members.map(v => halfUp(v(d) * 10000)).sum
        round6(sv.toDouble / members.length / 10000.0)
      }.toArray
    }
    vecs.map { case (id, v) =>
      val cid = (0 until 4).maxBy(ci => (cosU(v, updated(ci)), -ci))
      (id, v, cid)
    }
  }

  test("dedup-semantic equals a from-scratch SemDeDup (kmeans + pairs + rollup)") {
    val members = refSemanticMembers()
    // within-cluster pairs >= 0.35 micro-cosine; lowest-id keeper
    val dropped = members.filter { case (id, v, cid) =>
      members.exists { case (bId, bV, bCid) =>
        bCid == cid && bId < id && cosU(v, bV) >= 350000L
      }
    }.map(_._1).toSet
    val docs = graft.Tables.documents(spark, sf())
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val vecIds = members.map(_._1).toSet
    val expected = docs.filter(d => vecIds.contains(d._1))
      .groupBy(_._2).toSeq
      .map { case (src, xs) =>
        val nKept = xs.count(d => !dropped.contains(d._1)).toLong
        (src, xs.length.toLong, nKept, xs.length - nKept)
      }
      .sortBy(_._1)
    val got = DedupOps.dedupSemantic.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected,
      s"dedup-semantic diverges; first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
    // non-vacuity + conservation: something drops, something survives,
    // and kept + dropped == embedded docs per source
    assert(got.map(_._4).sum > 0, "nothing dropped — vacuous on this corpus")
    assert(got.map(_._3).sum > 0, "nothing kept — threshold degenerate")
    got.foreach { case (src, n, k, dr) =>
      assert(k + dr == n, s"$src: kept $k + dropped $dr != $n")
    }
    // cross-tier consistency: the rollup re-derives from sim-semantic-dedup
    val keepTbl = SimOps.simSemanticDedup.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val expKept = docs.filter(d => vecIds.contains(d._1))
      .count(d => keepTbl(d._1)).toLong
    assert(got.map(_._3).sum == expKept,
      "dedup-semantic and sim-semantic-dedup disagree on total kept")
  }

  test("dedup-semantic-sweep equals a from-scratch epsilon sweep") {
    val members = refSemanticMembers()
    val epsilons = Seq(300000L, 350000L, 400000L, 450000L)
    val n = members.length.toLong
    val expected = epsilons.map { eps =>
      val dropped = members.count { case (id, v, cid) =>
        members.exists { case (bId, bV, bCid) =>
          bCid == cid && bId < id && cosU(v, bV) >= eps
        }
      }.toLong
      (eps, n, n - dropped, dropped)
    }
    val got = DedupOps.dedupSemanticSweep.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected,
      s"semantic sweep diverges:\n got $got\n exp $expected")
    // the sweep is a real budget curve: drops strictly shrink as epsilon
    // tightens on this fixture, and the shipped eps = 0.35 row must agree
    // with dedup-semantic's total drop count over the embedded doc subset
    assert(got.map(_._4) == got.map(_._4).sorted.reverse, "drops not monotone in eps")
    assert(got.map(_._4).distinct.size > 1, "sweep is flat — fixture degenerate")
    val dropAt35 = got.find(_._1 == 350000L).get._4
    val keepTblDropped = graft.ops.SimOps.simSemanticDedup.build(spark, sf())
      .collect().count(r => !r.getBoolean(2)).toLong
    assert(dropAt35 == keepTblDropped,
      s"sweep eps=0.35 drops $dropAt35 != keep-table drops $keepTblDropped")
  }

  test("dedup-semantic-orphans equals a from-scratch over-deletion audit") {
    val members = refSemanticMembers()
    val dropped = members.filter { case (id, v, cid) =>
      members.exists { case (bId, bV, bCid) =>
        bCid == cid && bId < id && cosU(v, bV) >= 350000L
      }
    }.map(_._1).toSet
    val expected = members.groupBy(_._3).toSeq.map { case (cid, xs) =>
      val dr = xs.filter(m => dropped.contains(m._1))
      val kept = xs.filter(m => !dropped.contains(m._1))
      val orphans = dr.count { case (_, v, _) =>
        !kept.exists { case (_, kv, _) => cosU(v, kv) >= 350000L }
      }.toLong
      val nDrop = dr.length.toLong
      (cid, xs.length.toLong, nDrop, orphans,
        if (nDrop == 0) None else Some(orphans * 10000 / nDrop))
    }.sortBy(_._1)
    val got = DedupOps.dedupSemanticOrphans.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    // non-vacuity + the structural facts the audit rests on: drops exist,
    // orphans never exceed drops, and the KEPT set is ε-independent (no
    // two kept members of one cluster within ε — otherwise the later one
    // would have been dropped), which is what makes "no kept neighbor"
    // the right orphan criterion
    assert(got.map(_._3).sum > 0, "no drops — audit vacuous on this corpus")
    got.foreach { case (cid, _, dr, orph, _) =>
      assert(orph <= dr, s"cluster $cid: orphans $orph > drops $dr")
    }
    val keptM = members.filter(m => !dropped.contains(m._1))
    for {
      (id, v, cid) <- keptM
      (bId, bV, bCid) <- keptM
      if bCid == cid && bId < id
    } assert(cosU(v, bV) < 350000L,
      s"kept pair ($bId, $id) within eps — keep rule broken")
  }

  test("sim-probe-order equals a from-scratch margin-ordered probe sweep") {
    val vecs = graft.Tables.embeddings(spark, sf())
      .filter(col("embedding").isNotNull) // NPE-proof the reference scorer
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    // exact-integer margins and buckets (Similarity.lshBucket/lshMargins)
    def margins(v: Array[Double]): Array[Long] = {
      val ie = v.map(x => halfUp(x * 10000))
      (0 until 8).map { j =>
        (0 until v.length).map(d => ie(d) * ((j * 131 + d * 31) % 17 - 8)).sum
      }.toArray
    }
    def bucket(m: Array[Long]): Long =
      m.zipWithIndex.map { case (s, j) => if (s > 0) 1L << j else 0L }.sum
    val withB = vecs.map { case (id, v) => (id, v, margins(v)) }
      .map { case (id, v, m) => (id, v, m, bucket(m)) }
    val queries = withB.filter(_._1 < 10)
    val corpus = withB.filter(_._1 >= 10)
    // exact top-3 truth per query (cosine desc, n_id asc)
    val truth = queries.flatMap { case (qId, qv, _, _) =>
      corpus.map { case (nId, nv, _, _) => (qId, nId, cos6(qv, nv)) }
        .sortBy { case (_, nId, s) => (-s, nId) }.take(3)
        .map { case (qId2, nId, _) => (qId2, nId) }
    }.toSet
    val nTruth = truth.size.toLong
    val expected = Seq(2L, 4L, 8L).map { tBudget =>
      val cand = queries.flatMap { case (qId, qv, m, b) =>
        val ranked = (0 until 8).sortBy(j => (math.abs(m(j)), j))
        val probes = b +: ranked.take(tBudget.toInt).map(j => b ^ (1L << j))
        val cands = corpus.filter(c => probes.contains(c._4)).map(_._1).distinct
        cands.map(nId => (qId, nId))
      }
      val nCand = cand.length.toLong
      val r3 = cand.groupBy(_._1).toSeq.flatMap { case (qId, cs) =>
        val qv = queries.find(_._1 == qId).get._2
        cs.map(_._2).map { nId =>
          (qId, nId, cos6(qv, corpus.find(_._1 == nId).get._2))
        }.sortBy { case (_, nId, s) => (-s, nId) }.take(3)
      }
      val nHits = r3.count { case (qId, nId, _) => truth.contains((qId, nId)) }.toLong
      val recall = if (nTruth == 0) null
      else java.lang.Long.valueOf(nHits * 10000 / nTruth)
      (tBudget, nCand, nHits, nTruth, recall)
    }
    val got = SimOps.simProbeOrder.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else java.lang.Long.valueOf(r.getLong(4)))).toSeq
    assert(got == expected,
      s"probe-order diverges:\n got $got\n exp $expected")
    // the sweep is a real trade: candidates and hits are nondecreasing in
    // T, and T=8 reproduces sim-lsh-multiprobe's full Hamming-1 'multi' row
    assert(got.map(_._2) == got.map(_._2).sorted, "candidates not monotone in T")
    assert(got.map(_._3) == got.map(_._3).sorted, "hits not monotone in T")
    val multi = SimOps.simLshMultiprobe.build(spark, sf()).collect()
      .filter(_.getString(0) == "multi")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    val t8 = got.find(_._1 == 8L).get
    assert((t8._2, t8._3, t8._4) == multi,
      s"T=8 ${(t8._2, t8._3, t8._4)} != multiprobe 'multi' $multi")
  }

  test("text-perplexity-holdout equals a from-scratch held-out KN scorer") {
    val docs = graft.Tables.documents(spark, sf())
      .filter(col("text").isNotNull)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._3.split(" ", -1).length >= 2)
    val (train, holdout) = docs.partition(d => md5hex2(d._3) < "e6")
    assert(train.nonEmpty && holdout.nonEmpty,
      "split degenerate on this fixture — both halves must be populated")
    def bigrams(t: String): Array[(String, String)] = {
      val ws = t.split(" ", -1); ws.zip(ws.tail)
    }
    val cxy = train.flatMap(d => bigrams(d._3)).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val cx = cxy.toSeq.groupBy(_._1._1).view
      .mapValues(xs => (xs.map(_._2).sum, xs.length.toLong)).toMap
    val n1r = cxy.keys.toSeq.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val t = cxy.size.toLong
    val v = n1r.size.toLong + 1
    def score(b: (String, String)): (Long, Long) = { // (lp_micro, oov)
      val pcont = (n1r.getOrElse(b._2, 0L) + 1) / (1.0 * (t + v))
      cxy.get(b) match {
        case Some(cnt) =>
          val (cxv, n1l) = cx(b._1)
          (halfUp(math.log(((4 * cnt - 3) / (4.0 * cxv)) +
            (((3.0 * n1l) / (4.0 * cxv)) * pcont)) * 1000000), 0L)
        case None => cx.get(b._1) match {
          case Some((cxv, n1l)) =>
            (halfUp(math.log(((3.0 * n1l) / (4.0 * cxv)) * pcont) * 1000000), 1L)
          case None => (halfUp(math.log(pcont) * 1000000), 1L)
        }
      }
    }
    val perDoc = holdout.map { case (_, src, text) =>
      val bs = bigrams(text).map(score)
      (src, halfUp(-bs.map(_._1).sum * 1.0 / bs.length),
        bs.map(_._2).sum, bs.length.toLong)
    }
    val expected = perDoc.groupBy(_._1).toSeq.map { case (src, xs) =>
      (src, xs.length.toLong,
        halfUp(xs.map(_._2).sum * 1.0 / xs.length),
        xs.map(_._3).sum * 10000 / xs.map(_._4).sum)
    }.sortBy(_._1)
    val got = TextOps.textPerplexityHoldout.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected,
      s"holdout perplexity diverges; first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
    // the backoff branches genuinely fire on held-out data, and OOV mass
    // is a fraction, not everything (the model generalizes somewhat)
    assert(got.map(_._4).max > 0, "no OOV bigrams — holdout is memorized?")
    assert(got.map(_._4).min < 10000, "everything OOV — model vacuous")
    assert(got.forall(_._3 > 0), "cross-entropy must be positive")
    // the generalization gap is real and points the right way: score the
    // TRAIN docs under the same model/scorer — the corpus-wide held-out
    // mean must exceed the training mean (an inverted is_train split, or
    // a scorer that leaks held-out mass into the model, flips this)
    val trainXents = train.map { case (_, _, text) =>
      val bs = bigrams(text).map(score)
      halfUp(-bs.map(_._1).sum * 1.0 / bs.length)
    }
    val trainMean = trainXents.sum.toDouble / trainXents.length
    val holdoutMean = perDoc.map(_._2).sum.toDouble / perDoc.length
    assert(holdoutMean > trainMean,
      s"held-out mean xent $holdoutMean <= training mean $trainMean — " +
        "split inverted or model leaked the holdout")
  }

  test("broadcast-merge-table BPE encode: foldLeft parity + 64-merge scale proof") {
    // the documented 32k-merge production swap. Two halves:
    //  (a) PARITY at 12 merges: the broadcast mapPartitions encode and the
    //      plan-literal foldLeft path agree byte-for-byte on every
    //      encoded vocab sequence for the same learned merges;
    //  (b) SCALE at 64 merges: the foldLeft path is structurally
    //      unaffordable there (64 stacked replace nodes OOM the planner
    //      on this heap — empirically verified, and WHY the swap exists),
    //      so the 64-merge broadcast encode is checked against a
    //      from-scratch local application of the same merge table.
    val merges64 = TextOps.bpeLearnMerges(spark, sf(), rounds = 64).map(_._1)
    assert(merges64.length >= 32,
      s"corpus exhausted after ${merges64.length} merges — raise the fixture size")
    val vocab = TextOps.bpeSpacedVocab(spark, sf())
    val merges12 = merges64.take(12)
    val viaFold = merges12.foldLeft(vocab)(TextOps.bpeApplyMerge)
      .select("seq", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val viaBroadcast12 = TextOps.bpeEncodeBroadcast(vocab, merges12)
      .select("seq", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(viaBroadcast12.sameElements(viaFold),
      s"broadcast encode diverges from foldLeft; first diff: " +
        viaBroadcast12.zip(viaFold).find(p => p._1 != p._2))
    // (b): 64-merge broadcast encode vs a local reference replace chain
    // (java.lang.String.replace == Spark's replace: literal, left-to-right,
    // non-overlapping)
    val table64 = merges64.map(p =>
      (" " + p.replace(" ", "  ") + " ", " " + p.replace(" ", "") + " "))
    val before = vocab.select("seq", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected64 = before
      .map { case (s, f) => (table64.foldLeft(s)((x, m) => x.replace(m._1, m._2)), f) }
      .sortBy(_._1)
    val viaBroadcast64 = TextOps.bpeEncodeBroadcast(vocab, merges64)
      .select("seq", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(viaBroadcast64.sameElements(expected64),
      s"64-merge broadcast encode diverges; first diff: " +
        viaBroadcast64.zip(expected64).find(p => p._1 != p._2))
    // the deep table genuinely does more work than the shallow one
    assert(viaBroadcast64.map(_._1.length).sum < viaBroadcast12.map(_._1.length).sum,
      "64 merges compressed no further than 12 — learning stalled")
  }

  test("embedding elements are non-null (the LSH-family contract)") {
    // Similarity.lshBucket's documented contract: a NULL element makes
    // ArrayDotLong propagate NULL where DuckDB's list_sum skips it, so
    // buckets and margin orderings would diverge cross-engine. Guard the
    // fixture invariant loudly instead of letting a regenerated fixture
    // fail as a silent per-bucket hash mismatch (round-10 ADVICE item 3).
    val bad = graft.Tables.embeddings(spark, sf())
      .filter(col("embedding").isNotNull)
      .filter(exists(col("embedding"), x => x.isNull))
      .count()
    assert(bad == 0L,
      s"$bad embeddings carry NULL elements — repair (coalesce/drop) " +
        "before the LSH tier per the Similarity.lshBucket contract")
  }

  test("KN broadcast guard: min-count prune + bounded-broadcast assert") {
    // round-10 verdict finding 5: the 100 TB model prune must be ENFORCED,
    // not just documented — the failure mode at scale is an actionable
    // message, not an executor OOM mid-broadcast.
    import spark.implicits._
    val cxy = Seq(("a", "b", 5L), ("a", "c", 1L), ("b", "c", 2L))
      .toDF("w1", "w2", "cnt")
    // default (no conf): identity — the shipped-SF plan is unchanged
    assert(TextOps.knPruned(cxy).collect().length == 3)
    try {
      spark.conf.set("graft.kn.minCount", "2")
      assert(TextOps.knPruned(cxy).collect().map(_.getString(1)).sorted
        .sameElements(Array("b", "c")))
      // the bound assert fires with the consumer's actionable remedy...
      spark.conf.set("graft.kn.maxBroadcastTypes", "1")
      val e = intercept[IllegalArgumentException] {
        TextOps.knBroadcastGuard(TextOps.knPruned(cxy), "test LM",
          "raise graft.kn.minCount")
      }
      assert(e.getMessage.contains("graft.kn.minCount"), e.getMessage)
      // ...and passes when the pruned model fits the bound
      spark.conf.set("graft.kn.maxBroadcastTypes", "2")
      assert(TextOps.knBroadcastGuard(TextOps.knPruned(cxy), "test LM", "r")
        .collect().length == 2)
      // end-to-end: both scorer ops run under an enforced bound (the
      // sf0.001 model is small enough for a generous bound; the guard's
      // count job actually executes on this path)
      spark.conf.set("graft.kn.minCount", "1")
      spark.conf.set("graft.kn.maxBroadcastTypes", "10000000")
      assert(graft.SparkEntry.queries("text-doc-perplexity")(spark, sf())
        .collect().length > 0)
      assert(graft.SparkEntry.queries("text-perplexity-holdout")(spark, sf())
        .collect().length > 0)
    } finally {
      spark.conf.unset("graft.kn.minCount")
      spark.conf.unset("graft.kn.maxBroadcastTypes")
    }
  }
}
