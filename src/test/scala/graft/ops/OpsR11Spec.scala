package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.OpsSpecMath._

/** Invariant tests for the late round-5 ops (text-boilerplate-strip,
  * text-bpe-pairs, sim-mrl-recall) over sf0.001. The driver gate owns
  * value-exactness against DuckDB; these recompute the semantics
  * independently on collected rows: block strip/reassembly round-trip,
  * BPE pair counting over the vocabulary, and prefix-dim recall against
  * a brute-force double recompute.
  */
class OpsR11Spec extends SparkSpec {

  private def docs() = graft.Tables.documents(spark, sf())
    .select(col("doc_id"), col("text"))
    .collect()
    .map(r => (r.getLong(0), r.getString(1)))

  test("text-boilerplate-strip: counts and reassembled text match brute force") {
    val ds = docs()
    // Reference block decomposition: non-overlapping 10-token windows,
    // trailing partial NOT hashed but always kept in the clean text.
    val inst = ds.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      if (ws.length < 10) Seq.empty
      else (0 until ws.length / 10).map(i =>
        (id, i, md5hex(ws.slice(i * 10, i * 10 + 10).mkString(" "))))
    }
    val docsPerHash = inst.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    val expected = ds.map { case (id, text) =>
      val ws = text.split(" ", -1)
      if (ws.length < 10) (id, 0L, 0L, text)
      else {
        val nb = ws.length / 10
        val dropped = (0 until nb).filter(i =>
          docsPerHash(md5hex(ws.slice(i * 10, i * 10 + 10).mkString(" "))).size > 1)
        val keptTokens = (0 until nb).filterNot(dropped.contains)
          .flatMap(i => ws.slice(i * 10, i * 10 + 10)) ++ ws.drop(nb * 10)
        (id, nb.toLong, dropped.size.toLong, keptTokens.mkString(" "))
      }
    }.toSeq
    val out = CurationOps.textBoilerplateStrip.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(out.sorted === expected.sorted)
    assert(out.exists(_._3 > 0), "fixture has at least one stripped block")
    // Untouched documents round-trip exactly (split/join inverse).
    val byId = ds.toMap
    out.filter(_._3 == 0).foreach { case (id, _, _, clean) =>
      assert(clean === byId(id), s"doc $id: no drops must mean identity")
    }
  }

  test("text-bpe-pairs: top-20 pair counts match brute force over the vocab") {
    val vocab = docs().flatMap(_._2.split(" ", -1)).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val counts = vocab.toSeq.filter(_._1.length >= 2).flatMap { case (w, f) =>
      (0 until w.length - 1).map(i => (w.substring(i, i + 2), f))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    val out = TextOps.textBpePairs.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === expected)
    assert(out.head._2 >= out.last._2, "descending by count")
  }

  test("agg-hll-distinct: estimate matches an independent HLL recompute") {
    val ev = graft.Tables.events(spark, sf())
      .select(col("event_type"), col("user_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def h60(u: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = ev.groupBy(_._1).map { case (et, us) =>
      val rhos = us.map(_._2).map(h60)
        .groupBy(h => (h % 64).toInt)
        .view.mapValues(_.map { h =>
          val w = h >>> 6
          if (w == 0) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        }.max).toMap
      val zsum = (0 until 64).map(b =>
        rhos.get(b).map(r => 1L << (55 - r)).getOrElse(1L << 55)).sum
      val v = 64 - rhos.size
      val eRaw = 0.709 * 4096.0 * 36028797018963968.0 / zsum
      val est =
        if (eRaw <= 160.0 && v > 0) math.round(64.0 * math.log(64.0 / v))
        else math.round(eRaw)
      (et, us.map(_._2).distinct.length.toLong, est)
    }.toSeq.sortBy(_._1)
    val out = AggOps.aggHllDistinct.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out.map(t => (t._1, t._2, t._3)) === expected)
    // HLL with m=64 has ~13% standard error; 3 sigma is a safe fixture bound.
    out.foreach { case (et, _, _, relErr) =>
      assert(math.abs(relErr) < 0.4, s"$et: rel_err $relErr within 3-sigma of m=64 HLL")
    }
    // The linear-counting branch's ln is cross-engine-safe because its
    // domain is enumerable: no m*ln(m/V) sits near a round-half boundary.
    val worst = (1 to 64).map { vv =>
      val x = 64.0 * math.log(64.0 / vv)
      math.abs(x - math.floor(x) - 0.5)
    }.min
    assert(worst > 1e-6, s"linear-counting rounding margin $worst")
  }

  test("agg-kmv-overlap: estimates match an independent KMV recompute") {
    val ev = graft.Tables.events(spark, sf())
      .select(col("event_type"), col("user_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def h60(u: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val k = 64
    val sketches = ev.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.map(h60).sorted.take(k).toSet).toMap
    val users = ev.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = sketches.keys.toSeq.sorted
    val expected = (for {
      a <- types; b <- types if a < b
    } yield {
      val union = (sketches(a) ++ sketches(b)).toSeq.sorted
      val nU = union.size
      val topk = union.take(k)
      val cBoth = topk.count(h => sketches(a)(h) && sketches(b)(h)).toLong
      val (estUnion, estInter) =
        if (nU < k) (nU.toLong, cBoth)
        else {
          val eu = math.round(63.0 * 1152921504606846976.0 / topk.last)
          (eu, math.round(cBoth.toDouble * eu.toDouble / 64.0))
        }
      (a, b, estUnion, estInter, users(a).intersect(users(b)).size.toLong)
    }).sortBy(t => (t._1, t._2))
    val out = AggOps.aggKmvOverlap.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(out === expected)
  }

  test("compact-bin-pack: bins match a sequential pack; files are conserved") {
    val files = graft.Tables.documents(spark, sf())
      .select(col("source"), col("doc_id"), col("n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val target = 65536L
    val expected = files.groupBy(_._1).toSeq.flatMap { case (src, fs) =>
      var cum = 0L
      fs.sortBy(_._2).map { case (_, _, n) =>
        val bin = cum / target; cum += n; (src, bin, n)
      }
    }.groupBy(t => (t._1, t._2)).map { case ((src, bin), xs) =>
      (src, bin, xs.size.toLong, xs.map(_._3).sum)
    }.toSeq.sortBy(t => (t._1, t._2))
    val out = ChunkOps.compactBinPack.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out === expected)
    // conservation + contiguity: every file lands in exactly one bin and
    // bins per source are 0..max with no holes
    val bySrc = out.groupBy(_._1)
    val docCounts = files.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    bySrc.foreach { case (src, bins) =>
      assert(bins.map(_._3).sum === docCounts(src), s"$src file conservation")
      assert(bins.map(_._2).sorted === (0L until bins.size.toLong), s"$src contiguous bins")
    }
  }

  test("text-blocklist-filter: counts and verdicts match brute force") {
    val terms = Seq("scan", "window", "join", "query", "merge", "sort", "agg", "key")
    val expected = docs().map { case (id, text) =>
      val ws = text.split(" ", -1)
      val cnts = terms.map(t => ws.count(_ == t).toLong)
      val hit = cnts.count(_ > 0).toLong
      val occ = cnts.sum
      (id, hit, occ, hit >= 4 && occ >= 12)
    }.toSeq.sortBy(_._1)
    val out = TextOps.textBlocklistFilter.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(out === expected)
    assert(out.exists(_._4) && out.exists(!_._4), "both verdicts present")
  }

  test("sim-embed-outliers: every vector assigned once; outlier rate ~5% per cluster") {
    val out = SimOps.simEmbedOutliers.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    val nVecs = graft.Tables.embeddings(spark, sf()).count()
    assert(out.map(_._1).distinct.size.toLong === nVecs, "one row per vector")
    out.groupBy(_._2).foreach { case (cid, members) =>
      val nOut = members.count(_._4)
      // p95 flags the strictly-above-quantile tail: at most ~5% + the
      // interpolation row, never more
      assert(nOut <= math.ceil(members.size * 0.05) + 1,
        s"cluster $cid: $nOut outliers of ${members.size}")
      // every outlier is farther than every inlier's distance ceiling
      if (nOut > 0) {
        val maxIn = members.filter(!_._4).map(_._3).max
        assert(members.filter(_._4).forall(_._3 > maxIn), s"cluster $cid separation")
      }
    }
  }

  test("agg-rate-anomaly: z-scores match a brute-force recompute") {
    val ev = graft.Tables.events(spark, sf())
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("hr"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val counts = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = counts.keys.toSeq.groupBy(_._1).flatMap { case (et, keys) =>
      val ns = keys.map(counts)
      val nh = ns.size.toLong
      val sn = ns.sum
      val sn2 = ns.map(n => n * n).sum
      keys.map { case (_, hr) =>
        val n = counts((et, hr))
        val zr =
          if (nh * sn2 == sn * sn) 0.0
          else (n * nh - sn).toDouble / math.sqrt((nh * sn2 - sn * sn).toDouble)
        val z6 = math.round(zr * 1000000.0)
        (et, hr, n, z6 / 1000000.0, math.abs(z6) >= 3000000L)
      }
    }.toSeq.sortBy(t => (t._1, t._2))
    val out = AggOps.aggRateAnomaly.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSeq
    assert(out === expected)
    // z-scores of a distribution sum to ~0; micro-grain rounding keeps it tiny
    val zsum = out.map(_._4).sum
    assert(math.abs(zsum) < 0.01, s"z sum $zsum")
  }

  test("text-lang-segments: block guesses and switch counts match brute force") {
    val stop = Set("the", "a", "of", "and", "to", "in", "is")
    val expected = docs().flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      val nb = ws.length / 10
      if (nb < 1) None
      else {
        val gs = (0 until nb).map(i =>
          ws.slice(i * 10, i * 10 + 10).exists(stop))
        val nEn = gs.count(identity).toLong
        val switches = gs.sliding(2).count(p => p.length == 2 && p(0) != p(1)).toLong
        Some((id, nb.toLong, nEn, switches, nEn > 0 && nEn < nb))
      }
    }.toSeq.sortBy(_._1)
    val out = TextOps.textLangSegments.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(out === expected)
  }

  test("text-shard-manifest: checksum is order-free and matches brute force") {
    val ds = docs()
    def h60(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = ds.groupBy(_._1 % 8).map { case (shard, xs) =>
      (shard, xs.length.toLong,
        xs.map(_._2).map(h60).foldLeft(0L)(_ ^ _))
    }.toSeq.sortBy(_._1)
    val out = CurationOps.textShardManifest.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(out === expected)
    // order-free: reversing the fold order can't change a XOR checksum
    val rev = ds.reverse.groupBy(_._1 % 8).view
      .mapValues(_.map(_._2).map(h60).foldLeft(0L)(_ ^ _)).toMap
    out.foreach { case (shard, _, ck) => assert(ck === rev(shard)) }
  }

  test("sim-mrl-recall: recall matches a brute-force double recompute") {
    val embs = graft.Tables.embeddings(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    def top3(dims: Int): Map[Long, Seq[Long]] = {
      val qs = embs.filter(_._1 < 10)
      val cs = embs.filter(_._1 >= 10)
      qs.map { case (qid, qv0) =>
        val qv = qv0.take(dims)
        val scored = cs.map { case (nid, nv0) =>
          val nv = nv0.take(dims)
          val dot = qv.zip(nv).map { case (a, b) => a * b }.sum
          val sim = round6(dot / (math.sqrt(qv.map(x => x * x).sum) *
            math.sqrt(nv.map(x => x * x).sum)))
          (nid, sim)
        }
        qid -> scored.sortBy { case (nid, sim) => (-sim, nid) }.take(3).map(_._1).toSeq
      }.toMap
    }
    val full = top3(dims = 64)
    val pre = top3(dims = 16)
    val out = SimOps.simMrlRecall.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.map(_._1) === full.keys.toSeq.sorted, "one row per query")
    out.foreach { case (qid, hits, recall) =>
      val expHits = full(qid).toSet.intersect(pre(qid).toSet).size.toLong
      assert(hits === expHits, s"query $qid hit count")
      assert(recall === round6(hits.toDouble / 3), s"query $qid recall")
      assert(hits >= 0L && hits <= 3L)
    }
  }
}
