package graft.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.OpsSpecMath._

/** Invariant tests for the round-11 op batch. The driver gate owns
  * value-exactness vs DuckDB; these pin semantics independently with a
  * from-scratch Scala reference implementation of the end-to-end curation
  * funnel (exact dedup → near-dup cluster drop → quality decile screen →
  * mix quota → content-hash split → sequence packing), run against BOTH
  * the real sf0.001 fixture and a synthetic skewed-source corpus where
  * the mix-quota stage provably drops documents (it is vacuous on the
  * equal-source driver fixtures — equal-share weights cap at 1.0 there).
  */
class OpsR20Spec extends SparkSpec {

  /** Spark `percentile` (linear interpolation) over sorted longs. */
  private def pct(sorted: IndexedSeq[Long], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  private case class DocMeta(id: Long, src: String, bytes: Long, nTok: Long,
      h: String, isTrain: Boolean)

  /** Micro-integer cosine — SimOps.cosMicro's grain. */
  private def cosU(a: Array[Double], b: Array[Double]): Long =
    halfUp(dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
      * 1000000)

  /** Spark round(x, 6) + 0.0 — Similarity.cosine's compare grain. */
  private def cos6(a: Array[Double], b: Array[Double]): Double =
    new JBigDecimal(dotD(a, b) /
      (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b))))
      .setScale(6, RoundingMode.HALF_UP).doubleValue() + 0.0

  /** Similarity.lshBucket from scratch: exact integer sign projections. */
  private def lshBucket(v: Array[Double]): Long = {
    val ie = v.map(x => halfUp(x * 10000))
    (0 until 8).map { j =>
      val s = ie.indices.map(d => ie(d) * ((j * 131 + d * 31) % 17 - 8)).sum
      if (s > 0) 1L << j else 0L
    }.sum
  }

  private def loadVecs(): Seq[(Long, Array[Double], Option[Int])] =
    graft.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq

  test("sim-hard-negatives equals a from-scratch triplet miner") {
    val rows = loadVecs()
    val q = rows.filter(_._1 < 10)
    val c = rows.filter(_._1 >= 10)
    val expected = q.flatMap { case (qid, qv, ql) =>
      if (ql.isEmpty) None
      else {
        val same = c.filter(x => x._3 == ql)
        val diff = c.filter(x => x._3.isDefined && x._3 != ql)
        if (same.isEmpty || diff.isEmpty) None
        else {
          def best(xs: Seq[(Long, Array[Double], Option[Int])]) = {
            val (cu, nn) = xs.map(x => (cosU(qv, x._2), -x._1)).max
            (-nn, cu)
          }
          val (posId, posCu) = best(same)
          val (negId, negCu) = best(diff)
          Some((qid, posId, posCu, negId, negCu, posCu - negCu,
            posCu < negCu))
        }
      }
    }.sortBy(_._1)
    val got = SimOps.simHardNegatives.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    assert(expected.nonEmpty, "no anchor had both a positive and a negative")
    // the miner found genuinely distinct candidates per anchor
    expected.foreach { case (qid, p, _, n, _, _, _) =>
      assert(p != n, s"anchor $qid: positive == negative")
    }
    assert(expected.map(_._6).distinct.size > 1,
      "all margins identical — fixture degenerate for triplet mining")
  }

  /** From-scratch MRR/NDCG@3 grader mirroring sim-rank-eval. */
  private def expectedRankEval(rows: Seq[(Long, Array[Double], Option[Int])])
      : Seq[(Long, Long, Long, Long, Long, Long)] = {
    val q = rows.filter(_._1 < 10)
    val c = rows.filter(_._1 >= 10)
    def top3(qv: Array[Double], pool: Seq[(Long, Array[Double], Option[Int])]) =
      pool.map(x => (x._1, cos6(qv, x._2)))
        .sortBy { case (id, s) => (-s, id) }.take(3)
    val mrrLit = Map(1 -> 1000000L, 2 -> 500000L, 3 -> 333333L)
    val dcgLit = Map(1 -> 1000000L, 2 -> 630930L, 3 -> 500000L)
    val idcgLit = Map(1 -> 1000000L, 2 -> 1630930L, 3 -> 2130930L)
    q.map { case (qid, qv, _) =>
      val truth = top3(qv, c).map(_._1).toSet
      val bucket = lshBucket(qv)
      val sys = top3(qv, c.filter(x => lshBucket(x._2) == bucket))
        .map(_._1).zipWithIndex.map { case (id, i) => (id, i + 1) }
      val hits = sys.filter { case (id, _) => truth.contains(id) }
      val mrr = hits.map { case (_, r) => mrrLit(r) }.maxOption.getOrElse(0L)
      val dcg = hits.map { case (_, r) => dcgLit(r) }.sum
      val idcg = idcgLit(truth.size)
      (qid, truth.size.toLong, mrr, dcg, idcg, dcg * 10000 / idcg)
    }.sortBy(_._1)
  }

  private def runRankEval(dir: String): Seq[(Long, Long, Long, Long, Long, Long)] =
    SimOps.simRankEval.build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("sim-rank-eval equals a from-scratch MRR/NDCG@3 grader") {
    val expected = expectedRankEval(loadVecs())
    val got = runRankEval(sf())
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    assert(expected.nonEmpty &&
      expected.forall(r => r._5 >= 1000000L && r._6 <= 10000L), got)
  }

  test("text-kn-trigram equals a from-scratch interpolated order-3 KN") {
    val trigrams = graft.Tables.documents(spark, sf())
      .select("text").collect().map(_.getString(0))
      .filter(t => t != null)
      .map(_.split(" ", -1)).filter(_.length >= 3)
      .flatMap(_.sliding(3).map(a => (a(0), a(1), a(2))))
      .toSeq
    val c3 = trigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ctx = c3.toSeq.groupBy(t => (t._1._1, t._1._2)).view
      .mapValues(xs => (xs.map(_._2).sum, xs.length.toLong)).toMap
    val cb = c3.keys.toSeq.groupBy(t => (t._2, t._3)).view
      .mapValues(_.size.toLong).toMap
    val cbx = cb.toSeq.groupBy(_._1._1).view
      .mapValues(xs => (xs.map(_._2).sum, xs.length.toLong)).toMap
    val pc = cb.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val t = cb.size.toLong
    val expected = c3.toSeq.collect {
      case ((w1, w2, w3), cnt) if cnt >= 3 =>
        val (c2, n1p3) = ctx((w1, w2))
        val cp = cb((w2, w3))
        val (cpx, n1p2) = cbx(w2)
        val nc = pc(w3)
        // the op's expression tree, verbatim
        val pkn = ((4 * cnt - 3) / (4.0 * c2)) +
          (((3.0 * n1p3) / (4.0 * c2)) *
            (((4 * cp - 3) / (4.0 * cpx)) +
              (((3.0 * n1p2) / (4.0 * cpx)) * (nc / (1.0 * t)))))
        (w1, w2, w3, cnt, halfUp(pkn * 1000000))
    }.sortBy { case (w1, w2, w3, _, m) => (-m, w1, w2, w3) }.take(20)
    val got = TextOps.textKnTrigram.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    assert(got.length == 20 && got.map(_._5).distinct.size > 1,
      s"trigram table degenerate: $got")
    // probabilities are probabilities, and the backoff mass is live:
    // every row must exceed its bare seen-trigram term
    got.foreach { case (w1, w2, w3, cnt, m) =>
      assert(m > 0 && m <= 1000000L, s"($w1,$w2,$w3) pkn_micro $m out of range")
      val (c2, _) = ctx((w1, w2))
      val bare = halfUp((4 * cnt - 3) / (4.0 * c2) * 1000000)
      assert(m > bare - 1,
        s"($w1,$w2,$w3): interpolated $m below bare term $bare")
    }
  }

  test("sim-rank-eval mechanics: guaranteed hits on a clustered corpus") {
    // 8-plane buckets are so selective at sf0.001 that the ANN list never
    // intersects the exact top-3 (DCG 0 everywhere — grader equality
    // holds but the hit path is vacuous there). This corpus puts EXACT
    // COPIES of each query in the corpus: identical vectors share the
    // bucket by construction and cosine 1.0 tops the exact list, so
    // every query must grade mrr = 10⁶, ndcg = 10⁴ — the hit/discount
    // arithmetic is exercised for real.
    val dim = 64
    def vec(seed: Int): Array[Double] =
      Array.tabulate(dim)(d => (((seed * 131 + d * 37) % 13) - 6) / 10.0)
    val queries = (0L until 4L).map(i => (i, vec(i.toInt), Some(0)))
    val copies = for {
      i <- 0 until 4; r <- 0 until 3
    } yield ((10 + i * 3 + r).toLong, vec(i), Some(0))
    val noise = (30L until 38L).map(i => (i, vec(i.toInt + 50), Some(1)))
    val rows = queries ++ copies ++ noise
    val dir = java.nio.file.Files.createTempDirectory("rankeval").toString
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding",
        ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(rows.map { case (id, v, l) =>
      org.apache.spark.sql.Row(id, v.map(_.toFloat).toSeq, l.get)
    }.asJava, schema).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    // grade against floats read back (float→double is exact)
    val readBack = rows.map { case (id, v, l) =>
      (id, v.map(x => x.toFloat.toDouble), l)
    }
    val expected = expectedRankEval(readBack)
    val got = runRankEval(dir)
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    assert(got.forall(r => r._3 == 1000000L && r._6 == 10000L),
      s"copies not found at rank 1 — hit mechanics broken: $got")
  }

  /** From-scratch curation funnel — mirrors pipeline-curation-e2e's
    * semantics: stages over readable docs, quality/mix tables over the
    * full corpus, clusters from exact jaccard ≥ 0.8 on df ≤ 20 3-gram
    * shingles (the oracle's spelling of the minhash cluster table).
    */
  private def expectedFunnel(all: Seq[(Long, String, Option[String])])
      : Seq[(Long, String, Long, Long, Long)] = {
    val readable = all.collect { case (id, src, Some(t)) => (id, src, t) }
    def toks(t: String): Array[String] = t.split(" ", -1)
    val meta = readable.map { case (id, src, t) =>
      val h = md5hex(t)
      DocMeta(id, src, t.length.toLong, toks(t).length.toLong, h,
        h.substring(0, 2) < "e6")
    }
    // stage 1: exact keeper = min doc_id per content hash
    val keepByH = meta.groupBy(_.h).map { case (h, xs) => h -> xs.map(_.id).min }
    // stage 2: near-dup cluster rep. Shingle = ws[i..i+2] (1-based DuckDB
    // slice; short docs emit their whole prefix), DISTINCT per doc,
    // df <= 20 prune, exact jaccard round6 >= 0.8, CC labeled by min id.
    val shingleSets: Map[Long, Set[String]] = readable.map { case (id, _, t) =>
      val ws = toks(t)
      val ss =
        if (ws.length >= 3)
          (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
        else Set(ws.take(3).mkString(" "))
      id -> ss
    }.toMap
    val df = shingleSets.values.flatten.groupBy(identity)
      .map { case (s, xs) => s -> xs.size }
    val kept = shingleSets.map { case (id, ss) => id -> ss.filter(df(_) <= 20) }
    val inter = scala.collection.mutable.Map[(Long, Long), Int]()
    for {
      ids <- kept.toSeq.flatMap { case (id, ss) => ss.map(s => (s, id)) }
        .groupBy(_._1).values.map(_.map(_._2).sorted)
      i <- ids.indices
      j <- (i + 1) until ids.length
    } inter((ids(i), ids(j))) = inter.getOrElse((ids(i), ids(j)), 0) + 1
    val parent = scala.collection.mutable.Map[Long, Long]() ++
      readable.map(r => r._1 -> r._1)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    inter.foreach { case ((a, b), in) =>
      val j = round6(in * 1.0 / (kept(a).size + kept(b).size - in))
      if (j >= 0.8) parent(find(a)) = find(b)
    }
    val cluster: Map[Long, Long] = {
      val roots = readable.map(r => r._1 -> find(r._1)).toMap
      val minOf = roots.toSeq.groupBy(_._2)
        .map { case (root, xs) => root -> xs.map(_._1).min }
      roots.map { case (id, root) => id -> minOf(root) }
    }
    // stage 3: unigram-logprob decile screen over the full corpus
    val allToks = readable.flatMap { case (_, _, t) => toks(t) }
    val cnt = allToks.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val tot = allToks.size.toLong
    val lp = cnt.map { case (w, c) =>
      w -> halfUp((math.log(c.toDouble) - math.log(tot.toDouble)) * 1000000)
    }
    val meanU: Map[Long, Long] = readable.map { case (id, _, t) =>
      val ts = toks(t)
      id -> halfUp(ts.map(lp).sum * 1.0 / ts.length)
    }.toMap
    val sortedU = meanU.values.toIndexedSeq.sorted
    val bnds = (1 to 9).map(k => pct(sortedU, k / 10.0))
    val bucket = meanU.map { case (id, u) => id -> bnds.count(_ <= u.toDouble) }
    val k1 = meta.map(m => m.id -> (m.id == keepByH(m.h))).toMap
    def k2(id: Long) = k1(id) && cluster(id) == id
    def k3(id: Long) = k2(id) && bucket(id) >= 1
    // stage 4: text-mix-weights quota over the FULL corpus (NULL text
    // included in the per-source counts, as the shared subtree counts it)
    val ms = all.groupBy(_._2).map { case (src, xs) => src -> xs.size.toLong }
    val total = all.size.toLong
    val nsrc = ms.size.toLong
    val nKeep = ms.map { case (src, nd) =>
      val w = math.min(1000000L, halfUp(total * 1000000.0 / (nsrc * nd)))
      src -> nd * w / 1000000L
    }
    val surv3 = meta.filter(m => k3(m.id))
    val s4ids: Set[Long] = surv3.groupBy(_.src).flatMap { case (src, xs) =>
      xs.sortBy(m => (md5hex(m.id.toString), m.id))
        .take(nKeep(src).toInt).map(_.id)
    }.toSet
    val s5 = surv3.filter(m => s4ids(m.id) && m.isTrain)
    // stage 6: concat-then-chunk packing, 8 shards, 512-token budget
    val shardTok = s5.groupBy(_.id % 8).values.map(_.map(_.nTok).sum)
    val nSeqs = shardTok.map(st => (st + 511) / 512).sum
    def stage(i: Long, name: String, p: DocMeta => Boolean) = {
      val xs = meta.filter(p)
      (i, name, xs.length.toLong, xs.map(_.bytes).sum, xs.map(_.nTok).sum)
    }
    val rows = Seq(
      stage(0L, "corpus", _ => true),
      stage(1L, "exact-dedup", m => k1(m.id)),
      stage(2L, "neardup-cluster-drop", m => k2(m.id)),
      stage(3L, "quality-screen", m => k3(m.id)),
      stage(4L, "mix-quota", m => s4ids(m.id)),
      stage(5L, "train-split", m => s4ids(m.id) && m.isTrain))
    val b5 = rows.last._4
    rows :+ ((6L, "pack-512", nSeqs, b5, shardTok.sum))
  }

  private def runOp(dir: String): Seq[(Long, String, Long, Long, Long)] =
    PipelineOps.pipelineCurationE2e.build(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))

  test("pipeline-curation-e2e equals a from-scratch curation funnel (sf0.001)") {
    val all = graft.Tables.documents(spark, sf())
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    val expected = expectedFunnel(all)
    val got = runOp(sf())
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    // the funnel is monotone over doc-grain stages and genuinely funnels
    val counts = got.take(6).map(_._3)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a }, got)
    assert(counts.last < counts.head, "no stage dropped anything — vacuous")
  }

  test("pipeline-curation-e2e mix-quota stage bites on a skewed source mix") {
    // equal-share weights are vacuous on the equal-source driver fixtures
    // (w caps at 1.0); this corpus over-represents one source so the
    // text-mix-weights quota must drop the over-share. Near-dups are
    // EXACT dups only, so the minhash cluster table provably equals the
    // from-scratch exact-jaccard clusters (identical sets always band
    // together; candidates are exact-verified).
    val big = (0L until 60L).map(i =>
      (i, "big", Some(s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h")))
    val dups = Seq((60L, "big", big.head._3), (61L, "big", big.head._3))
    val small = (100L until 104L).map(i =>
      (i, "small", Some(s"s${i}a s${i}b s${i}c s${i}d s${i}e s${i}f s${i}g s${i}h")))
    val all = big ++ dups ++ small ++ Seq((200L, "small", None))
    val dir = java.nio.file.Files.createTempDirectory("cur").toString
    import spark.implicits._
    all.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val expected = expectedFunnel(all)
    val got = runOp(dir)
    assert(got == expected, s"\nexpected: $expected\ngot:      $got")
    val byStage = got.map(r => r._1 -> r._3).toMap
    assert(byStage(1L) == byStage(0L) - 2, "exact dedup must drop the 2 copies")
    assert(byStage(4L) < byStage(3L),
      s"mix-quota stage did not bite on a skewed mix: $got")
  }
}
