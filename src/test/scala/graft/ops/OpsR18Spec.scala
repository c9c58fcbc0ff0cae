package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.OpsSpecMath._

/** Invariant tests for the round-9 op batch over the sf0.001 fixtures.
  * The driver gate owns value-exactness vs DuckDB; these pin semantics
  * independently with from-scratch Scala reference implementations:
  * a BPE encoder (learn + apply), an interpolated Kneser–Ney bigram
  * model, and a diagonal-covariance Mahalanobis scorer.
  */
class OpsR18Spec extends SparkSpec {

  /** From-scratch greedy BPE: learn up to `rounds` merges over the word
    * vocab (count desc, pair asc tiebreak), mirroring OpsR17Spec's
    * trainer reference.
    */
  private def learnMergesRef(vocab: Map[String, Long], rounds: Int): List[(String, String)] = {
    def toSyms(w: String): Vector[String] =
      if (w.isEmpty) Vector("") else w.map(_.toString).toVector
    var seqs: Map[Vector[String], Long] = vocab.toSeq
      .groupBy { case (w, _) => toSyms(w) }
      .map { case (syms, ws) => syms -> ws.map(_._2).sum }
    var merges = List.empty[(String, String)]
    var r = 0
    var more = true
    while (r < rounds && more) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- seqs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) more = false
      else {
        val ((a, b), _) = counts.minBy { case ((x, y), c) => (-c, x + " " + y) }
        merges = (a, b) :: merges
        seqs = seqs.toSeq.groupBy { case (syms, _) => mergeSyms(syms, a, b) }
          .map { case (m, xs) => m -> xs.map(_._2).sum }
      }
      r += 1
    }
    merges.reverse
  }

  private def mergeSyms(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toVector
  }

  test("text-bpe-apply equals a from-scratch learn-then-encode BPE") {
    val docs = graft.Tables.documents(spark, sf())
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def toSyms(w: String): Vector[String] =
      if (w.isEmpty) Vector("") else w.map(_.toString).toVector
    val vocab = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val merges = learnMergesRef(vocab, 3)
    def encode(w: String): Vector[String] =
      merges.foldLeft(toSyms(w)) { case (syms, (a, b)) => mergeSyms(syms, a, b) }
    val expected = docs
      .flatMap { case (src, text) => text.split(" ", -1).map(w => (src, w)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((src, w), freq) =>
        val nb = toSyms(w).length.toLong
        val na = encode(w).length.toLong
        (src, freq, freq * nb, freq * na)
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (src, xs) =>
        val nWords = xs.map(_._2).sum
        val sb = xs.map(_._3).sum
        val sa = xs.map(_._4).sum
        (src, nWords, sb, sa, sb - sa, sa * 10000 / sb)
      }
    val got = TextOps.textBpeApply.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected,
      s"BPE encode accounting diverges:\n got $got\n exp $expected")
    // sanity on the metric itself: merges fire somewhere, and the ratio
    // is a real compression (encode can only shrink)
    assert(got.map(_._5).sum > 0, "no merges fired anywhere — vacuous test")
    got.foreach { case (src, _, sb, sa, md, bp) =>
      assert(sa <= sb && md == sb - sa, s"$src: symbols grew under encoding")
      assert(bp >= 1 && bp <= 10000, s"$src: compression_bp $bp out of range")
    }
    // tokenizer round-trip: encoding is lossless — concatenating the
    // encoded symbols reproduces every vocabulary word exactly
    vocab.keys.foreach { w =>
      assert(encode(w).mkString == w, s"round-trip lost characters for '$w'")
    }
  }

  test("text-kn-bigram equals a from-scratch interpolated Kneser-Ney model") {
    val texts = graft.Tables.documents(spark, sf())
      .select("text").collect().map(_.getString(0))
    val bigrams = texts.flatMap { t =>
      val ws = t.split(" ", -1)
      if (ws.length >= 2) ws.zip(ws.tail) else Array.empty[(String, String)]
    }
    val cxy = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cx = cxy.toSeq.groupBy(_._1._1).view
      .mapValues(xs => (xs.map(_._2).sum, xs.length.toLong)).toMap // (cx, n1l)
    val n1r = cxy.keys.toSeq.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val t = cxy.size.toLong
    val expected = cxy.toSeq
      .filter(_._2 >= 3)
      .map { case ((w1, w2), cnt) =>
        val (cxv, n1l) = cx(w1)
        val pkn = ((4 * cnt - 3) / (4.0 * cxv)) +
          (((3.0 * n1l) / (4.0 * cxv)) * (n1r(w2) / (1.0 * t)))
        (w1, w2, cnt, halfUp(pkn * 1000000))
      }
      .sortBy { case (w1, w2, _, p) => (-p, w1, w2) }
      .take(20)
    val got = TextOps.textKnBigram.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected,
      s"KN bigram model diverges:\n got $got\n exp $expected")
    // probabilities are genuine: in (0, 1], and the discount actually
    // interpolates (the continuation term makes pkn exceed the raw
    // discounted MLE for at least one emitted bigram)
    got.foreach { case (w1, w2, cnt, p) =>
      assert(p > 0 && p <= 1000000L, s"($w1,$w2) pkn_micro $p out of (0, 1e6]")
      val (cxv, _) = cx(w1)
      assert(p >= halfUp((4 * cnt - 3) / (4.0 * cxv) * 1000000) - 1,
        s"($w1,$w2): smoothed prob below the discounted MLE")
    }
  }

  test("sim-mahalanobis equals a from-scratch diagonal-covariance scorer") {
    val vecs = graft.Tables.embeddings(spark, sf())
      .filter(col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = vecs.map { case (id, v) =>
      (id, v.map(x => halfUp(x.toDouble * 1000)))
    }
    val nd = q.map(_._2.length).max
    val stats = (0 until nd).map { i =>
      val col = q.flatMap { case (_, arr) =>
        if (i < arr.length) Some(arr(i)) else None
      }
      (col.length.toLong, col.sum, col.map(x => x * x).sum)
    }
    val expected = q.map { case (id, arr) =>
      val m2 = (0 until nd).map { i =>
        val (n, s, qq) = stats(i)
        val den = n * qq - s * s
        if (den == 0L || i >= arr.length) 0L
        else {
          val diff = n * arr(i) - s
          halfUp((1000000.0 * (diff * diff)) / den)
        }
      }.sum
      (id, m2, m2 > nd.toLong * 2000000L)
    }.sortBy(_._1).toSeq
    val got = SimOps.simMahalanobis.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == expected,
      s"Mahalanobis diverges; first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
    // the statistic is calibrated: mean z² per dimension ≈ 1 by
    // construction of the standardization (quantization noise only)
    val meanM2 = got.map(_._2).sum.toDouble / got.length
    assert(math.abs(meanM2 / (nd * 1e6) - 1.0) < 0.05,
      s"mean z² per dim ${meanM2 / (nd * 1e6)} far from 1 — standardization broken")
  }

  test("sim-mahalanobis degenerate shapes: ragged, all-NULL dim, dup/null ids, empty arrays") {
    // the shapes the round-9 review flagged — ANSI out-of-bounds on
    // ragged vectors, NPE on an all-NULL dimension, grain drift on
    // duplicate/NULL vec_ids — must all score per-row without error
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = true),
      StructField("embedding", ArrayType(FloatType, containsNull = true),
        nullable = true)))
    def run(rows: Seq[org.apache.spark.sql.Row]): Seq[(Option[Long], Long, Boolean)] = {
      val dir = java.nio.file.Files.createTempDirectory("mah").toString
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      SimOps.simMahalanobis.build(spark, dir).collect().toSeq
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1), r.getBoolean(2)))
    }
    import org.apache.spark.sql.Row
    // ragged + all-NULL second dim + duplicate id 7 + a NULL id + a
    // NULL embedding (dropped) — 5 scored rows expected
    val got = run(Seq(
      Row(7L, Seq(1.0f, null, 3.0f)),
      Row(7L, Seq(2.0f, null, 5.0f)),
      Row(null, Seq(9.0f)), // ragged: dims 2..3 absent
      Row(8L, Seq(4.0f, null, 3.0f, 100.0f)), // sole dim-4 value: var 0
      Row(9L, null), // NULL embedding: filtered out
      Row(10L, Seq(1.0f, null, 3.0f)))) // exact dup of the first vector
    assert(got.length == 5, s"per-row grain violated: $got")
    assert(got.count(_._1 == Some(7L)) == 2, "duplicate vec_ids must stay separate rows")
    assert(got.exists(_._1.isEmpty), "NULL vec_id row must score")
    // identical vectors score identically; the all-NULL dim and the
    // variance-0 dim contribute nothing (no crash is the main assert)
    val m7 = got.filter(r => r._1 == Some(7L) || r._1 == Some(10L)).map(_._2)
    assert(got.forall(_._2 >= 0))
    assert(m7.groupBy(identity).values.map(_.size).max >= 2,
      s"duplicate vectors must score equally: $m7")
    // all-empty-array corpus: every row scores m2 = 0, none flagged
    val empty = run(Seq(Row(1L, Seq.empty[Float]), Row(2L, Seq.empty[Float])))
    assert(empty == Seq((Some(1L), 0L, false), (Some(2L), 0L, false)),
      s"empty-array corpus must score 0 per row: $empty")
  }

  test("sim-lsh-multiprobe: candidate sets match a from-scratch probe expansion; recall dominates") {
    // from-scratch: collect every vector's bucket, expand each query's
    // probe set (bucket + 8 one-bit flips), count distinct candidates
    val withB = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id"),
        graft.sim.Similarity.lshBucket(col("embedding")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val corpus = withB.filter(_._1 >= 10)
    val queries = withB.filter(_._1 < 10)
    val expSingle = queries.map { case (_, qb) =>
      corpus.count(_._2 == qb).toLong
    }.sum
    val expMulti = queries.map { case (_, qb) =>
      val probeSet = (qb +: (0 until 8).map(j => qb ^ (1L << j))).toSet
      corpus.count(c => probeSet.contains(c._2)).toLong
    }.sum
    val got = SimOps.simLshMultiprobe.build(spark, sf()).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("single")._1 == expSingle,
      s"single-probe candidates ${got("single")._1} != from-scratch $expSingle")
    assert(got("multi")._1 == expMulti,
      s"multi-probe candidates ${got("multi")._1} != from-scratch $expMulti")
    // multi-probe dominates single-probe by construction (superset)
    assert(got("multi")._1 >= got("single")._1)
    assert(got("multi")._2 >= got("single")._2, "multi recall must dominate")
    got.values.foreach { case (_, hits, truth, bp) =>
      assert(hits <= truth && bp >= 0 && bp <= 10000)
    }
    // the op is non-vacuous on this fixture: multi actually widens
    assert(got("multi")._1 > got("single")._1,
      "probe expansion added no candidates — fixture degenerate?")
  }

  test("stream-ood-flags' flag expression survives adversarial values (fuzz can't reach the serve path)") {
    // FuzzGen fixtures span <= 20 hours, so the fortnight serve set is
    // empty on every fuzz fixture — drive the flag expression directly
    // over the shapes fuzzing would have thrown at it: negative cents,
    // values landing EXACTLY on the |z| = 3 boundary, zero variance,
    // thin and unseen types, NULL values
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("c", LongType, nullable = true),
      StructField("n", LongType, nullable = true),
      StructField("s", LongType, nullable = true),
      StructField("qq", LongType, nullable = true)))
    // train set {-10, 10}: n=2, s=0, qq=200; sigma^2=100/4... identity:
    // flag iff (n*c - s)^2 > 9*(n*qq - s^2) = 9*400 -> |2c| > 60 -> |c| > 30
    val rows = Seq(
      Row(30L, 2L, 0L, 200L),   // exactly on the boundary: NOT flagged
      Row(31L, 2L, 0L, 200L),   // just past: flagged
      Row(-30L, 2L, 0L, 200L),  // negative boundary: NOT flagged
      Row(-31L, 2L, 0L, 200L),  // negative past: flagged
      Row(1000L, 1L, 5L, 25L),  // n < 2: never flagged
      Row(1000L, 2L, 10L, 50L), // zero variance (2*50 = 10*10): never flagged
      Row(null, 2L, 0L, 200L),  // NULL value: never flagged
      Row(1000L, null, null, null)) // unseen type: never flagged
    import scala.jdk.CollectionConverters._
    val got = spark.createDataFrame(rows.asJava, schema)
      .withColumn("flag", graft.ops.StreamOps.oodFlag)
      .collect().map(r => r.getBoolean(4)).toSeq
    assert(got == Seq(false, true, false, true, false, false, false, false),
      s"flag vector diverged: $got")
  }

  test("agg-trend-slope drops all-NULL-spend days from the moment set") {
    // a user-day whose every value is NULL must not count toward
    // n_days/sx/sxx while sy/sxy skip it (round-9 review): with one
    // observed day the slope is NULL, not a garbage two-point fit
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("trend").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = true),
      StructField("ts", LongType, nullable = true), // nanos epoch
      StructField("user_id", LongType, nullable = true),
      StructField("event_type", StringType, nullable = true),
      StructField("value", DoubleType, nullable = true),
      StructField("props", StringType, nullable = true)))
    val day0 = 19723L * 86400L * 1000000000L
    val rows = Seq(
      Row(0L, day0, 1L, "purchase", 10.0, "{}"),
      Row(1L, day0 + 86400L * 1000000000L, 1L, "purchase", null, "{}"),
      Row(2L, day0, 2L, "purchase", 10.0, "{}"),
      Row(3L, day0 + 86400L * 1000000000L, 2L, "purchase", 20.0, "{}"))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = AggOps.aggTrendSlope.build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq.sortBy(_._1)
    // user 1: one OBSERVED day -> NULL slope; user 2: exact slope
    // (2000-1000 cents)/1 day = 1000 cents/day = 1e9 micro
    assert(got == Seq((1L, 1L, None), (2L, 2L, Some(1000000000L))),
      s"trend rows diverged: $got")
  }

  test("sim-mahalanobis scoring plan is join-free and aggregation-free") {
    // the per-dim moments are plan literals (driver-collected model
    // state); the scoring query itself must be scan → project → sort —
    // no join, no aggregate, no window (the zero-shuffle contract)
    val plan = SimOps.simMahalanobis.build(spark, sf())
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"scoring plan joins:\n$plan")
    assert(!plan.toLowerCase.contains("aggregate"), s"scoring plan aggregates:\n$plan")
    assert(!plan.contains("Window"), s"scoring plan windows:\n$plan")
  }
}
