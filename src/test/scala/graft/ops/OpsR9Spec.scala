package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.OpsSpecMath._

/** Invariant tests for the round-5 late additions (join-range-bin,
  * sim-semantic-dedup, stream-dedup, text-mix-apply, text-hash-embedding,
  * text-dsir) over sf0.001. The driver gate owns value-exactness against
  * DuckDB; these pin the semantics with independent recomputation on
  * collected rows — in particular the bin-replication correctness of the
  * range join (every match found exactly once, including windows that
  * straddle a bin boundary) and the SemDeDup keeper rule.
  */
class OpsR9Spec extends SparkSpec {

  private val WinUs = 900000000L

  private def events() = graft.Tables.events(spark, sf())
    .select(col("event_id"), col("user_id"), col("event_type"),
      expr("ts div 1000").as("ts_us"))
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  test("join-range-bin: every window's counts match a brute-force interval scan") {
    val ev = events()
    val out = JoinOps.joinRangeBin.build(spark, sf()).collect()
    val windows = ev.filter(_._3 == "error")
    assert(out.length === windows.length, "one row per error window")
    // Straddle coverage: the fixture must actually exercise the 2-bin
    // replication path or this test proves nothing about it.
    assert(windows.exists(w => w._4 / WinUs != (w._4 + WinUs - 1) / WinUs),
      "fixture has at least one bin-straddling window")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    windows.foreach { case (wid, _, _, start) =>
      val hits = ev.filter(e => e._4 >= start && e._4 < start + WinUs)
      val r = byId(wid)
      assert(r.getLong(1) === start)
      assert(r.getLong(2) === hits.length.toLong, s"window $wid event count")
      assert(r.getLong(3) === hits.map(_._2).distinct.length.toLong,
        s"window $wid distinct users")
    }
  }

  test("sim-semantic-dedup: keeper rule — dropped iff a smaller-id cluster-mate is within epsilon") {
    val emb = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosU(a: Array[Double], b: Array[Double]): Long = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.round(dp / (math.sqrt(na) * math.sqrt(nb)) * 1000000)
    }
    val out = SimOps.simSemanticDedup.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length === emb.size, "one verdict per vector")
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      val minId = members.map(_._1).min
      assert(members.find(_._1 == minId).get._3,
        s"cluster $cid: the smallest id is always kept")
      members.foreach { case (vid, _, keep) =>
        val within = members.exists { case (oid, _, _) =>
          oid < vid && cosU(emb(oid), emb(vid)) >= 350000L
        }
        assert(keep === !within,
          s"vec $vid in cluster $cid: dropped iff a smaller-id mate >= tau")
      }
    }
    assert(byCluster.size > 1, "fixture spans several clusters")
  }

  test("stream-dedup: keeps the earliest occurrence per digest, accounts for every event") {
    val ev = events()
    val out = StreamOps.streamDedup.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val groups = ev.groupBy(e => md5hex(s"${e._2}|${e._3}"))
    assert(out.length === groups.size)
    assert(out.map(_._4).sum + out.length === ev.length,
      "kept + dropped covers the full stream")
    out.foreach { case (digest, tsUs, eid, nDropped) =>
      val g = groups(digest)
      val first = g.map(e => (e._4, e._1)).min
      assert((tsUs, eid) === first, s"digest $digest keeps the earliest (ts, id)")
      assert(nDropped === g.length - 1L)
    }
  }

  test("text-mix-apply: per-source draw is exactly the integer quota in md5 order") {
    val docs = graft.Tables.documents(spark, sf())
      .select(col("doc_id"), col("source"), size(split(col("text"), " ")).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val out = TextOps.textMixApply.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySource = docs.groupBy(_._2)
    val picked = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    bySource.foreach { case (src, ds) =>
      val tok = ds.map(_._3).sum
      val quota = if (tok <= 1000L) ds.length.toLong
                  else (ds.length * 1000L + tok - 1) / tok
      val expect = ds.map(d => (md5hex(d._1.toString), d._1))
        .sorted.take(quota.toInt).map(_._2).toSet
      assert(picked.getOrElse(src, Set.empty) === expect, s"source $src draw")
    }
    assert(bySource.exists(_._2.map(_._3).sum > 1000L),
      "fixture has at least one clipped source")
  }

  test("text-hash-embedding: tf mass equals the token count; dims live in [0, 16)") {
    val out = TextOps.textHashEmbedding.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall(r => r._2 >= 0 && r._2 < 16))
    val totalTf = out.map(_._3).sum
    val totalToks = graft.Tables.documents(spark, sf())
      .agg(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(totalTf === totalToks, "the projection loses no token mass")
    val perDoc = out.groupBy(_._1).view.mapValues(_.length)
    assert(perDoc.values.forall(_ <= 16))
  }

  test("text-dsir: weights are finite, token-complete, and rank en-docs above the rest on average") {
    val out = TextOps.textDsir.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = graft.Tables.documents(spark, sf())
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length === docs.size)
    assert(out.forall(r => !r._3.isNaN && !r._3.isInfinite))
    val (en, rest) = out.partition(r => docs(r._1) == "en")
    val meanEn = en.map(_._3).sum / en.length
    val meanRest = rest.map(_._3).sum / rest.length
    assert(meanEn > meanRest,
      s"target-domain docs score higher on average ($meanEn vs $meanRest)")
  }
}
