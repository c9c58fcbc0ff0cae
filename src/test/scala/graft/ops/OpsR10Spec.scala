package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.OpsSpecMath._

/** Invariant tests for the curation ops (dedup-paragraph,
  * dedup-incremental, text-cap-per-source, dedup-threshold-sweep,
  * text-shard-balance) over sf0.001. The driver gate owns value-exactness
  * against DuckDB; these recompute the semantics independently on collected
  * rows — block partitioning (non-overlapping, trailing partial dropped),
  * the old/new snapshot split, the cap's exact top-k membership, and the
  * sweep's monotonicity + agreement with the pairwise op.
  */
class OpsR10Spec extends SparkSpec {

  private def docs() = graft.Tables.documents(spark, sf())
    .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    .collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))

  /** Reference block decomposition: non-overlapping 10-token windows,
    * trailing partial dropped, docs under 10 tokens contribute nothing.
    */
  private def blocksOf(text: String): Seq[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < 10) Seq.empty
    else (0 until ws.length / 10).map(i => md5hex(ws.slice(i * 10, i * 10 + 10).mkString(" ")))
  }

  test("dedup-paragraph: per-doc block and dup counts match brute force") {
    val ds = docs()
    val inst = ds.flatMap { case (id, text, _, _) => blocksOf(text).map(id -> _) }
    val docsPerHash = inst.distinct.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val out = CurationOps.dedupParagraph.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = inst.groupBy(_._1).map { case (id, bs) =>
      (id, bs.length.toLong, bs.count(b => docsPerHash(b._2).size > 1).toLong)
    }.toSeq
    assert(out.sorted === expected.toSeq.sorted)
    assert(out.exists(_._3 > 0), "fixture has at least one cross-doc duplicated block")
  }

  test("dedup-incremental: n_seen counts new-snapshot blocks present in the old snapshot") {
    val ds = docs()
    val inst = ds.flatMap { case (id, text, _, _) => blocksOf(text).map(id -> _) }
    val oldHashes = inst.filter(_._1 % 10 < 8).map(_._2).toSet
    val out = CurationOps.dedupIncremental.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))).toSeq
    assert(out.forall(_._1 % 10 >= 8), "only new-snapshot docs are reported")
    val expected = inst.filter(_._1 % 10 >= 8).groupBy(_._1).map { case (id, bs) =>
      val seen = bs.count(b => oldHashes(b._2)).toLong
      (id, bs.length.toLong, seen, seen * 2 >= bs.length)
    }.toSeq
    assert(out.sorted === expected.toSeq.sorted)
    assert(out.exists(_._3 > 0), "fixture has cross-snapshot overlap")
  }

  test("dedup-bloom-screen: bloom hits dominate exact hits; exact hits match brute force") {
    val ds = docs()
    def rawBlocks(text: String): Seq[String] = {
      val ws = text.split(" ", -1)
      if (ws.length < 10) Seq.empty
      else (0 until ws.length / 10).map(i => ws.slice(i * 10, i * 10 + 10).mkString(" "))
    }
    val inst = ds.flatMap { case (id, text, _, _) => rawBlocks(text).map(id -> _) }
    val oldBlocks = inst.filter(_._1 % 10 < 8).map(_._2).toSet
    val out = CurationOps.dedupBloomScreen.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out.forall(_._1 % 10 >= 8), "only new-snapshot docs are reported")
    out.foreach { case (id, nb, bloom, exact) =>
      assert(bloom >= exact, s"doc $id: bloom hits ($bloom) must dominate exact ($exact)")
      assert(bloom <= nb && exact <= nb, s"doc $id: hit counts bounded by block count")
    }
    val expectedExact = inst.filter(_._1 % 10 >= 8).groupBy(_._1).view
      .mapValues(bs => bs.count(b => oldBlocks(b._2)).toLong).toMap
    out.foreach { case (id, _, _, exact) =>
      assert(exact === expectedExact(id), s"doc $id exact membership count")
    }
    assert(out.map(_._4).sum > 0, "fixture has cross-snapshot overlap to screen")
  }

  test("text-cap-per-source: exact top-10 per source by (n_chars desc, doc_id)") {
    val ds = docs()
    val out = CurationOps.textCapPerSource.build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val expected = ds.groupBy(_._3).toSeq.flatMap { case (src, members) =>
      members.map(m => (m._1, m._4)).sortBy { case (id, nc) => (-nc, id) }
        .take(10).zipWithIndex
        .map { case ((id, nc), i) => (src, id, nc, i + 1) }
    }
    assert(out.sorted === expected.sorted)
    assert(ds.groupBy(_._3).exists(_._2.size > 10),
      "fixture has at least one source actually capped")
  }

  test("dedup-threshold-sweep: monotone, all thresholds present, 350 row matches the pair op") {
    val out = CurationOps.dedupThresholdSweep.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(out.map(_._1) === Seq(200L, 300L, 350L, 400L, 500L, 600L, 700L, 800L))
    out.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 >= b._2 && a._3 >= b._3, s"counts non-increasing: $a -> $b")
    }
    val pairs35 = DedupOps.dedupEmbeddingCosine.build(spark, sf()).count()
    assert(out.find(_._1 == 350L).get._2 === pairs35,
      "sweep at 350 milli equals the dedup-embedding-cosine pair count")
  }

  test("text-shard-balance: shard totals account for every document and token") {
    val ds = docs()
    val out = CurationOps.textShardBalance.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.map(_._1).sorted === (0L to 7L))
    assert(out.map(_._2).sum === ds.length.toLong)
    assert(out.map(_._3).sum === ds.map(_._2.split(" ", -1).length.toLong).sum)
    val expected = ds.groupBy(_._1 % 8).view
      .mapValues(ms => (ms.length.toLong, ms.map(_._2.split(" ", -1).length.toLong).sum)).toMap
    out.foreach { case (sh, nd, nt) => assert((nd, nt) === expected(sh), s"shard $sh") }
  }
}
