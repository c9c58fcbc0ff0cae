package graft.sim

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import graft.SparkSpec
import graft.ops.{AggOps, DedupOps, TextOps}
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The [[graft.StageMemo]] contract on its stages, and the degenerate
  * single-vector corpus (ADVICE r11).
  *
  * A memo's failure modes are silent: a rebuild on a hit is just slow,
  * and a stale entry feeds old data to every downstream op. Pinned here:
  * a hit returns the same value and runs ZERO Spark jobs (job-group
  * count), distinct dirs and ks never share an entry, a table rewritten
  * in place is rebuilt from the new data, and an ended application's
  * entries are dropped.
  */
class CentroidCacheSpec extends SparkSpec {
  import spark.implicits._

  private def writeEmbeddings(dir: String, vecs: Seq[(Long, Array[Float])]): Unit =
    vecs.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag-").toString

  // two separable 4-dim fixtures with DIFFERENT cluster directions, so a
  // cross-dir cache hit is detectable by value, not just by job count
  private def fixtureA = (0L to 7L).map { i =>
    val v = Array.fill(4)(0.0f); v((i % 2).toInt) = 1.0f + i / 100f; (i, v)
  }
  private def fixtureB = (0L to 7L).map { i =>
    val v = Array.fill(4)(0.0f); v((i % 2).toInt + 2) = 1.0f + i / 100f; (i, v)
  }

  test("second fittedCentroids call with the same (dir, k) runs zero Spark jobs") {
    val dir = freshDir("cc-a")
    writeEmbeddings(dir, fixtureA)
    val first = jobsDuring { graft.ops.SimOps.fittedCentroids(spark, dir, 2) }
    assert(first > 0, "first fit must execute real Spark jobs")
    val second = jobsDuring { graft.ops.SimOps.fittedCentroids(spark, dir, 2) }
    assert(second === 0, s"cache hit ran $second Spark job(s)")
  }

  test("a different k on the same dir is a distinct entry (fits again)") {
    val dir = freshDir("cc-k")
    writeEmbeddings(dir, fixtureA)
    graft.ops.SimOps.fittedCentroids(spark, dir, 2)
    val other = jobsDuring { graft.ops.SimOps.fittedCentroids(spark, dir, 4) }
    assert(other > 0, "k=4 must not ride the k=2 entry")
  }

  test("two dirs never share an entry — stale-centroid hazard") {
    val dirA = freshDir("cc-dirs-a")
    val dirB = freshDir("cc-dirs-b")
    writeEmbeddings(dirA, fixtureA)
    writeEmbeddings(dirB, fixtureB)
    val ca = graft.ops.SimOps.fittedCentroids(spark, dirA, 2)
    val jobsB = jobsDuring {
      val cb = graft.ops.SimOps.fittedCentroids(spark, dirB, 2)
      assert(ca.map(_._2) !== cb.map(_._2),
        "dirB returned dirA's centroids — cross-dir cache collision")
    }
    assert(jobsB > 0, "dirB's fit must execute, not hit dirA's entry")
  }

  test("rewriting embeddings.parquet in place refits the centroids") {
    val dir = freshDir("cc-rewrite")
    writeEmbeddings(dir, fixtureA)
    val before = graft.ops.SimOps.fittedCentroids(spark, dir, 2)
    writeEmbeddings(dir, fixtureB)
    val after = graft.ops.SimOps.fittedCentroids(spark, dir, 2)
    val fresh = freshDir("cc-rewrite-ref")
    writeEmbeddings(fresh, fixtureB)
    assert(after !== before, "served the centroids of the overwritten table")
    assert(after === graft.ops.SimOps.fittedCentroids(spark, fresh, 2))
  }

  private def writeEvents(dir: String, values: Seq[(String, Double)]): Unit =
    values.zipWithIndex.map { case ((t, v), i) => (i.toLong, t, v) }
      .toDF("ts", "event_type", "value").write.mode("overwrite")
      .parquet(s"$dir/events.parquet")

  private def ksGrid(dir: String): Set[(Long, String, Long)] =
    AggOps.persistedKsGrid(spark, dir).collect()
      .map(r => (r.getAs[Long]("cents"), r.getAs[String]("event_type"), r.getAs[Long]("c")))
      .toSet

  test("rewriting events.parquet in place rebuilds the KS grid") {
    val dir = freshDir("ks-rewrite")
    writeEvents(dir, Seq("a" -> 1.0, "a" -> 1.0, "b" -> 2.5))
    assert(ksGrid(dir) === Set((100L, "a", 2L), (250L, "b", 1L)))
    writeEvents(dir, Seq("a" -> 3.0, "c" -> 2.5, "c" -> 2.5, "c" -> 2.5))
    assert(ksGrid(dir) === Set((300L, "a", 1L), (250L, "c", 3L)))
  }

  test("replacing documents.parquet outside Spark rebuilds the decile buckets") {
    // a rewrite Spark does not see leaves the build's inner persist (the
    // per-doc scores) registered under the same plan as the new build's
    def buckets(dir: String): Set[(Long, Long, Long)] =
      TextOps.unigramDecileBuckets(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = freshDir("deciles")
    val ref = freshDir("deciles-ref")
    Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c d")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1L, "x y"), (2L, "y y z z"), (5L, "z")).toDF("doc_id", "text")
      .write.parquet(s"$ref/documents.parquet")
    buckets(dir)
    val target = Paths.get(dir, "documents.parquet")
    Files.walk(target).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    Files.createDirectory(target)
    Files.list(Paths.get(ref, "documents.parquet"))
      .forEach(p => Files.copy(p, target.resolve(p.getFileName)))
    assert(buckets(dir) === buckets(ref))
  }

  private val dataFrameStages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "shingles" -> DedupOps.persistedShingles,
    "jaccard-pairs" -> DedupOps.persistedJaccardPairs,
    "minhash-pairs" -> DedupOps.persistedMinhashPairs,
    "doc-clusters" -> DedupOps.persistedDocClusters,
    "md5-sig-base" -> DedupOps.persistedMd5Base,
    "hamming-pairs" -> DedupOps.hammingPairs,
    "unigram-deciles" -> TextOps.unigramDecileBuckets,
    "ks-grid" -> AggOps.persistedKsGrid)

  test("the second call of each DataFrame stage is the same Dataset and runs zero Spark jobs") {
    dataFrameStages.foreach { case (name, stage) =>
      val first = stage(spark, sf())
      var second: DataFrame = null
      val jobs = jobsDuring { second = stage(spark, sf()) }
      assert(second eq first, s"$name: a hit returned a new Dataset")
      assert(jobs === 0, s"$name: a hit ran $jobs Spark job(s)")
    }
  }

  test("an ended application's entries are dropped") {
    val dir = freshDir("cc-end")
    writeEmbeddings(dir, fixtureA)
    val grid = AggOps.persistedKsGrid(spark, sf())
    graft.ops.SimOps.fittedCentroids(spark, dir, 2)
    graft.StageMemo.listener(spark.sparkContext)
      .onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!(AggOps.persistedKsGrid(spark, sf()) eq grid), "ks-grid entry survived")
    assert(jobsDuring { graft.ops.SimOps.fittedCentroids(spark, dir, 2) } > 0,
      "centroid entry survived")
  }

  test("single-vector corpus: fit degrades to one centroid instead of throwing") {
    // KMeans init = the k lowest vec_ids; a 1-row corpus collapses that to
    // ONE centroid and the assignment argmax must fold to the bare struct
    // (Spark's greatest requires >= 2 args — ADVICE r11)
    val one = Seq((42L, Array(0.6f, 0.8f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = KMeans.fit(one, k = 4, iters = 2).collect()
    assert(cents.length === 1)
    assert(cents.head.getLong(0) === 0L)
  }

  test("sim-kmeans-elbow returns its 3-row curve on a single-embedding corpus") {
    val dir = freshDir("cc-one")
    writeEmbeddings(dir, Seq((7L, Array(0.6f, 0.8f, 0.0f, 0.0f))))
    val rows = graft.ops.SimOps.simKmeansElbow.build(spark, dir)
      .orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L, 4L, 8L))
    // one vector sits exactly on its own centroid: zero inertia at every k,
    // and every drop is NULL (prev > 0 never holds)
    assert(rows.forall(_.getLong(1) === 1L), "n_vecs")
    assert(rows.forall(_.getDouble(2) === 0.0), "mean_dist2")
    assert(rows.forall(_.isNullAt(3)), "drop_micro")
  }

  test("ivfTopK and assignToCentroids survive a one-centroid table") {
    val corpus = fixtureA.toDF("vec_id", "embedding")
    val centroids = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val assigned = Similarity.assignToCentroids(corpus, centroids).collect()
    assert(assigned.length === fixtureA.size)
    assert(assigned.forall(_.getLong(1) === 0L))
    val hits = Similarity.ivfTopK(
      corpus.filter($"vec_id" === 0L), corpus, centroids, k = 3, nprobe = 2)
      .collect()
    assert(hits.length === 3)
  }
}
