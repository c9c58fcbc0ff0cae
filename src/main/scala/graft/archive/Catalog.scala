package graft.archive

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-catalog operations (reference: src/storage/mod.rs:231-258 — the
  * `FileReference` (path, kind, range) stream, and the per-level listings
  * in src/storage/objects.rs:79-168 / fs.rs:62-132).
  *
  * The catalog has two forms. Decisions over a listing that is already on
  * the driver run as plain Scala over [[Entry]] values; the DataFrame form
  * serves queries and notifications, where lexicographic-offset listing and
  * early exit become partition pruning once l1/l2 are partition
  * directories (SURVEY.md §4).
  */
object Catalog {

  /** Parse catalog columns out of a `path` column. */
  def withParsedNames(files: DataFrame): DataFrame = {
    val base = regexp_extract(col("path"), "([^/]+)$", 1)
    files
      .withColumn("file", base)
      .withColumn("kind", Filenames.parseKind(col("file")))
      .withColumn("start_h", Filenames.parseStart(col("file")))
      .withColumn("end_h", Filenames.parseEnd(col("file")))
      .withColumn("fork_hash", Filenames.parseForkHash(col("file")))
  }

  /** One archive file as its name describes it (the reference's
    * `FileReference`): canonical kind, height range and, for a single
    * written during a reorg, the fork hash.
    */
  final case class Entry(path: String, kind: String, start: Long, end: Long,
      forkHash: Option[String]) {
    def isSingle: Boolean = start == end
  }

  /** A group's height range and whether it may join a merge batch. */
  final case class Span(start: Long, end: Long, mergeable: Boolean = true)

  /** The driver-side catalog of a listing: one [[Entry]] per file whose
    * name carries a known kind and whose range intersects [s, e], in
    * listing order. Catalog-sized decisions (verify's filename passes,
    * fix's coverage, compact's selection) run over these as plain Scala.
    */
  def entries(files: Seq[String], s: Long = Long.MinValue,
      e: Long = Long.MaxValue): Seq[Entry] =
    files.flatMap { p =>
      for {
        kind <- Filenames.parseKindS(p)
        (start, end) <- Filenames.parseRangeS(p)
        if start <= e && end >= s
      } yield Entry(p, kind, start, end, Filenames.parseForkHashS(p))
    }

  /** Files whose range intersects [s, e] — the reference's offset listing
    * + early exit (objects.rs:112-167) is Catalyst partition pruning here.
    */
  def intersecting(catalog: DataFrame, s: Long, e: Long): DataFrame =
    catalog.filter(col("start_h") <= e && col("end_h") >= s)

  /** Group files of the same range into per-kind slots; count > 1 in a slot
    * is a duplicate error (reference: src/archiver/range_group.rs:44-128).
    */
  def groupTables(catalog: DataFrame): DataFrame =
    catalog
      .groupBy("start_h", "end_h")
      .pivot("kind", Seq("blocks", "txes", "traces"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("blocks", "txes", "traces"))
      .withColumn("duplicate",
        col("blocks") > 1 || col("txes") > 1 || col("traces") > 1)
      .withColumn("complete",
        col("blocks") >= 1 && col("txes") >= 1)

  /** `merge_small` — group adjacent small ranges (≤ `threshold` blocks)
    * into one verification batch so content checks read whole islands
    * instead of per-file (reference: src/command/verify.rs:237-267; the
    * threshold is 10 there). Large ranges keep their own batch, and so do
    * spans that are not `mergeable` even when small (the reference
    * excludes INCOMPLETE groups from merge batches because they would
    * break the verified sequence, verify.rs:243-247). A batch also breaks
    * where a small span starts past the end of every earlier small span
    * plus one.
    *
    * Batches never cross chunk boundaries: spans are batched per
    * `floor(start / chunkSize)` of their start, like the reference's
    * chunk-by-chunk verify (`full_range.split_chunks`, verify.rs:414).
    * Returns the (start, end) of each span's batch, in input order.
    */
  def mergeSmall(spans: IndexedSeq[Span], threshold: Long,
      chunkSize: Long): IndexedSeq[(Long, Long)] = {
    val small = (g: Span) => g.end - g.start + 1 <= threshold && g.mergeable
    val batchOf = spans.groupBy(g => Math.floorDiv(g.start, chunkSize)).values.flatMap { inChunk =>
      runs(inChunk.sortBy(g => (g.start, g.end)))(g => Some(g.end).filter(_ => small(g)))(
        (g, smallEnd) => !small(g) || smallEnd.forall(g.start > _ + 1))
        .flatMap(b => b.map(_ -> ((b.map(_.start).min, b.map(_.end).max))))
    }.toMap
    spans.map(batchOf)
  }

  /** Splits `items`, in their order, into runs: a run starts at an item
    * for which `starts(item, reached)` holds, `reached` being the max
    * `reach` of the earlier items (None before any). verify's overlap
    * islands and merge batches are both such runs.
    */
  def runs[A](items: Seq[A])(reach: A => Option[Long])(
      starts: (A, Option[Long]) => Boolean): Seq[Seq[A]] = {
    val out = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[A]]
    var reached: Option[Long] = None
    items.foreach { a =>
      if (out.isEmpty || starts(a, reached)) out += mutable.ArrayBuffer.empty
      out.last += a
      reach(a).foreach(r => reached = Some(reached.fold(r)(math.max(_, r))))
    }
    out.map(_.toSeq).toSeq
  }

  /** Heights of [s, e] that no interval covers, as maximal (start, end)
    * runs in ascending order — the complement of the coverage the
    * reference's `find_incomplete_tables` walks (src/storage/mod.rs:143-207).
    */
  def gaps(covered: Seq[(Long, Long)], s: Long, e: Long): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    var next = s // lowest height not yet known to be covered
    covered.sortBy(_._1).foreach { case (a, b) =>
      if (a > next && next <= e) out += ((next, math.min(a - 1, e)))
      next = math.max(next, b + 1)
    }
    if (next <= e) out += ((next, e))
    out.result()
  }

  /** `find_incomplete_tables` — heights in [s, e] with no (or partial)
    * coverage (reference: src/storage/mod.rs:143-207). Returns heights
    * missing entirely; per-kind gaps come from [[groupTables]].
    */
  def missingHeights(spark: SparkSession, catalog: DataFrame, s: Long, e: Long): DataFrame = {
    import spark.implicits._
    val covered = intersecting(catalog, s, e)
      .select(col("start_h").as("s"), col("end_h").as("e"))
    // Explode covered ranges chunk-wise (ranges are ≤ chunk_size=1000 blocks
    // by construction, so per-row sequences stay small and distributed).
    val coveredHeights = covered
      .select(explode(sequence(col("s"), col("e"))).as("height"))
      .distinct()
    spark.range(s, e + 1).toDF("height")
      .join(coveredHeights, Seq("height"), "left_anti")
  }
}
