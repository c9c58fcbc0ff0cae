package graft.archive

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ArchiveFs, AvroArchiveSink, AvroArchiveSource}

/** Test oracle: `compactAvro` as a Catalyst plan per kind (cached rows,
  * `validateChunks`, an eager `localCheckpoint`, the write, then a left
  * join, a `groupBy` and a `collect` for the deletable singles) — the
  * implementation that the one-aggregate [[Compaction.compactAvro]]
  * replaced, kept verbatim so the differential spec can compare every
  * verdict row, deletion and file left against it.
  */
object DataFrameCompaction {

  def compactAvro(
      spark: SparkSession,
      archiveDir: String,
      chunkSize: Long = 1000L,
      dryRun: Boolean = false): (DataFrame, Seq[String]) = {
    import spark.implicits._
    // chunkSize 1 would name a "range" with its source single's own path
    require(chunkSize > 1, "compactAvro needs chunkSize > 1")
    // the selection is catalog-sized and the listing is on the driver:
    // plain Scala over its entries
    val entries = Catalog.entries(AvroArchiveSource.listAvroFiles(spark, archiveDir))
    // settled singles only: exactly one file at the height for the kind
    val settled = entries.filter(_.isSingle).groupBy(e => (e.kind, e.start)).values
      .collect { case Seq(only) => only }.toSeq.sortBy(_.path)
    // chunks already touched by any range file are skipped
    // (create-if-absent; an unaligned range may span several chunks)
    val existingRange: Map[String, Seq[Long]] = entries.filterNot(_.isSingle)
      .groupBy(_.kind).map { case (kind, rs) =>
        kind -> rs.flatMap(r =>
          Math.floorDiv(r.start, chunkSize) to Math.floorDiv(r.end, chunkSize)).distinct
      }
    val verdictsByKind = Seq.newBuilder[DataFrame]
    val deleted = Seq.newBuilder[String]
    val kinds = settled.map(_.kind).distinct.sorted
    kinds.foreach { kind =>
      val files = settled.filter(_.kind == kind).map(_.path)
      val rows = AvroArchiveSource.readArchiveFilesWithPath(spark, files, kind)
        .withColumn("chunk", floor(col("height") / chunkSize).cast("long"))
        .cache()
      // a blocks chunk is judged by its rows (one block per height); txes
      // and traces carry any number of rows per height, so their chunks
      // are judged by the distinct heights they cover. localCheckpoint
      // (eager): the verdicts must outlive the source files this run is
      // about to delete — a lazy plan would re-scan them
      val covered = if (kind == "blocks") rows else rows.select("height").distinct()
      val verdicts = Compaction.validateChunks(covered, "height", chunkSize)
        .withColumn("kind", lit(kind))
        .localCheckpoint()
      val toWrite = verdicts.filter(col("complete")).select("chunk")
        .filter(!col("chunk").isin(existingRange.getOrElse(kind, Seq.empty): _*))
      if (!dryRun) {
        val chunkRows = rows
          .join(broadcast(toWrite), Seq("chunk"), "left_semi")
          .drop("_path")
        AvroArchiveSink.writeChunked(chunkRows, kind, archiveDir, "chunk")
        // a single is deletable iff every one of its rows landed in a
        // complete chunk that now has a range file (newly written or
        // pre-existing)
        val coveredChunks = verdicts.filter(col("complete")).select("chunk")
        val deletable = rows
          .join(broadcast(coveredChunks).withColumn("c", lit(1)), Seq("chunk"), "left")
          .groupBy("_path")
          .agg(count(lit(1)).as("n"), count("c").as("n_cov"))
          .filter(col("n") === col("n_cov"))
          .select("_path").as[String].collect().toSeq
        // singles beside a pre-existing range are crash residue, and that
        // range may be a crashed write's empty claim: such a single goes
        // only if a lenient read of the ranges returns its height
        val residue = settled.filter(e => e.kind == kind &&
          existingRange.getOrElse(kind, Nil).contains(Math.floorDiv(e.start, chunkSize)))
        val held = if (residue.isEmpty) Set.empty[Long]
          else AvroArchiveSource.readArchiveFilesWithPath(spark, entries.collect {
            case r if !r.isSingle && r.kind == kind &&
              residue.exists(e => r.start <= e.start && e.start <= r.end) => r.path
          }, kind, lenient = true).select("height").as[Long].collect().toSet
        val gone = deletable.filterNot(residue.filterNot(e => held(e.start)).map(_.path).toSet)
        ArchiveFs.delete(spark, gone.map(new Path(_)))
        deleted ++= gone
      }
      rows.unpersist()
      verdictsByKind += verdicts
    }
    val verdicts = verdictsByKind.result() match {
      case Seq()   => Compaction.validateChunks(spark.range(0).toDF("height"), "height", chunkSize)
        .withColumn("kind", lit(""))
      case seq     => seq.reduce(_ union _)
    }
    (verdicts, deleted.result())
  }
}
