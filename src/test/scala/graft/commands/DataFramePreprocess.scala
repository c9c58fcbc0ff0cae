package graft.commands

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.archive.{Catalog, Filenames}

/** Test oracle: the filename decisions of verify and fix as Catalyst plans
  * over the DataFrame catalog — the implementation that the driver-side
  * [[VerifyFull.preprocess]] and [[Catalog.gaps]] replaced, kept verbatim
  * so the differential specs can compare every file's fate against it.
  */
object DataFramePreprocess {

  private val GroupKey = Seq("start_h", "end_h", "fh")

  private def avroCatalog(spark: SparkSession, files: Seq[String]): DataFrame = {
    import spark.implicits._
    Catalog.withParsedNames(files.toDF("path")).filter(col("kind").isNotNull)
  }

  private def chunkKey(chunkSize: Long): Column =
    floor(col("start_h") / chunkSize).cast("long")

  private def mergeSmall(catalog: DataFrame, threshold: Long,
      partitionCols: Seq[Column], mergeable: Column): DataFrame = {
    val small = (col("end_h") - col("start_h") + 1 <= threshold) && mergeable
    val w = Window.partitionBy(partitionCols: _*).orderBy("start_h", "end_h")
    val flagged = catalog
      .withColumn("_small", small)
      .withColumn("_pe", max(when(col("_small"), col("end_h"))).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_brk",
        when(!col("_small"), 1)
          .when(col("_pe").isNull || col("start_h") > col("_pe") + 1, 1)
          .otherwise(0))
      .withColumn("_g", sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val groups = Window.partitionBy(partitionCols :+ col("_g"): _*)
    flagged
      .withColumn("group_s", min("start_h").over(groups))
      .withColumn("group_e", max("end_h").over(groups))
      .drop("_small", "_pe", "_brk", "_g")
  }

  /** Verify steps 1–2 over a listing: (deletions, live rows). */
  def verify(spark: SparkSession, allFiles: Seq[String], startH: Long, endH: Long,
      canonical: DataFrame, opts: VerifyFull.Options): VerifyFull.Fates = {
    val catalog = Catalog.intersecting(avroCatalog(spark, allFiles), startH, endH)
      .withColumn("fh", coalesce(col("fork_hash"), lit("")))
      .select("path", "kind", "start_h", "end_h", "fh")

    val dupSlots = catalog.groupBy((GroupKey :+ "kind").map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).drop("n")
    val cat = catalog.join(dupSlots, GroupKey :+ "kind", "left_anti")

    val complete = col("blocks") >= 1 &&
      (if (opts.checkTxes) col("txes") >= 1 else lit(true)) &&
      (if (opts.checkTraces) col("traces") >= 1 else lit(true))
    val groups0 = cat.groupBy(GroupKey.map(col): _*)
      .pivot("kind", Seq("blocks", "txes", "traces"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("blocks", "txes", "traces"))
      .withColumn("complete", complete)

    val incomplete = if (opts.fixClean) !col("complete") else lit(false)

    val isSingle = col("start_h") === col("end_h")
    val nf = sum(when(isSingle && !col("_incomplete"), 1).otherwise(0))
      .over(Window.partitionBy("start_h"))
    val forkHeights = groups0
      .withColumn("_incomplete", incomplete)
      .withColumn("_nf", nf)
      .filter(col("_nf") > 1).select("start_h").distinct()
    val canonicalAt = canonical
      .join(broadcast(forkHeights.withColumnRenamed("start_h", "height")), Seq("height"))
      .select(col("height").as("start_h"), col("hash").as("_canon"))
    val withFork = groups0
      .withColumn("_incomplete", incomplete)
      .withColumn("_nf", nf)
      .join(canonicalAt, Seq("start_h"), "left")
      .withColumn("_forked_out",
        isSingle && !col("_incomplete") && col("_nf") > 1 &&
          !(col("_canon").isNotNull && col("fh") === col("_canon")))

    val chunkOf = chunkKey(opts.chunkSize)
    val w = Window.partitionBy("_chunk").orderBy("start_h", "end_h", "fh")
    val ranked = withFork
      .filter(!col("_incomplete") && !col("_forked_out"))
      .withColumn("_chunk", chunkOf)
      .withColumn("_pe", max("end_h").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_brk", when(col("_pe").isNull || col("start_h") > col("_pe"), 1).otherwise(0))
      .withColumn("_isl", sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("_chunk", "_isl")
          .orderBy((col("end_h") - col("start_h")).desc, col("start_h"), col("fh"))))

    val decisions = withFork
      .join(ranked.select((GroupKey.map(col) :+ col("_rk")): _*), GroupKey, "left")
      .withColumn("reason",
        when(col("_incomplete"), "incomplete-group")
          .when(col("_forked_out"), "forked-out")
          .when(col("_rk") > 1, "duplicate-range"))
      .select(col("start_h"), col("end_h"), col("fh"),
        col("blocks"), col("txes"), col("traces"), col("complete"), col("reason"))

    val batched = mergeSmall(
        decisions.filter(col("reason").isNull),
        opts.mergeThreshold, Seq(chunkOf), col("complete"))
      .select(col("start_h"), col("end_h"), col("fh"),
        col("group_s"), col("group_e"))

    val slotFates = catalog.join(dupSlots, GroupKey :+ "kind", "left_semi")
      .select(col("path"), col("kind"), lit("duplicate-slot").as("reason"),
        lit(null).cast("long").as("group_s"), lit(null).cast("long").as("group_e"))
    val groupInfo = decisions.select((GroupKey.map(col) :+ col("reason")): _*)
      .join(batched, GroupKey, "left")
    val fates = cat.join(groupInfo, GroupKey)
      .select(col("path"), col("kind"), col("reason"), col("group_s"), col("group_e"))
      .unionByName(slotFates)
      .collect()

    val deletions = Seq.newBuilder[(String, String)]
    val live = Seq.newBuilder[(String, String, Long, Long)]
    fates.foreach { r =>
      if (!r.isNullAt(2)) deletions += ((r.getString(0), r.getString(2)))
      else live += ((r.getString(0), r.getString(1), r.getLong(3), r.getLong(4)))
    }
    VerifyFull.Fates(deletions.result(), live.result())
  }

  /** fixAvro's coverage: (kind, height) rows of [startH, endH] that no file
    * of the kind covers, for every kind in `kinds`.
    */
  def fixMissing(spark: SparkSession, allFiles: Seq[String], startH: Long, endH: Long,
      kinds: Seq[String]): Seq[(String, Long)] = {
    val catalog = Catalog.intersecting(avroCatalog(spark, allFiles), startH, endH)
    kinds.map { kind0 =>
      val kind = Filenames.normalizeKind(kind0)
      val covered = catalog.filter(col("kind") === kind)
        .select(explode(sequence(col("start_h"), col("end_h"))).as("height"))
        .distinct()
      spark.range(startH, endH + 1).toDF("height")
        .join(covered, Seq("height"), "left_anti")
        .select(lit(kind).as("kind"), col("height"))
    }.reduce(_ union _)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }
}
