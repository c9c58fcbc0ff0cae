package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Batch plan dumper (not part of the driver contract): writes
  * `explain("formatted")` of every registered op — or the comma-list in
  * arg 2 — to one file per op under the output dir. One JVM for the whole
  * board, so a full-board plan snapshot is minutes, not hours — for
  * diffing plan shapes (Exchange count, join strategy, PushedFilters)
  * before/after an optimization.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-explain-all")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val ids = graft.SparkEntry.allOps.map(_.id)
      .filter(id => only.forall(_.contains(id)))
    ids.foreach { id =>
      val txt =
        try graft.SparkEntry.queries(id)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      val w = new java.io.PrintWriter(s"$outDir/$id.txt", "UTF-8")
      try w.println(txt) finally w.close()
    }
    println(s"EXPLAIN_ALL_OK ${ids.size}")
    spark.stop()
  }
}
