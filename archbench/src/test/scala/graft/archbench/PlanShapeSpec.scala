package graft.archbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The board's plan check is what makes its timings honest: an op is timed
  * by `collect()` on its own plan, which keeps every Join, Aggregate,
  * Window, Generate and Sort node, while a `count()` plan loses some of
  * them. Run with `sbt test` in this directory.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val fixture = {
    val dir = Files.createTempDirectory("archbench-fixture").toString + "/f"
    graft.tools.FuzzGen.genFixture(spark, dir, Board.fixtureSeed(1))
    dir
  }

  // ops whose count() plan drops whole Join/Aggregate/Window/Generate nodes
  private val lossyUnderCount =
    Seq("agg-kmv-overlap", "join-fanout-profile", "win-forward-fill")

  test("the timed collect() plan keeps every plan node; count() loses some") {
    lossyUnderCount.foreach { id =>
      val df = SparkEntry.queries(id)(spark, fixture)
      assert(Board.lostNodes(df, df).isEmpty, s"$id: collect() plan lost nodes")
      assert(Board.lostNodes(df, df.groupBy().count()).nonEmpty,
        s"$id: count() plan kept every node, so the check would not catch it")
    }
  }

}
