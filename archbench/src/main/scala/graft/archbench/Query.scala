package graft.archbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.archive.Catalog
import graft.commands.Commands
import graft.functions.{BlockLink, ChainSequenceAggregator}
import graft.sources.AvroArchiveSource

/** `archive-query`: read-only analysis of a compacted Avro archive through
  * the `avro-archive` V2 source and the file Catalog, the reference's
  * "Spark, Beam, etc." consumer side. The archive (range files only) is
  * written during setup; every query's answer is derived from the
  * generator.
  *
  * Query mix (seeded): point lookups, block ranges, blocks ⋈ txes over a
  * range, chain-link verification (ChainSequenceAggregator) and coverage
  * (`Catalog.missingHeights` over a range that may pass the head).
  */
object Query {
  val Chunk = 500L
  val Blocks = 5000L
  val ShortRange = 100L
  val LongRange = 500L
  val MinQueries = 40
  val SetupRepeats = 3
  val Kinds = Seq("point", "range", "join", "chain", "coverage")
  private val TxList = org.apache.spark.sql.types.StructType.fromDDL("tx array<string>")

  final case class Q(kind: String, s: Long, len: Long) {
    def e: Long = s + len - 1
  }

  private def setup(spark: SparkSession, chain: Chain, dir: String): Unit = {
    val keys = (0L until Blocks).map(h => (h, 0))
    Commands.archiveAvro(spark, Chain.blocks(spark, chain, keys), dir, 0L, Blocks - 1, Chunk, "blocks")
    Commands.archiveAvro(spark, Chain.txes(spark, chain, keys), dir, 0L, Blocks - 1, Chunk, "txes")
  }

  /** The seeded query list, in run order. */
  def queries(seed: Long, n: Int): IndexedSeq[Q] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    (0 until n).map { i =>
      val kind = Kinds(i % Kinds.size)
      val len = if (kind == "point") 1L else if (i / Kinds.size % 2 == 0) ShortRange else LongRange
      val s = kind match {
        case "coverage" => rnd.nextLong(Blocks) // may run past the head
        case _          => rnd.nextLong(Blocks - len + 1)
      }
      Q(kind, s, len)
    }
  }

  def run(spark: SparkSession, args: Main.Args, out: Result): Unit = {
    val chain = Chain(args.seed)
    val dir = s"${args.workDir}/archive"
    out.fixtureSetupS = (0 until SetupRepeats).map { _ =>
      Main.rmrf(dir)
      Main.cost(setup(spark, chain, dir))._2.cpuS
    }
    val model = new Model(chain)
    // one untimed (but checked) query of each kind first, so the timed
    // sample does not start on cold code paths
    val (warm, qs) = queries(args.seed, 10000).splitAt(Kinds.size)
    warm.foreach(q => runQuery(spark, dir, q, model, None, out))
    if (args.trace) {
      val t = Trace.install(spark)
      val probes = qs.take(MinQueries).map(q => runQuery(spark, dir, q, model, Some(t), out))
      t.close()
      out.metric("trace.overhead_s", t.overheadS, "s")
      val cs = probes.map(_.cost)
      Main.report(out, Seq(Main.Cost(cs.map(_.wallS).sum, cs.map(_.cpuS).sum)), cs, traced = true)
      Lifecycle.listingProbes(spark, dir, out)
      sourceProbes(spark, dir, probes, out)
    } else {
      val t0 = System.nanoTime()
      val costs = Seq.newBuilder[Main.Cost]
      var i = 0
      while (i < MinQueries || (System.nanoTime() - t0) / 1e9 < args.seconds) {
        costs += runQuery(spark, dir, qs(i), model, None, out).cost
        i += 1
      }
      // the pass is the first MinQueries queries, the same list every run
      val cs = costs.result()
      val pass = cs.take(MinQueries)
      Main.report(out, Seq(Main.Cost(pass.map(_.wallS).sum, pass.map(_.cpuS).sum)), cs,
        traced = false)
    }
  }

  /** Expected answers, from the generator alone. */
  final class Model(val chain: Chain) {
    def txTotal(s: Long, e: Long): Long = (s to e).map(chain.txCount(_).toLong).sum
    def heightSum(s: Long, e: Long): Long = (s to e).sum
    /** Range files of one kind intersecting [s, e]. */
    def files(s: Long, e: Long): Long = e / Chunk - s / Chunk + 1
  }

  final case class Probe(kind: String, cost: Main.Cost, planS: Double,
      partitions: Long, intersecting: Long) {
    def totalS: Double = cost.wallS
    def execS: Double = totalS - planS
  }

  private def v2(spark: SparkSession, dir: String, kind: String): DataFrame =
    spark.read.format("avro-archive").option("kind", kind).load(dir)

  /** Run one query, check its answer; with a trace, split planning
    * from execution and count planned scan partitions.
    */
  private def runQuery(spark: SparkSession, dir: String, q: Q, m: Model,
      trace: Option[Trace], out: Result): Probe = {
    import spark.implicits._
    val inRange = col("height").between(q.s, q.e)
    val t0 = System.nanoTime()
    val c0 = Main.cpuS
    val (df, files): (Option[DataFrame], Long) = q.kind match {
      case "point" =>
        (Some(v2(spark, dir, "blocks").filter(col("height") === q.s)
          .select("height", "blockId", "parentId")), m.files(q.s, q.e))
      case "range" =>
        (Some(v2(spark, dir, "blocks").filter(inRange).agg(count(lit(1)), sum("height"),
          sum(size(from_json(col("json").cast("string"), TxList)
            .getField("tx"))))), m.files(q.s, q.e))
      case "join" =>
        (Some(v2(spark, dir, "blocks").filter(inRange).select("height", "blockId")
          .join(v2(spark, dir, "txes").filter(inRange), Seq("height", "blockId"))
          .agg(count(lit(1)), sum("index"))), 2 * m.files(q.s, q.e))
      case "chain" =>
        (Some(v2(spark, dir, "blocks").filter(inRange)
          .select("height", "blockId", "parentId").as[BlockLink]
          .select(ChainSequenceAggregator.toColumn).toDF()), m.files(q.s, q.e))
      case "coverage" => (None, 0L)
    }
    var planS = 0.0
    var partitions = 0L
    val ok = try df match {
      case Some(d) =>
        if (trace.isDefined) planS = Main.timed(d.queryExecution.executedPlan)._2
        val rows = d.collect()
        q.kind match {
          case "point" =>
            rows.length == 1 && rows(0).getString(1) == m.chain.hash(q.s) &&
              rows(0).getString(2) == m.chain.parent(q.s)
          case "range" =>
            rows(0).getLong(0) == q.len && rows(0).getLong(1) == m.heightSum(q.s, q.e) &&
              rows(0).getLong(2) == m.txTotal(q.s, q.e)
          case "join" =>
            val n = m.txTotal(q.s, q.e)
            val idx = (q.s to q.e).map(h => (0 until m.chain.txCount(h)).sum.toLong).sum
            rows(0).getLong(0) == n && rows(0).getLong(1) == idx
          case "chain" => // the verdict's fields arrive as columns
            val v = rows(0)
            v.getBoolean(0) && v.getLong(1) == q.s && v.getLong(2) == q.e && v.getSeq[Long](3).isEmpty
        }
      case None =>
        val catalog = Catalog.withParsedNames(
            AvroArchiveSource.listAvroFiles(spark, dir).toDF("path"))
          .filter(col("kind") === "blocks")
        val missing = Catalog.missingHeights(spark, catalog, q.s, q.e).count()
        missing == math.max(0L, q.e - (Blocks - 1))
    } catch { case e: Exception =>
      System.err.println(s"archbench query $q failed: $e")
      false
    }
    val cost = Main.Cost((System.nanoTime() - t0) / 1e9, Main.cpuS - c0)
    out.attempted += 1
    out.check(s"query.${q.kind}", ok, s"wrong answer for $q")
    for (t <- trace; d <- df) partitions = t.overhead {
      d.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions.size.toLong }.sum
    }
    Probe(q.kind, cost, planS, partitions, files)
  }

  /** The query side's per-layer numbers for `archive-lifecycle`'s traced
    * run: the same set-up, warm-up and traced queries as a traced
    * `archive-query` run, in `dir`, without the listing probes (the
    * lifecycle reports its own archive's).
    */
  def layerProbe(spark: SparkSession, seed: Long, dir: String, out: Result): Unit = {
    val chain = Chain(seed)
    setup(spark, chain, dir)
    val model = new Model(chain)
    val (warm, qs) = queries(seed, 10000).splitAt(Kinds.size)
    warm.foreach(q => runQuery(spark, dir, q, model, None, out))
    val t = Trace.install(spark)
    val probes = qs.take(MinQueries).map(q => runQuery(spark, dir, q, model, Some(t), out))
    t.close()
    sourceProbes(spark, dir, probes, out)
  }

  /** Per-layer numbers of the traced queries plus a decode probe. */
  private def sourceProbes(spark: SparkSession, dir: String, probes: Seq[Probe],
      out: Result): Unit = {
    Kinds.foreach { k =>
      out.metric(s"query.$k.p50_ms", Main.median(probes.filter(_.kind == k).map(_.totalS)) * 1e3, "ms")
    }
    val scans = probes.filter(_.kind != "coverage")
    out.metric("sources.v2.plan_ms", Main.median(scans.map(_.planS)) * 1e3, "ms")
    out.metric("sources.v2.exec_ms", Main.median(scans.map(_.execS)) * 1e3, "ms")
    out.metric("sources.v2.partitions", Main.median(scans.map(_.partitions.toDouble)), "count")
    out.metric("sources.v2.prune_ratio",
      Main.median(scans.map(p => p.partitions.toDouble / p.intersecting)), "ratio")
    val ranges = AvroArchiveSource.filesOfKind(spark,
      AvroArchiveSource.listAvroFiles(spark, dir), "blocks")
    val (_, decodeS) = Main.timed(AvroArchiveSource.readArchiveFiles(spark, ranges, "blocks")
      .write.format("noop").mode("overwrite").save())
    out.metric("sources.decode_rows_per_s.ranges", Blocks / decodeS, "1/s")
  }
}
