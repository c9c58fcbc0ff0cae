package graft.archbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExecBase

import graft.Op

/** `board`: a fixed sample of the operator board over a seeded fixture
  * (`graft.tools.FuzzGen`, the board's own testdata-schema generator). Each
  * op is timed on its full plan: the result rows are materialised with
  * `collect()`, never `count()`, and the timed physical plan must keep every
  * Join/Aggregate/Window/Generate/Sort node of the op's optimized plan.
  * Results of the first pass go to parquet for the DuckDB oracle check in
  * `run.py`.
  *
  * A pass starts from a fresh copy of the fixture and an empty cache, so
  * the shared pipeline stages (the `fill.*` steps) are rebuilt and timed on
  * every pass.
  */
object Board {
  val SetupRepeats = 3

  /** Every `Stride`-th op of each module, starting at its first op. */
  val Stride = 30

  val modules: Seq[(String, Seq[Op])] = Seq(
    "CoreOps" -> graft.ops.CoreOps.ops, "ScalarOps" -> graft.ops.ScalarOps.ops,
    "JoinOps" -> graft.ops.JoinOps.ops, "AggOps" -> graft.ops.AggOps.ops,
    "WindowOps" -> graft.ops.WindowOps.ops, "ChunkOps" -> graft.ops.ChunkOps.ops,
    "SourceSinkOps" -> graft.ops.SourceSinkOps.ops, "StreamOps" -> graft.ops.StreamOps.ops,
    "TextOps" -> graft.ops.TextOps.ops, "DedupOps" -> graft.ops.DedupOps.ops,
    "SimOps" -> graft.ops.SimOps.ops, "MultimodalOps" -> graft.ops.MultimodalOps.ops,
    "PipelineOps" -> graft.ops.PipelineOps.ops, "CurationOps" -> graft.ops.CurationOps.ops,
    "LayoutOps" -> graft.ops.LayoutOps.ops)

  def sample: Seq[(String, Op)] = modules.flatMap { case (m, ops) =>
    ops.zipWithIndex.collect { case (op, i) if i % Stride == 0 => m -> op }
  }

  val warmUp: Seq[Op] = Seq(graft.ops.CoreOps.ops(1), graft.ops.JoinOps.ops(1),
    graft.ops.AggOps.ops(1))

  val fills: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "shingles" -> graft.ops.DedupOps.persistedShingles,
    "jaccard-pairs" -> graft.ops.DedupOps.persistedJaccardPairs,
    "minhash-pairs" -> graft.ops.DedupOps.persistedMinhashPairs,
    "doc-clusters" -> graft.ops.DedupOps.persistedDocClusters,
    "md5-sig-base" -> graft.ops.DedupOps.persistedMd5Base,
    "unigram-deciles" -> graft.ops.TextOps.unigramDecileBuckets)

  /** FuzzGen's standard fixture family (its seeds from 600 up plant
    * special long-span and chain structures).
    */
  def fixtureSeed(seed: Long): Int = 1 + Math.floorMod(seed, 599L).toInt

  private def copyDir(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, Paths.get(to, p.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING))
  }

  final case class OpTime(module: String, id: String, cost: Main.Cost) {
    def s: Double = cost.wallS
  }
  final case class PassTimes(total: Main.Cost, fills: Seq[(String, Double)], ops: Seq[OpTime])

  def run(spark: SparkSession, args: Main.Args, out: Result): Unit = {
    val fixture = s"${args.workDir}/fixture"
    out.fixtureSetupS = (0 until SetupRepeats).map { _ =>
      Main.rmrf(fixture)
      Main.cost(graft.tools.FuzzGen.genFixture(spark, fixture, fixtureSeed(args.seed)))._2.cpuS
    }
    // a few ops outside the sample first, untimed, so the timed ops do not
    // start on cold engine code paths
    copyDir(fixture, s"${args.workDir}/warm")
    warmUp.foreach(op => op.build(spark, s"${args.workDir}/warm").collect())
    val results = s"${args.workDir}/results"
    writeOracle(results, fixture)
    out.boardResults = Some(results)
    var pass = 0
    def nextPass(trace: Option[Trace], withFills: Boolean): PassTimes = {
      val dir = s"${args.workDir}/pass$pass"
      copyDir(fixture, dir)
      spark.catalog.clearCache()
      val p = runPass(spark, dir, if (pass == 0) Some(results) else None, withFills, trace, out)
      pass += 1
      p
    }
    if (args.trace) {
      val t = Trace.install(spark)
      val traced = nextPass(Some(t), withFills = true)
      t.close()
      out.metric("trace.overhead_s", t.overheadS, "s")
      Main.report(out, Seq(traced.total), traced.ops.map(_.cost), traced = true)
      modules.foreach { case (m, _) =>
        out.metric(s"ops.$m.s", traced.ops.filter(_.module == m).map(_.s).sum, "s") }
      traced.fills.foreach { case (n, s) => out.metric(s"fill.${n}_s", s, "s") }
    } else {
      val t0 = System.nanoTime()
      val passes = Seq.newBuilder[PassTimes]
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < args.seconds) passes += nextPass(None, withFills = false)
      val ps = passes.result()
      Main.report(out, ps.map(_.total), ps.flatMap(_.ops.map(_.cost)), traced = false)
    }
  }

  private def writeOracle(results: String, fixture: String): Unit = {
    import Json.{str => q}
    val oracle = sample.flatMap { case (_, op) => op.oracle.map(sql => s"${q(op.id)}:${q(sql)}") }
    Files.createDirectories(Paths.get(results))
    Files.writeString(Paths.get(results, "oracle.json"),
      s"""{"fixture":${q(fixture)},"oracle":{${oracle.mkString(",")}}}""")
  }

  /** Node counts of the plan shapes `count()` would prune. */
  private def logicalShape(p: logical.LogicalPlan): Map[String, Int] = {
    val kinds = p.collect {
      case _: logical.Join      => "join"
      case _: logical.Aggregate => "aggregate"
      case _: logical.Window    => "window"
      case _: logical.Generate  => "generate"
      case _: logical.Sort      => "sort"
    }
    kinds.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private def physicalShape(p: SparkPlan): Map[String, Int] = {
    val kinds = p.collect {
      case _: BaseJoinExec | _: joins.CartesianProductExec => "join"
      case _: BaseAggregateExec                       => "aggregate"
      case _: WindowExecBase                          => "window"
      case _: GenerateExec                            => "generate"
      case _: SortExec | _: TakeOrderedAndProjectExec => "sort"
    }
    kinds.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Join/Aggregate/Window/Generate/Sort nodes of `op`'s optimized plan
    * that the physical plan of `timed` (the action actually timed) lacks,
    * by kind and count.
    */
  def lostNodes(op: DataFrame, timed: DataFrame): Map[String, Int] = {
    val got = physicalShape(timed.queryExecution.sparkPlan)
    logicalShape(op.queryExecution.optimizedPlan).collect {
      case (k, n) if got.getOrElse(k, 0) < n => k -> (n - got.getOrElse(k, 0))
    }
  }

  private def runPass(spark: SparkSession, dir: String, save: Option[String],
      withFills: Boolean, trace: Option[Trace], out: Result): PassTimes = {
    val t0 = System.nanoTime()
    val c0 = Main.cpuS
    val fillTimes = fills.filter(_ => withFills).map { case (name, f) =>
      name -> Main.timed(Trace.scoped(trace, s"fill.$name")(f(spark, dir).count()))._2
    }
    var planS, execS = 0.0
    var fallbacks = 0L
    val ops = sample.map { case (module, op) =>
      val tOp = System.nanoTime()
      val cOp = Main.cpuS
      var opCost = Main.Cost(0, 0)
      def done(): Unit = opCost = Main.Cost((System.nanoTime() - tOp) / 1e9, Main.cpuS - cOp)
      val (ok, detail) = Trace.scoped(trace, "ops") {
        try {
          val df = op.build(spark, dir)
          val qe = df.queryExecution
          if (trace.isDefined) planS += Main.timed(qe.executedPlan)._2
          val (rows, s) = Main.timed(df.collect())
          done()
          trace.foreach { t =>
            execS += s
            fallbacks += t.overhead(qe.executedPlan.collectWithSubqueries { case p => p }
              .flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e })).size)
          }
          save.foreach { dir =>
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$dir/${op.id}")
          }
          val lost = lostNodes(df, df)
          (lost.isEmpty, s"timed plan lost nodes: $lost")
        } catch { case e: Exception =>
          done()
          (false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      out.attempted += 1
      out.check(s"op:${op.id}", ok, detail)
      System.err.println(f"archbench op ${op.id} ${opCost.wallS}%.3f")
      OpTime(module, op.id, opCost)
    }
    val total = Main.Cost((System.nanoTime() - t0) / 1e9, Main.cpuS - c0)
    System.err.println(f"archbench board pass ${total.wallS}%.2fs fills " +
      fillTimes.map { case (n, t) => f"$n=$t%.2f" }.mkString(" ") +
      f" ops ${ops.map(_.s).sum}%.2f")
    trace.foreach { t =>
      val c = (fills.map(f => t.get(s"fill.${f._1}")) :+ t.get("ops"))
      out.metric("spark.board.plan_s", planS, "s")
      out.metric("spark.board.exec_s", execS, "s")
      out.metric("spark.board.jobs", c.map(_.jobs).sum, "count")
      out.metric("spark.board.tasks", c.map(_.tasks).sum, "count")
      out.metric("spark.board.cpu_s", c.map(_.cpuNs).sum / 1e9, "s")
      out.metric("spark.board.shuffle_bytes", c.map(_.shuffleBytes).sum, "bytes")
      out.metric("spark.board.codegen_fallbacks", fallbacks, "count")
    }
    PassTimes(total, fillTimes, ops)
  }
}
