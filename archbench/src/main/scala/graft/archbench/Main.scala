package graft.archbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload against the program built from this
  * checkout and prints one `ARCHBENCH {json}` line for `run.py`.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <workDir>`.
  *
  * Every workload generates its inputs from the seed, sets up several
  * times (the median CPU time is `setup_s`'s fixture part), then repeats its fixed
  * unit of work until `seconds` have passed. With tracing on, the unit
  * runs once, traced, and the time spent in tracing-only work is reported.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, workDir: String)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 5, "usage: Main <workload> <seed> <seconds> <trace> <workDir>")
    val args = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", argv(4))
    val cpus = Runtime.getRuntime.availableProcessors.min(4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("archbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.workDir}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${args.workDir}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Result
    out.startCpuS = cpuS
    try {
      args.workload match {
        case "archive-lifecycle" => Lifecycle.run(spark, args, out, compact = false)
        case "archive-lifecycle-compact" => Lifecycle.run(spark, args, out, compact = true)
        case "archive-query"     => Query.run(spark, args, out)
        case "board"             => Board.run(spark, args, out)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
    } finally spark.stop()
    println("ARCHBENCH " + out.json)
    System.out.flush()
    sys.exit(0)
  }

  /** Wall seconds of `f`, plus its value. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, over all its threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Wall and CPU seconds of one operation. */
  final case class Cost(wallS: Double, cpuS: Double)

  def cost[T](f: => T): (T, Cost) = {
    val c0 = cpuS
    val (v, w) = timed(f)
    (v, Cost(w, cpuS - c0))
  }

  /** Pass and operation costs of a run. Untraced runs report CPU time,
    * the end-to-end metrics; traced runs report wall time (`wall.*`).
    *
    * Wall time on a shared VM swings by tens of percent between minutes
    * (other tenants, thread wake-up latency), which no run length here can
    * average out; the process's CPU time does not count time spent waiting
    * or descheduled, so it is the gated measure of the work.
    */
  def report(out: Result, passes: Seq[Cost], ops: Seq[Cost], traced: Boolean): Unit =
    if (traced) {
      out.metric("wall.pass_s", median(passes.map(_.wallS)), "s")
      out.metric("wall.op_p50_ms", median(ops.map(_.wallS)) * 1e3, "ms")
      out.metric("wall.op_p75_ms", pct(ops.map(_.wallS), 0.75) * 1e3, "ms")
    } else {
      // no gated median: the board's median op switched between ops of
      // different cost from run to run (IQR up to 0.32 of the median)
      out.metric("pass_cpu_s", median(passes.map(_.cpuS)), "s")
      out.metric("op_cpu_p75_ms", pct(ops.map(_.cpuS), 0.75) * 1e3, "ms")
    }

  /** Linear-interpolated percentile (the `statistics.quantiles` inclusive
    * method) of a non-empty sample.
    */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Recursively delete a local directory tree (benchmark scratch only). */
  def rmrf(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
  }
}

/** A JSON string literal. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
}

/** Everything one run reports: metrics with units, the output checks, and
  * the operation count. `run.py` turns it into the run's result line.
  */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  /** CPU seconds of JVM and session start-up, and of each fixture set-up. */
  var startCpuS = 0.0
  var fixtureSetupS: Seq[Double] = Nil
  var boardResults: Option[String] = None

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** One output check; a failed check names what differed. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"ARCHBENCH check failed: $name: $detail")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else v.toString

  def json: String = {
    import Json.str
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}" }
    val cs = checks.map { case (n, ok, d) =>
      s"{${str("name")}:${str(n)},${str("ok")}:$ok,${str("detail")}:${str(d)}}" }
    val fx = fixtureSetupS.map(num)
    s"""{"metrics":{${ms.mkString(",")}},"checks":[${cs.mkString(",")}],""" +
      s""""attempted":$attempted,"start_cpu_s":${num(startCpuS)},""" +
      s""""fixture_setup_s":[${fx.mkString(",")}],""" +
      s""""board_results":${boardResults.map(str).getOrElse("null")}}"""
  }
}
