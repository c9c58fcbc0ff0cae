package graft.archbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-listener counters grouped by the benchmark call that caused them.
  * Each call runs under a scope name (a local property on the calling
  * thread); jobs, tasks, executor CPU and shuffle bytes add up per scope.
  *
  * Work done only for tracing (listings, probes, waiting for the listener
  * bus) runs inside [[overhead]], whose total is the run's tracing
  * overhead: the traced unit's time minus what it would take untraced.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace.ScopeKey

  final case class Counters(var jobs: Long = 0, var tasks: Long = 0,
      var cpuNs: Long = 0, var shuffleBytes: Long = 0)

  private val byScope = mutable.HashMap.empty[String, Counters]
  private var overheadNs = 0L
  private val stageScope = mutable.HashMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(ScopeKey)))
    scope.foreach { s =>
      byScope.getOrElseUpdate(s, Counters()).jobs += 1
      e.stageIds.foreach(stageScope(_) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageScope.remove(e.stageInfo.stageId).foreach { s =>
      val c = byScope.getOrElseUpdate(s, Counters())
      c.tasks += e.stageInfo.numTasks
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Run `f` with its Spark work attributed to `scope`. */
  def scoped[T](scope: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try f finally sc.setLocalProperty(ScopeKey, prev)
  }

  /** Run tracing-only work `f`, adding its time to the overhead. */
  def overhead[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally overheadNs += System.nanoTime() - t0
  }

  def overheadS: Double = overheadNs / 1e9

  /** Counters of one scope, after all pending events are handled. */
  def get(scope: String): Counters = overhead {
    org.apache.spark.archbench.Bus.drain(spark.sparkContext)
    synchronized(byScope.getOrElse(scope, Counters()).copy())
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Trace {
  val ScopeKey = "archbench.scope"

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** No-op scoping for untraced runs. */
  def scoped[T](trace: Option[Trace], scope: String)(f: => T): T =
    trace.fold(f)(_.scoped(scope)(f))
}
