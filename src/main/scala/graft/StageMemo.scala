package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.sources.ArchiveFs

/** The one memo for pipeline stages that several board ops share:
  * `StageMemo(s, dir, table, stage)(build)` runs `build` once per
  * (session, dir, stage) and hands every later caller the same value. A
  * stage name carries its parameters (`centroids-k=4`). The build decides
  * what the value is (an eager or a lazily persisted Dataset, or a
  * collected Scala value); the memo never persists anything itself.
  *
  * Lifetime: an entry records a fingerprint of the one table its stage
  * reads, `<dir>/<table>.parquet` — the file's length and mtime or, for
  * a directory, its files' paths, lengths and mtimes, taken by the
  * archive's walk ([[ArchiveFs.files]]). A get whose fingerprint differs
  * unpersists the old value, refreshes Spark's cached plans over the path
  * (the build's inner persists would otherwise plan-match the old data)
  * and rebuilds. One listener per SparkContext drops its sessions'
  * entries when the application ends; a map weak on the session could
  * never release them, since a Dataset value holds its session.
  *
  * Re-entrant: get → build → put runs under one monitor, so nested stage
  * builds (clusters → minhash pairs → shingles) work, where
  * `ConcurrentHashMap.computeIfAbsent` throws "Recursive update". Builds
  * serialize; Spark parallelizes inside each.
  *
  * Only stages shared BETWEEN ops belong here; a persist whose consumers
  * all sit inside one op stays a bare persist in that op.
  */
object StageMemo {
  private final case class Key(s: SparkSession, dir: String, stage: String)
  private final case class Entry(fingerprint: Seq[(String, Long, Long)], value: Any)

  private val entries = scala.collection.mutable.Map.empty[Key, Entry]
  private val listeners = scala.collection.mutable.Map.empty[SparkContext, SparkListener]

  def apply[T](s: SparkSession, dir: String, table: String, stage: String)(
      build: => T): T = synchronized {
    val path = s"$dir/$table.parquet"
    val fp = fingerprint(s, path)
    val key = Key(s, dir, stage)
    entries.get(key) match {
      case Some(e) if e.fingerprint == fp => e.value.asInstanceOf[T]
      case stale =>
        stale.foreach { e =>
          entries.remove(key)
          e.value match { case ds: Dataset[_] => ds.unpersist(); case _ => () }
          s.catalog.refreshByPath(path)
        }
        listener(s.sparkContext)
        val v = build
        entries(key) = Entry(fp, v)
        v
    }
  }

  /** The context's release listener, installed on first use. */
  private[graft] def listener(sc: SparkContext): SparkListener = synchronized {
    listeners.getOrElseUpdate(sc, {
      val l = new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          StageMemo.synchronized {
            entries.filterInPlace { case (k, _) => k.s.sparkContext ne sc }
            listeners.remove(sc)
          }
      }
      sc.addSparkListener(l)
      l
    })
  }

  private def fingerprint(s: SparkSession, path: String): Seq[(String, Long, Long)] =
    ArchiveFs.files(ArchiveFs.fs(s, path), new Path(path))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
}
