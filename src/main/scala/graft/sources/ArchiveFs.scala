package graft.sources

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, RemoteIterator}
import org.apache.spark.sql.SparkSession

/** The archive's one storage seam: every listing and every durable
  * mutation (temp, claim, publish, delete, mkdirs) goes through here.
  * `file://` runs on java.nio — Hadoop's local FS would write a `.crc`
  * sidecar per file that a publish never moves, fork `chmod` per create
  * and `ls` per listed file without libhadoop, and claim by a non-atomic
  * check-then-act. Every other scheme runs on Hadoop's `FileSystem`.
  *
  * A write is temp → claim → publish ([[commit]]). The claim creates the
  * final name only if absent (the reference's never-overwrite `create`,
  * src/storage/fs.rs:33-39 / stream.rs:49-52); the publish swaps the temp
  * onto the claim in ONE atomic rename — never delete-then-rename, which
  * would reopen the claim window to a speculative or retried task. A crash
  * leaves a hidden temp orphan or an empty claim at the final name, never
  * a partial file under a final name.
  *
  * Atomicity caveat, scoped honestly: the claim is atomic on HDFS and
  * `file://` only. On S3A, `create(overwrite=false)` is itself
  * check-then-act (a HEAD then PUT), so concurrent writers of the SAME
  * target can both "win" — last PUT wins, same best-effort semantics as
  * the reference's own S3 backend, whose never-overwrite is also a
  * list-then-put (objects.rs:112-167,170-230). Callers that need a hard
  * guarantee on object stores must fence at the job level (the archive
  * commands already do: one task owns one chunk by partitioning).
  */
object ArchiveFs {

  private[graft] object Step extends Enumeration { val Temp, Claim, Publish, Delete, Mkdirs = Value }

  /** A test's crash plan: the first `step` whose path matches fails, and so
    * does every mutation after it until the plan is cleared — a process
    * kill, after which no cleanup lands.
    */
  private[graft] final class Crash(step: Step.Value, matches: Path => Boolean) {
    @volatile var fired = false
    private[ArchiveFs] def check(s: Step.Value, p: Path): Unit = synchronized {
      if (!fired && s == step && matches(p)) fired = true
      if (fired) throw new IOException(s"crash plan: $s $p")
    }
  }

  @volatile private var crash: Option[Crash] = None
  private[graft] def crashWith(plan: Option[Crash]): Unit = crash = plan

  /** The one step every mutation passes through. */
  private[graft] def mutate[T](step: Step.Value, p: Path)(act: => T): T =
    { crash.foreach(_.check(step, p)); act }

  private def local(p: Path) = Paths.get(p.toUri.getPath)
  private def isLocal(fs: FileSystem) = fs.getScheme == "file"

  def fs(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf)
  def fs(spark: SparkSession, p: String): FileSystem =
    fs(new Path(p), spark.sparkContext.hadoopConfiguration)

  /** Every file under `root` (the root itself when it is a file; nothing
    * when it is absent), as the reference's listing walks
    * (src/storage/fs.rs:62-132): `listStatusIterator` on `file://`,
    * elsewhere `listFiles` (on S3A one paginated LIST).
    */
  def files(fs: FileSystem, root: Path): Iterator[FileStatus] = {
    val top = try fs.getFileStatus(root)
      catch { case _: FileNotFoundException => return Iterator.empty }
    def each(it: RemoteIterator[_ <: FileStatus]): Iterator[FileStatus] =
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
    def walk(d: Path): Iterator[FileStatus] = each(fs.listStatusIterator(d))
      .flatMap(f => if (f.isDirectory) walk(f.getPath) else Iterator.single(f))
    if (top.isFile) Iterator.single(top)
    else if (isLocal(fs)) walk(root)
    else each(fs.listFiles(root, true))
  }

  def mkdirs(fs: FileSystem, dir: Path): Unit = mutate(Step.Mkdirs, dir)(fs.mkdirs(dir))

  def createTemp(fs: FileSystem, p: Path): OutputStream = mutate(Step.Temp, p) {
    if (!isLocal(fs)) fs.create(p, true)
    else { Files.createDirectories(local(p).getParent); Files.newOutputStream(local(p)) }
  }

  /** Create `target` if absent (O_EXCL on `file://`); false when taken. */
  def claim(fs: FileSystem, target: Path): Boolean = mutate(Step.Claim, target) {
    if (isLocal(fs)) {
      Files.createDirectories(local(target).getParent)
      try { Files.createFile(local(target)); true }
      catch { case _: FileAlreadyExistsException => false }
    } else {
      try { fs.create(target, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  /** Move `tmp` onto its claimed `target` in one atomic rename: ATOMIC_MOVE
    * on `file://` (rename(2) replaces the claim), elsewhere
    * `FileContext.rename(OVERWRITE)`, which HDFS serializes in the namenode.
    */
  def publish(fs: FileSystem, tmp: Path, target: Path): Unit = mutate(Step.Publish, target) {
    if (isLocal(fs)) Files.move(local(tmp), local(target), StandardCopyOption.ATOMIC_MOVE)
    else FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, target, Options.Rename.OVERWRITE)
  }

  /** Claim `target` and publish `tmp` onto it; true when it landed. A taken
    * name keeps its file and the temp is deleted; then the call returns
    * false, or throws when `failIfTaken`.
    */
  def commit(fs: FileSystem, tmp: Path, target: Path, failIfTaken: Boolean): Boolean =
    if (claim(fs, target)) { publish(fs, tmp, target); true }
    else {
      delete(fs, tmp)
      if (failIfTaken) throw new IllegalStateException(s"archive file exists " +
        s"(never overwritten): $target — partition the input so file ranges don't collide")
      false
    }

  def delete(fs: FileSystem, p: Path): Boolean = mutate(Step.Delete, p)(fs.delete(p, false))

  /** Delete each file of `paths` through its own path's `FileSystem`. */
  def delete(spark: SparkSession, paths: Seq[Path]): Unit =
    paths.foreach(p => delete(fs(p, spark.sparkContext.hadoopConfiguration), p))
}
