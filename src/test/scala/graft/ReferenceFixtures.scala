package graft

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions

/** The reference implementation's own test fixtures — the only evidence
  * that graft reads the reference's bytes. The root is the
  * `GRAFT_REFERENCE_TESTDATA` environment variable, by default
  * `../reference/testdata` (a reference checkout beside this one).
  */
object ReferenceFixtures {
  val root: String = sys.env.getOrElse("GRAFT_REFERENCE_TESTDATA", "../reference/testdata")

  /** `rel` under the root. The calling test is CANCELED when the root
    * directory is absent; a root that is present but wrong or partial
    * fails the test on its first read.
    */
  def apply(rel: String): String = {
    Assertions.assume(Files.isDirectory(Paths.get(root)), s"reference fixtures absent: $root")
    s"$root/$rel"
  }
}
