package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

/** The scratch directories of the file-writing catalog entries and of
  * the specs' fixtures: under `java.io.tmpdir`, and deleted when the JVM
  * exits. */
class FsUtilSpec extends SparkTestBase {

  test("scratchDir: <java.io.tmpdir>/<name>, registered for deletion at JVM exit") {
    val tmp = System.getProperty("java.io.tmpdir")
    val dir = FsUtil.scratchDir("graft_fsutil_spec")
    assert(dir == s"$tmp/graft_fsutil_spec")
    assert(FsUtil.deletedAtExit(dir))
    assert(FsUtil.scratchDir("graft_fsutil_spec") == dir)
    assert(!FsUtil.deletedAtExit(s"$tmp/graft_fsutil_spec_never_asked"))
  }

  test("tempDir: a new empty directory per call, registered for deletion at JVM exit") {
    val (a, b) = (tempDir("graft_fsutil_fixture"), tempDir("graft_fsutil_fixture"))
    assert(a != b)
    Seq(a, b).foreach { d =>
      val p = Paths.get(d)
      assert(Files.isDirectory(p) && Files.list(p).count() == 0, d)
      assert(p.getParent == Paths.get(System.getProperty("java.io.tmpdir")), d)
      assert(p.getFileName.toString.startsWith("graft_fsutil_fixture"), d)
      assert(FsUtil.deletedAtExit(d), d)
    }
  }
}
