package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The scratch directories of the file-writing catalog entries: under
  * `java.io.tmpdir`, under the name the caller gives, and deleted when
  * the JVM exits. */
class FsUtilSpec extends AnyFunSuite {

  test("scratchDir: <java.io.tmpdir>/<name>, registered for deletion at JVM exit") {
    val tmp = System.getProperty("java.io.tmpdir")
    val dir = FsUtil.scratchDir("graft_fsutil_spec")
    assert(dir == s"$tmp/graft_fsutil_spec")
    assert(FsUtil.deletedAtExit(dir))
    assert(FsUtil.scratchDir("graft_fsutil_spec") == dir)
    assert(!FsUtil.deletedAtExit(s"$tmp/graft_fsutil_spec_never_asked"))
  }
}
