package graft

import graft.sources.Staging
import graft.util.Fs

/** Per-run scratch dirs ([[Fs.scratch]]) are registered for deletion
  * at JVM exit; staged stores, which must outlive the JVM, are not. */
class ScratchSpec extends SparkSpec {

  test("a scratch dir is registered for exit cleanup, a staged root is not") {
    val dir = Fs.scratch("scratchspec")
    assert(new java.io.File(dir).isDirectory)
    assert(new java.io.File(dir).getName.startsWith("graft_scratchspec"))
    assert(Fs.registered.contains(dir))
    val staged = Staging.stagedDir("graft_scratchspec_staged", sfDir, "v1", "events") { out =>
      new java.io.File(out).mkdirs(); ()
    }
    try assert(!Fs.registered.contains(staged))
    finally Staging.deleteRecursively(new java.io.File(staged))
  }
}
