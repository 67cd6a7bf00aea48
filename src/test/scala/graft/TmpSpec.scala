package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tmp's scratch dirs are removed with their contents: by withDir after
  * its body, and by the exit hook for every dir still live. */
class TmpSpec extends AnyFunSuite {

  private def populate(d: java.io.File): Unit = {
    val sub = new java.io.File(d, "part/nested")
    assert(sub.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(sub, "f.txt").toPath, "x")
  }

  test("the exit hook's body removes a live dir with its contents") {
    val d = Tmp.dir("graft_tmp_spec").toFile
    try {
      assert(Tmp.live.contains(d), "dir() registers the dir for the exit hook")
      populate(d)
      Tmp.rmAll(java.util.Set.of(d))
      assert(!d.exists)
    } finally { Tmp.rm(d); Tmp.live.remove(d) }
  }

  test("withDir removes its dir and drops it from the live set") {
    var seen: java.io.File = null
    intercept[IllegalStateException] {
      Tmp.withDir("graft_tmp_spec") { p =>
        seen = new java.io.File(p); populate(seen)
        throw new IllegalStateException("body failed")
      }
    }
    assert(!seen.exists && !Tmp.live.contains(seen))
  }
}
