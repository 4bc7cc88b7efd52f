package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Scratch

/** The scratch owner's dir keys, dead-pid sweep and committed-output
  * listing. */
class ScratchSpec extends AnyFunSuite {
  test("two dataset paths that sanitize alike get two scratch dirs") {
    val a = Scratch.dir("csv", "/data/sf-0.01")
    val b = Scratch.dir("csv", "/data/sf_0.01")
    assert(a != b, s"both paths map to $a")
    assert(Scratch.dir("csv", "/data/sf-0.01") == a, "the dir is not fixed")
  }

  test("the sweep deletes a dead pid's root and keeps a live pid's root " +
       "and every other name") {
    val base = Scratch.fresh("sweep")
    val dead = {
      val p = new ProcessBuilder("true").start()
      p.waitFor()
      p.pid()
    }
    val live = ProcessHandle.current().pid()
    Seq(s"p$dead", s"p$live", "keep")
      .foreach(n => Files.createDirectories(base.resolve(n).resolve("x")))
    Scratch.sweep(base)
    assert(!Files.exists(base.resolve(s"p$dead")), "dead pid's root kept")
    assert(Files.exists(base.resolve(s"p$live").resolve("x")),
      "live pid's root swept")
    assert(Files.exists(base.resolve("keep").resolve("x")),
      "a non-pid name swept")
  }

  test("committed outputs list by numeric id, skip other names, and the " +
       "latest below an id bridges gaps") {
    val root = Scratch.fresh("committed")
    Seq("b0", "b2", "b10", "bx", "coord_b1.properties")
      .foreach(n => Files.createDirectories(root.resolve(n)))
    assert(Scratch.committed(root, "b").map(_.getFileName.toString) ==
      Seq("b0", "b2", "b10"))
    assert(Scratch.latest(root, "b", below = 10).map(_.getFileName.toString)
      .contains("b2"))
    assert(Scratch.latest(root, "b", below = 0).isEmpty)
    assert(Scratch.committed(root.resolve("absent"), "b").isEmpty)
  }
}
