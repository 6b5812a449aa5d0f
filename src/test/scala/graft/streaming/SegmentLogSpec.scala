package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[SegmentLog]]'s applied-batch log under a torn append: a crash
  * inside `commit`'s append leaves a final line with no `\n`. */
class SegmentLogSpec extends AnyFunSuite {

  test("a torn final line records nothing and is cut before the next commit") {
    val root = Files.createTempDirectory("seglog")
    root.toFile.deleteOnExit()
    val log = root.resolve("_applied")
    // batch 0 committed; batch 12's append was cut after its "1"
    Files.write(log, "0\n1".getBytes(StandardCharsets.UTF_8))
    assert(SegmentLog.applied(root.toString, "_applied") == Set(0L))
    var ran = Vector.empty[Long]
    assert(SegmentLog.commit(root.toString, "_applied", 12L)(_ => ran :+= 12L))
    // 112 is a new batch, not a replay of a misread "1" + "12"
    assert(SegmentLog.commit(root.toString, "_applied", 112L)(_ => ran :+= 112L))
    assert(ran == Vector(12L, 112L))
    assert(SegmentLog.applied(root.toString, "_applied") == Set(0L, 12L, 112L))
    assert(new String(Files.readAllBytes(log), StandardCharsets.UTF_8) == "0\n12\n112\n")
    assert(!SegmentLog.commit(root.toString, "_applied", 12L)(_ => fail("replayed")))
  }
}
