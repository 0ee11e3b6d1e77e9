package graft

import org.scalatest.funsuite.AnyFunSuite

class TempTreesSpec extends AnyFunSuite {

  test("withTempDir deletes its tree when the body returns and when it " +
    "throws") {
    var kept: java.nio.file.Path = null
    val out = TempTrees.withTempDir("temptrees_ok") { root =>
      kept = root
      java.nio.file.Files.write(root.resolve("f"), Array[Byte](1))
      42
    }
    assert(out === 42)
    assert(!java.nio.file.Files.exists(kept), s"$kept left behind")

    val e = intercept[IllegalStateException] {
      TempTrees.withTempDir("temptrees_throw") { root =>
        kept = root
        java.nio.file.Files.createDirectories(root.resolve("state/part"))
        java.nio.file.Files.write(root.resolve("state/part/f"), Array[Byte](1))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(!java.nio.file.Files.exists(kept), s"$kept left behind")
  }
}
