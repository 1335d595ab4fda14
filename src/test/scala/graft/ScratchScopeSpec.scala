package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The scratch helpers: [[Catalog.withConfs]] gives borrowed session
  * confs back, [[TempDirs.scoped]] deletes its dir when the call ends,
  * [[TempDirs.handOff]] deletes its dir only when the call throws,
  * and [[TempDirs.deleteNow]] takes a tree, a single file or nothing.
  */
class ScratchScopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A key no other suite sets, so "had no value" holds at the start. */
  private def freshKey(name: String): String =
    s"graft.test.scratch.$name.${java.util.UUID.randomUUID()}"

  test("withConfs restores a key that was set and unsets a key that was not") {
    val (set, unset) = (freshKey("set"), freshKey("unset"))
    spark.conf.set(set, "before")
    val r = Catalog.withConfs(spark, set -> "during", unset -> "during") {
      assert(spark.conf.get(set) === "during")
      assert(spark.conf.get(unset) === "during")
      42
    }
    assert(r === 42)
    assert(spark.conf.get(set) === "before")
    assert(spark.conf.getOption(unset) === None)
  }

  test("withConfs restores when the body throws") {
    val (set, unset) = (freshKey("set"), freshKey("unset"))
    spark.conf.set(set, "before")
    intercept[IllegalStateException] {
      Catalog.withConfs(spark, set -> "during", unset -> "during") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(set) === "before")
    assert(spark.conf.getOption(unset) === None)
  }

  test("withConfs nests: each scope gives back what it borrowed") {
    val k = freshKey("nested")
    Catalog.withConfs(spark, k -> "outer") {
      Catalog.withConfs(spark, k -> "inner") {
        assert(spark.conf.get(k) === "inner")
      }
      assert(spark.conf.get(k) === "outer")
    }
    assert(spark.conf.getOption(k) === None)
  }

  private def fillTree(dir: Path): Unit = {
    Files.createDirectories(dir.resolve("a/b"))
    Files.write(dir.resolve("a/b/leaf.bin"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("top.txt"), "x".getBytes("UTF-8"))
  }

  test("TempDirs.scoped returns the body's value and deletes the tree") {
    var seen: Path = null
    val r = TempDirs.scoped("graft-scope-ok") { dir =>
      seen = dir
      fillTree(dir)
      "done"
    }
    assert(r === "done")
    assert(seen != null && !Files.exists(seen))
  }

  test("TempDirs.scoped deletes the tree when the body throws") {
    var seen: Path = null
    intercept[IllegalStateException] {
      TempDirs.scoped("graft-scope-throw") { dir =>
        seen = dir
        fillTree(dir)
        throw new IllegalStateException("body failed")
      }
    }
    assert(seen != null && !Files.exists(seen))
  }

  test("TempDirs.handOff keeps the tree it returns and deletes it when the body throws") {
    val kept = TempDirs.handOff("graft-handoff-ok") { dir => fillTree(dir); dir }
    try assert(Files.exists(kept.resolve("a/b/leaf.bin")))
    finally TempDirs.deleteNow(kept)
    var seen: Path = null
    intercept[IllegalStateException] {
      TempDirs.handOff("graft-handoff-throw") { dir =>
        seen = dir
        fillTree(dir)
        throw new IllegalStateException("body failed")
      }
    }
    assert(seen != null && !Files.exists(seen))
  }

  test("TempDirs.deleteNow deletes a regular file and ignores a missing path") {
    val f = Files.createTempFile("graft-delete-now", ".bin")
    Files.write(f, Array[Byte](7))
    TempDirs.deleteNow(f)
    assert(!Files.exists(f))
    TempDirs.deleteNow(f) // now missing: a no-op, not an error
    assert(!Files.exists(f))
  }
}
