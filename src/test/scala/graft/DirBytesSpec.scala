package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** SessionTuning.dirBytes: the input-size measure behind the initial
  * shuffle width and the benchmark's storage accounting, read through the
  * path's Hadoop FileSystem. */
class DirBytesSpec extends AnyFunSuite {

  private def write(p: Path, n: Int): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](n)(1))
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p))
      Files.list(p).toArray.foreach(c => deleteTree(c.asInstanceOf[Path]))
    Files.deleteIfExists(p)
  }

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("dirbytes")
    try body(dir) finally deleteTree(dir)
  }

  test("a symlink cycle under the directory gives a finite size") {
    withTempDir { dir =>
      write(dir.resolve("a/data.bin"), 100)
      Files.createSymbolicLink(dir.resolve("a/loop"), dir)
      Files.createSymbolicLink(dir.resolve("self"), dir.resolve("a"))
      assert(SessionTuning.dirBytes(dir.toString) == 100L)
    }
  }

  test("a missing path is 0") {
    withTempDir { dir =>
      assert(SessionTuning.dirBytes(dir.resolve("absent").toString) == 0L)
    }
  }

  test("without symlinks it equals the java.io walk, .crc files included") {
    def javaIoWalk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(javaIoWalk).sum).getOrElse(0L)
    withTempDir { dir =>
      write(dir.resolve("t/part-0.parquet"), 1234)
      write(dir.resolve("t/.part-0.parquet.crc"), 20)
      write(dir.resolve("t/nested/deeper/x"), 7)
      write(dir.resolve("top"), 3)
      Files.createDirectories(dir.resolve("empty"))
      // and a tree Spark itself wrote, with its own .crc sidecars
      TestSpark.spark.range(100).write.parquet(dir.resolve("spark").toString)
      assert(Files.list(dir.resolve("spark")).toArray.exists(
        _.toString.endsWith(".crc")))
      val expected = javaIoWalk(dir.toFile)
      assert(expected > 1264L)
      assert(SessionTuning.dirBytes(dir.toString) == expected)
      assert(SessionTuning.dirBytes(TestSpark.sfDir) ==
        javaIoWalk(new java.io.File(TestSpark.sfDir)))
    }
  }
}
