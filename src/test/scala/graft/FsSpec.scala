package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

/** [[Fs.derived]]: a copy is reused while its inputs are unchanged, rebuilt
  * when they change, and only ever visible once complete. */
class FsSpec extends SparkSpec {

  /** A temp source dir holding one file of `bytes` bytes. */
  private def source(bytes: Int): java.io.File = {
    val dir = Files.createTempDirectory("fs-derived").toFile
    rewrite(dir, bytes)
    dir
  }

  private def rewrite(dir: java.io.File, bytes: Int): Unit =
    Files.write(new java.io.File(dir, "part.bin").toPath, Array.fill[Byte](bytes)(1))

  /** Runs `body` over a fresh source, then drops the source and its copies. */
  private def withSource(bytes: Int)(body: java.io.File => Unit): Unit = {
    val src = source(bytes)
    try body(src)
    finally { Fs.dropDerived(spark, Seq(src.getPath)); Fs.deleteRecursively(src) }
  }

  private def exists(p: Path): Boolean = Fs.of(spark, p).exists(p)

  /** The live dirs of `live`'s key: its name up to the fingerprint. */
  private def dirsOfKey(live: Path): Seq[String] = {
    val key = live.getName.substring(0, live.getName.lastIndexOf('.') + 1)
    Fs.of(spark, live).listStatus(live.getParent).map(_.getPath.getName).filter(_.startsWith(key)).toSeq
  }

  test("a second call with unchanged inputs does not run write") {
    withSource(10) { src =>
      var calls = 0
      def copy(): Path = Fs.derived(spark, "fsspec_reuse", Seq(src.getPath)) { stage =>
        calls += 1
        spark.range(3).write.parquet(stage.toString)
      }
      val first = copy()
      assert(copy() == first)
      assert(calls == 1)
      assert(spark.read.parquet(first.toString).count() == 3)
    }
  }

  test("a regenerated input gets a new dir, and the old fingerprint's dir is gone") {
    withSource(10) { src =>
      var calls = 0
      def copy(): Path = Fs.derived(spark, "fsspec_regen", Seq(src.getPath)) { stage =>
        calls += 1
        spark.range(calls).write.parquet(stage.toString)
      }
      val before = copy()
      rewrite(src, 20)
      val after = copy()
      assert(after != before && calls == 2)
      assert(!exists(before) && exists(after))
      assert(dirsOfKey(after) == Seq(after.getName))
      assert(spark.read.parquet(after.toString).count() == 2)
    }
  }

  test("a write that throws leaves no live dir and no stage") {
    withSource(10) { src =>
      var stage: Path = null
      val e = intercept[IllegalStateException] {
        Fs.derived(spark, "fsspec_throw", Seq(src.getPath)) { s =>
          stage = s
          spark.range(3).write.parquet(s.toString)
          throw new IllegalStateException("write failed")
        }
      }
      assert(e.getMessage == "write failed")
      assert(!exists(stage))
      val root = stage.getParent.getParent
      assert(!Fs.of(spark, root).listStatus(root).exists(_.getPath.getName.startsWith("fsspec_throw.")))
    }
  }

  test("a file: URI input gives the same dir as the plain path") {
    withSource(10) { src =>
      var calls = 0
      def copy(in: String): Path = Fs.derived(spark, "fsspec_uri", Seq(in)) { stage =>
        calls += 1
        spark.range(1).write.parquet(stage.toString)
      }
      assert(copy(src.getPath) == copy(src.toURI.toString))
      assert(calls == 1)
    }
  }
}
