package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

class LocalFsSpec extends SparkSpec {
  /** A fresh, uncached `file:` filesystem (a `LocalFs`) over a copy of
    * the session's Hadoop conf with `overrides`, and a temp dir; both
    * closed after. */
  private def withFs[T](overrides: (String, String)*)(body: (FileSystem, Path) => T): T = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    overrides.foreach { case (k, v) => conf.set(k, v) }
    val dir = Files.createTempDirectory("localfs").toFile
    val fs = FileSystem.newInstance(dir.toURI, conf)
    try { assert(fs.isInstanceOf[LocalFs]); body(fs, new Path(dir.toURI)) }
    finally { fs.close(); Fs.deleteRecursively(dir) }
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** `p`'s permission bits, sticky, setuid and setgid included, read
    * without Hadoop. */
  private def mode(p: Path): Int =
    Files.getAttribute(new File(p.toUri).toPath, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Writes `dir/a/b/part`, returning the dirs and files it created. */
  private def writeTree(fs: FileSystem, dir: Path): (Seq[Path], Seq[Path]) = {
    val part = new Path(dir, "a/b/part")
    val out = fs.create(part)
    try out.write("some bytes".getBytes("UTF-8")) finally out.close()
    (Seq(new Path(dir, "a"), new Path(dir, "a/b")), Seq(part, new Path(dir, "a/b/.part.crc")))
  }

  test("the session's file: scheme is graft.LocalFs") {
    assert(Fs.of(spark, new Path("file:///")).isInstanceOf[LocalFs])
  }

  test("created dirs and files get Hadoop's modes under the default and a set umask") {
    withFs() { (fs, dir) =>
      val (dirs, files) = writeTree(fs, dir)
      assert(files.forall(f => new File(f.toUri).isFile), "no .crc sidecar")
      assert(dirs.map(mode) == Seq(octal("755"), octal("755")))
      assert(files.map(mode) == Seq(octal("644"), octal("644")))
    }
    withFs("fs.permissions.umask-mode" -> "077") { (fs, dir) =>
      val (dirs, files) = writeTree(fs, dir)
      assert(dirs.map(mode) == Seq(octal("700"), octal("700")))
      assert(files.map(mode) == Seq(octal("600"), octal("600")))
    }
  }

  test("a flipped byte in a data file fails the read against its .crc") {
    withFs() { (fs, dir) =>
      val (_, Seq(part, _)) = writeTree(fs, dir)
      val raf = new RandomAccessFile(new File(part.toUri), "rw")
      try { raf.seek(3); val b = raf.read(); raf.seek(3); raf.write(b ^ 0xff) } finally raf.close()
      val in = fs.open(part)
      try intercept[ChecksumException](in.readFully(new Array[Byte](10)))
      finally in.close()
    }
  }

  test("a sticky-bit mode is set and cleared") {
    withFs() { (fs, dir) =>
      val d = new Path(dir, "sticky")
      assert(fs.mkdirs(d))
      fs.setPermission(d, new FsPermission(octal("1750").toShort))
      assert(mode(d) == octal("1750"))
      fs.setPermission(d, new FsPermission(octal("750").toShort))
      assert(mode(d) == octal("750"))
    }
  }

  test("dirs made under a setgid dir keep its setgid bit, as under the forked chmod 0755") {
    withFs() { (fs, dir) =>
      val shared = new Path(dir, "shared")
      assert(fs.mkdirs(shared))
      Files.setAttribute(new File(shared.toUri).toPath, "unix:mode", Int.box(octal("2775")))
      val (dirs, files) = writeTree(fs, shared)
      assert(dirs.map(mode) == Seq(octal("2755"), octal("2755")))
      assert(files.map(mode) == Seq(octal("644"), octal("644")))
      fs.setPermission(shared, new FsPermission(octal("750").toShort))
      assert(mode(shared) == octal("2750"))
    }
  }
}
