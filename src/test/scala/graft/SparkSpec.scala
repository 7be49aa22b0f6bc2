package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session keeps the
  * suite fast (Spark startup dominates otherwise). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` on a new dir under `java.io.tmpdir` whose name starts
    * with `prefix`, and deletes the dir once `body` returns or throws. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally Fs.deleteRecursively(dir)
  }
}

object SparkSpec {
  /** The product's session (`Sessions.build`) at 4 cores, so every spec
    * runs under the configuration the mains use. */
  lazy val session: SparkSession = Sessions.build("4")
}
