package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session keeps the
  * suite fast (Spark startup dominates otherwise). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** The product's session (`Sessions.build`) at 4 cores, so every spec
    * runs under the configuration the mains use. */
  lazy val session: SparkSession = Sessions.build("4")
}
