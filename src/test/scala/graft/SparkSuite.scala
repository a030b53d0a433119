package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test`
  * fork; building a session per suite would dominate test time).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  /** Smallest driver-generated dataset — correctness fixtures. */
  val sf: String = "/root/testdata/sf0.001"
  /** A fresh temporary directory, deleted when the JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = TempDirs.create(prefix)
}

object SparkSuite {
  lazy val session: SparkSession = LocalSession("4")
}
