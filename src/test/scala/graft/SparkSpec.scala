package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession(4)

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (Test/fork := true gives one
    // JVM per test run); don't stop it per-suite.
    super.afterAll()
  }

  val sf0001 = "/root/testdata/sf0.001"
}
