package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite; cheap at sf0.001). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession(getClass.getSimpleName, "4")

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // keep the session alive across suites in the same JVM (getOrCreate
    // returns the shared one); SBT forks one JVM for all tests.
    super.afterAll()
  }
}
