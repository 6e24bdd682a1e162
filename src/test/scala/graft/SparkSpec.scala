package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per JVM (Test/fork),
  * small core count so suites run fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep session for other suites
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4, 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
