package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = {
    // 4 cores = 4 shuffle partitions; the profile's spark.sql.extensions is
    // exercised by OperatorsSpec's extension-injection test via newSession()
    val s = Sessions.local(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
