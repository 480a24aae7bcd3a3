package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the mains' engine session
  * ([[EngineConf.local]]) at 4 cores and 8 shuffle partitions, AQE on. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = EngineConf.local(4, 8)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
