package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: [[GraftSession.local]] on 4 cores,
  * so every spec runs with the engine installed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  def sf(name: String) = s"/root/testdata/$name"
}
