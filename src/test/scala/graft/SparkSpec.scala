package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The program's own session, on 4 cores: every suite in the test JVM
  * shares it.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def sf(name: String): String = s"/root/testdata/$name"
}
