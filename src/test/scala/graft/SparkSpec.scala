package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one session per
  * test JVM; sbt forks a single JVM for the whole test run). The heap
  * confs the shared JVM needs live in [[Engine.Profile.Test]]; the session
  * is built when a suite is constructed, so it is the first one in the
  * JVM and its static confs take effect. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val spark: SparkSession =
    Engine.session("local[4]", shufflePartitions = 4, profile = Engine.Profile.Test)

  lazy val sf0001: Tables = Tables(spark, "/root/testdata/sf0.001")
}
