package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  // One session per JVM (Test / fork := true gives the suite its own JVM),
  // built through GraftSession so test posture can't drift from the
  // Verify/Bench mains' (UTC, partitions, codegen cache, function
  // registration). The codegen cache size is a static conf, so this must
  // stay the first session the test JVM builds.
  lazy val session: SparkSession = graft.GraftSession.build(
    "graft-test", "local[8]", 8,
    Map("spark.sql.adaptive.enabled" -> "true"))
}
