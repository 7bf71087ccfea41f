package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — ScalaTest
  * suites run sequentially in the forked test JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession =
    Session.builder(2).appName("graft-test").getOrCreate()
}
