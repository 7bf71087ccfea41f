package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.sources.FsUtil

/** Shared local session for all specs (one JVM-wide session — ScalaTest
  * suites run sequentially in the forked test JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** A new, empty fixture directory named `<prefix><random>` in the temp
    * dir, deleted with its contents when the JVM exits (registered with
    * [[FsUtil.scratchDir]], so a test run leaves none behind). */
  def tempDir(prefix: String): String =
    FsUtil.scratchDir(Files.createTempDirectory(prefix).getFileName.toString)
}

object SparkTestBase {
  /** Specs call query helpers and SQL functions directly, not only
    * through `CatalogEntry.query`, so the native functions are
    * registered once here. */
  lazy val session: SparkSession = {
    val spark = Session.builder(2).appName("graft-test").getOrCreate()
    GraftFunctions.register(spark)
    spark
  }
}
