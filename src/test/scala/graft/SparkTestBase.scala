package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  // One session across all suites — sbt forks a single test JVM. The
  // factory installs GraftExtensions; GraftExtensionsSpec asserts the
  // custom expressions resolve from plain SQL text.
  lazy val session: SparkSession = GraftSession.build("local[4]", 4, GraftSession.toolConf)
}
