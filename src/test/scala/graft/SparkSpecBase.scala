package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — sbt forks a
  * single test JVM, so suites reuse it and total runtime stays bounded). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSessions.local("4", Map(
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse",
    "spark.app.name" -> "graft-tests"))
}
