package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the test run fast; Test/fork=true isolates it from sbt). Built by the
  * same factory as the mains, so tests plan with graft's functions and
  * exact join rules installed.
  */
object SharedSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local(4,
    warehouseDir = Some(java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.spark
  override protected def afterAll(): Unit = { /* keep session for other suites */ }
}
