package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the test run fast; Test/fork=true isolates it from sbt). Built by the
  * same factory as the mains, so tests plan with graft's functions and
  * exact join rules installed. Its warehouse directory is deleted when
  * the test JVM exits.
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse.toFile))
    graft.core.Sessions.local(4, warehouseDir = Some(warehouse.toString))
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.spark

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A new temp directory named `<prefix>…`, deleted recursively when
    * this suite ends.
    */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }

  // The session stays up for the other suites; only this suite's
  // temp directories go.
  override protected def afterAll(): Unit =
    tempDirs.forEach(d => FileUtils.deleteDirectory(d.toFile))
}
