package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Runs `body` on a fresh temp dir named by `prefix`, then deletes
    * the dir recursively, whether `body` passed or failed. */
  def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  def assertNear(actual: Double, expected: Double, tol: Double = 1e-6): Unit = {
    if (expected.isNaN) assert(actual.isNaN, s"expected NaN, got $actual")
    else assert(math.abs(actual - expected) <= tol, s"expected $expected, got $actual")
  }
}
