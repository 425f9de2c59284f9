package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs (one JVM-wide session —
  * ScalaTest runs suites sequentially in the forked JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh directory for one test's files, under this test JVM's root. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(SparkSpec.tempRoot, prefix).toString
}

object SparkSpec {
  /** One temp root per test JVM, removed with everything under it at exit. */
  private lazy val tempRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_spec")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the jar's deployment path for the native expressions: pure config,
      // no programmatic registration (ExtensionsSpec asserts this is enough)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
