package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites in the forked test JVM. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test", cpus = 4)

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}
