package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory's policy, checked on the shared test session (a
  * factory session with cpus = 4), and the guard that keeps it the only
  * place session policy is decided. */
class GraftSessionSpec extends SparkSuite {

  test("factory session: local[cpus], shuffle partitions = cpus, UTC, UI off") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    // drift the runtime settings, then let the factory hand the session
    // back: it must re-apply its policy, not just inherit the JVM's
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val s = GraftSession.local("graft-test", cpus = 4)
      assert(s eq spark)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  test("extra conf pairs are applied") {
    val key = "spark.graft.test.marker"
    val s = GraftSession.local("graft-test", 4, key -> "on")
    try {
      assert(s.conf.get(key) == "on")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    } finally s.conf.unset(key)
  }

  test("src/main builds sessions and reads SPARK_GRAFT_CPUS only in GraftSession") {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val sources: Seq[Path] = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftSession.scala").toSeq
    assert(sources.size > 100)
    for (token <- Seq("SparkSession.builder", "SPARK_GRAFT_CPUS")) {
      val offenders = sources.filter(p => Files.readString(p).contains(token))
      assert(offenders.isEmpty, s"$token outside GraftSession: ${offenders.mkString(", ")}")
    }
  }
}
