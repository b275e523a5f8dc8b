package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its Spark session, so session
  * policy cannot drift between mains: `local[cpus]` with one shuffle
  * partition per core, UTC session time zone (every checked result and
  * oracle compare assumes it), no web UI, WARN logging. Settings only one
  * entry point needs are passed as extra `conf` pairs and applied last,
  * so they may also override a default. */
object GraftSession {

  /** Cores for local mode: `SPARK_GRAFT_CPUS` when set, else the host's
    * available processors. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(appName: String, conf: (String, String)*): SparkSession =
    local(appName, defaultCpus, conf: _*)

  def local(appName: String, cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
