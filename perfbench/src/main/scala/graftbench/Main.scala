package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.queries.Stores

/** One benchmark run in one JVM. `perfbench/run.py` builds the classpath,
  * prepares the corpus and launches this with `--key value` options:
  *
  *   --kind batch|stream --data DIR --out DIR --seed N --units N
  *   --trace 0|1 --cpus N
  *   batch:  --queries Q1,Q2,.. --stores K1,K2,.. [--kernel-data DIR]
  *   stream: --rate EV_PER_S --backlog SIM_S --increment SIM_S
  *
  * A timed phase runs `units` passes (batch) or the backlog and `units`
  * increments (stream).
  *
  * It writes `<out>/result.json` with raw samples and, when tracing, the
  * raw spans and listener records; `metrics.py` reduces them. */
object Main {

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum else f.length()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String): Seq[String] = opt.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val out = opt("out")
    val data = opt("data")
    val seed = opt("seed").toLong
    val units = opt("units").toInt
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val isBatch = opt("kind") == "batch"
    new File(out).mkdirs()

    val batch =
      if (isBatch) Some(new Batch(data, list("queries"), list("stores"), opt.get("kernel-data")))
      else None
    val stream =
      if (isBatch) None
      else Some(new Medallion(s"$out/stream", seed, opt("rate").toInt, opt("backlog").toInt,
        opt("increment").toInt))

    // set-up, once, timed from process start: start the session, then
    // derive every store from an empty root (batch) or drain a fresh,
    // empty DAG (stream)
    val spark = session(cpus)
    val stores = batch.map(_.deriveStores(spark)).getOrElse(Nil)
    stream.foreach(_.setup(spark))
    val setupS = (Clock.us - Jvm.startUs) / 1e6
    val storeBytes = Option(new File(Stores.root).listFiles()).toSeq.flatten
      .map(f => f.getName.takeWhile(_ != '-') -> treeBytes(f)).toMap

    val walls = scala.collection.mutable.LinkedHashMap("setup" -> setupS)
    def wall[T](name: String)(body: => T): T = {
      val t0 = Clock.us
      try body finally walls(name) = (Clock.us - t0) / 1e6
    }

    // untimed warm-up; for batch workloads its first pass is the check pass
    val checkFailed = wall("warm")(batch.map { b =>
      val failed = b.checkPass(spark, s"$out/check")
      b.warmPass(spark)
      failed
    }.getOrElse { stream.foreach(_.warm(spark)); Nil })

    def phase(tr: Option[Trace], runSpan: Long): Json.Obj =
      batch.map(_.timed(spark, seed, units, tr, runSpan))
        .getOrElse(stream.get.timed(spark, units, tr, runSpan))

    val untraced = wall("untraced")(phase(None, 0L))
    val tracedPhase = if (!traced) None else wall("traced") { Some {
      val tr = new Trace
      tr.attach(spark)
      val runTrace = tr.newTrace()
      val ph = tr.span(spark, "run", 0L, runTrace)(id => phase(Some(tr), id))
      tr.detach(spark)
      val extras = batch.map { b =>
        Json.Obj("stores_load_s" -> b.loadStores(spark), "kernels" -> b.kernelTimes(spark).toMap)
      }
      (ph, tr.toJson, extras)
    } }
    val streamCheck = wall("stream_check")(stream.map(_.check(spark, s"$out/stream_check")))
    val storeDirs = Option(new File(Stores.root).listFiles()).map(_.length).getOrElse(0)

    Json.write(s"$out/result.json", Json.Obj(
      "names" -> batch.map(_.names).getOrElse(Nil),
      "cpus" -> cpus,
      "walls" -> walls,
      "setup_s" -> setupS,
      "store_derive_s" -> stores.toMap,
      "store_bytes" -> storeBytes,
      "store_dirs" -> storeDirs,
      "check_failed" -> checkFailed,
      "untraced" -> untraced,
      "traced" -> tracedPhase.map(_._1),
      "trace" -> tracedPhase.map(_._2),
      "extras" -> tracedPhase.flatMap(_._3),
      "stream_check" -> streamCheck))
    spark.stop()
  }
}
