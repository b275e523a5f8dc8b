package graftbench

import java.io.{File, FileWriter}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.{Bronze, Generator, Gold, PipelineConfig, Schemas, Silver}

/** Single-threaded seeded event generator in the reference NDJSON layout
  * (`streams/bridge_<sensor>/date=YYYY-MM-DD/events_*.json`). Each call to
  * [[emit]] covers the next `seconds` of simulated time and lands one file
  * per sensor. It plants events at fixed shares and counts what it planted:
  *  - 1% with an unparseable `event_time` and 1% with a null `value`
  *    (bronze quarantine);
  *  - 2% outside the sensor's silver range (silver quarantine);
  *  - 5% late by 70–110 s: past the end of their 1-minute window but
  *    inside the 2-minute watermark, so gold must still count them.
  * Other events lag their ingest time by 0–60 s, as in the reference. */
final class StreamGen(landingRoot: String, seed: Long, rate: Int) {
  private val rng = new java.util.Random(seed)
  private val base = Instant.parse("2024-03-01T00:00:00Z")
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  private val day = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private var sim = 0L
  private var files = 0

  var events = 0L
  var badTime = 0L
  var nullValue = 0L
  var late = 0L
  val outOfRange: mutable.Map[String, Long] = mutable.Map(Schemas.sensors.map(_ -> 0L): _*)

  private def inRange(sensor: String): Double = sensor match {
    case "temperature" => 5.0 + rng.nextDouble() * 35.0
    case "vibration" => rng.nextDouble() * 10.0
    case _ => rng.nextDouble() * 30.0
  }

  private def outside(sensor: String): Double = sensor match {
    case "temperature" => 81.0 + rng.nextDouble() * 20.0
    case "vibration" => -1.0 - rng.nextDouble() * 5.0
    case _ => 91.0 + rng.nextDouble() * 30.0
  }

  /** Land the next `seconds` of traffic; returns the events written. */
  def emit(seconds: Int): Int = {
    val buffers = Schemas.sensors.map(_ -> new StringBuilder).toMap
    var n = 0
    for (_ <- 0 until seconds) {
      val ingest = base.plusSeconds(sim)
      for (_ <- 0 until rate) {
        val sensor = Schemas.sensors(rng.nextInt(Schemas.sensors.size))
        val bridge = Generator.bridges(rng.nextInt(Generator.bridges.size))
        val u = rng.nextDouble()
        val lagMs = if (u >= 0.04 && u < 0.09) 70000L + rng.nextInt(40000) else rng.nextInt(60000).toLong
        val eventTime = if (u < 0.01) "not-a-time" else iso.format(ingest.minusMillis(lagMs))
        val value =
          if (u >= 0.01 && u < 0.02) "null"
          else "%.3f".formatLocal(Locale.US, if (u >= 0.02 && u < 0.04) outside(sensor) else inRange(sensor))
        if (u < 0.01) badTime += 1
        else if (u < 0.02) nullValue += 1
        else if (u < 0.04) outOfRange(sensor) += 1
        else if (u < 0.09) late += 1
        buffers(sensor).append(
          s"""{"event_time": "$eventTime", "bridge_id": $bridge, "sensor_type": "$sensor", """ +
            s""""value": $value, "ingest_time": "${iso.format(ingest)}"}""").append('\n')
        n += 1
      }
      sim += 1
    }
    val date = day.format(base.plusSeconds(sim))
    buffers.foreach { case (sensor, sb) =>
      if (sb.nonEmpty) {
        val dir = new File(s"$landingRoot/bridge_$sensor/date=$date")
        dir.mkdirs()
        // written under a hidden name, then renamed: a file source never
        // lists a half-written file
        val tmp = new File(dir, f".events_${seed}_$files%05d.json")
        val w = new FileWriter(tmp)
        try w.write(sb.toString) finally w.close()
        require(tmp.renameTo(new File(dir, f"events_${seed}_$files%05d.json")), s"rename failed in $dir")
      }
    }
    files += 1
    events += n
    n
  }

  def planted: Json.Obj = Json.Obj("events" -> events, "bad_time" -> badTime,
    "null_value" -> nullValue, "late" -> late, "out_of_range" -> outOfRange.toMap)
}

/** The medallion workload. A drain runs every tier of the Bronze → Silver
  * → Gold DAG to completion, tier by tier, as `Pipelines.drainOnce` does:
  * each tier's queries start on an available-now trigger and are awaited
  * before the next tier starts. A seeded backlog is drained first, then a
  * closed loop of one-flush increments: each lands, then is drained before
  * the next lands. A drain's wall time after its files landed is the event
  * → gold latency of the increment. */
final class Medallion(work: String, seed: Long, rate: Int, backlogSeconds: Int,
                      incrementSeconds: Int) {

  private var cfg: PipelineConfig = _
  private var gen: StreamGen = _

  /** Gold's latest event-time watermark: windows ending at or before it
    * are final and must match the recomputation. */
  private var watermarkMs = Long.MinValue

  /** One drain, with the session settings `Pipelines.drainOnce` applies;
    * with a trace, spans drain → tier → start. */
  private def drain(spark: SparkSession, tr: Option[Trace], parent: Long): Double = {
    val t0 = System.nanoTime()
    cfg.applySessionConf(spark)
    def tiers(traceId: Long, drainSpan: Long): Unit = {
      def tier(name: String)(start: => Seq[StreamingQuery]): Seq[StreamingQuery] = {
        def run(record: (Long, Long) => Unit): Seq[StreamingQuery] = {
          val s0 = Clock.us
          val qs = start
          record(s0, Clock.us)
          qs.foreach(_.awaitTermination())
          qs
        }
        tr match {
          case Some(t) => t.span(spark, s"tier:$name", drainSpan, traceId) { id =>
            run((s0, s1) => t.record("start", id, traceId, s0, s1))
          }
          case None => run((_, _) => ())
        }
      }
      tier("bronze")(Bronze.startAll(spark, cfg))
      tier("silver")(Silver.startAll(spark, cfg))
      val gold = tier("gold")(Seq(Gold.start(spark, cfg))).head
      gold.recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
        .foreach(w => watermarkMs = watermarkMs max Instant.parse(w).toEpochMilli)
    }
    tr match {
      case Some(t) =>
        val traceId = t.newTrace()
        t.span(spark, "drain", parent, traceId)(id => tiers(traceId, id))
      case None => tiers(0L, 0L)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Set-up: a fresh DAG root, drained once while still empty, which
    * creates every sink and checkpoint. */
  def setup(spark: SparkSession): Unit = {
    val root = s"$work/dag"
    cfg = PipelineConfig.under(root, s"$root/bridges.csv")
    Generator.writeBridgesCsv(cfg.bridgesCsv)
    gen = new StreamGen(cfg.landingRoot, seed, rate)
    drain(spark, None, 0L)
  }

  /** Untimed warm-up: one increment through the DAG the timed phases use. */
  def warm(spark: SparkSession): Unit = {
    gen.emit(incrementSeconds)
    drain(spark, None, 0L)
  }

  /** One timed phase: the backlog, then `increments` increments. Phases of
    * one run continue the same DAG and the same generator. */
  def timed(spark: SparkSession, increments: Int, tr: Option[Trace], runSpan: Long): Json.Obj = {
    val gc0 = Jvm.gcMs
    var failed = 0
    var attempts = 0
    def attempt(sec: Int): Option[(Int, Double)] = {
      attempts += 1
      val n = gen.emit(sec)
      try Some((n, drain(spark, tr, runSpan))) catch {
        case e: Throwable => System.err.println(s"[perfbench] drain failed: $e"); failed += 1; None
      }
    }
    val backlog = attempt(backlogSeconds)
    val lags = mutable.ArrayBuffer.empty[Double]
    while (failed == 0 && attempts <= increments) attempt(incrementSeconds).foreach(lags += _._2)
    val gcS = (Jvm.gcMs - gc0) / 1000.0
    Json.Obj("attempted" -> attempts, "failed" -> failed,
      "backlog_events" -> backlog.map(_._1).getOrElse(0), "backlog_s" -> backlog.map(_._2),
      "increments" -> lags.map(l => Json.Obj("lag_s" -> l)).toSeq,
      "gc_s" -> gcS, "heap_mb" -> Jvm.retainedHeapMb())
  }

  /** Untimed output check inputs: what was planted and what every tier
    * holds; gold is copied out for the DuckDB recomputation. */
  def check(spark: SparkSession, out: String): Json.Obj = {
    def read(path: String, schema: org.apache.spark.sql.types.StructType) =
      if (new File(path).exists()) spark.read.schema(schema).parquet(path)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val bronze = Schemas.sensors.map(s => read(cfg.bronzeDir(s), Schemas.bronze).count()).sum
    val rejected = Schemas.sensors.map(s => read(cfg.bronzeRejectedDir(s), Schemas.bronze))
      .reduce(_ unionByName _).cache()
    val badTime = rejected.where(col("event_time_ts").isNull).count()
    val nullValue = rejected.where(col("event_time_ts").isNotNull && col("value").isNull).count()
    val bronzeQuarantine = rejected.count()
    rejected.unpersist()
    val silverQuarantine = Schemas.sensors.map(s =>
      s -> read(cfg.silverRejectedDir(s), Schemas.bronze).count()).toMap
    read(cfg.goldDir, Schemas.gold).coalesce(1).write.mode("overwrite").parquet(s"$out/gold")
    Json.Obj("planted" -> gen.planted, "landing" -> cfg.landingRoot, "bronze_rows" -> bronze,
      "bronze_quarantine" -> bronzeQuarantine, "quarantine_bad_time" -> badTime,
      "quarantine_null_value" -> nullValue, "silver_quarantine" -> silverQuarantine,
      "gold_dir" -> s"$out/gold", "gold_watermark_us" -> watermarkMs * 1000L)
  }
}
