package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotonic within the process, so
  * harness spans line up with the epoch-millisecond times Spark's
  * listener events carry. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** In-memory trace of one benchmark run: spans opened by the harness
  * around each call into a layer, plus the raw events of the listeners
  * registered on the session. Nothing is aggregated here — the raw
  * records are written out once at the end and reduced by `metrics.py`.
  *
  * Spans of one query or drain share a trace id. Jobs find their parent
  * span through the `graftbench.span` local property, which the harness
  * sets before each call (streaming threads inherit it at start). */
final class Trace {
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Json.Obj]
  private val jobs = mutable.ArrayBuffer.empty[Json.Obj]
  private val stages = mutable.ArrayBuffer.empty[Json.Obj]
  private val plans = mutable.ArrayBuffer.empty[Json.Obj]
  private val progress = mutable.ArrayBuffer.empty[Json.Obj]
  private val jobStart = mutable.Map.empty[Int, (Long, Long, Seq[Int])]
  private val stageTasks = mutable.Map.empty[Int, StageTasks]
  private val stageJob = mutable.Map.empty[Int, Int]

  val PropKey = "graftbench.span"

  /** Run `body` inside a span named `name`; jobs it submits attach to it. */
  def span[T](spark: SparkSession, name: String, parent: Long, trace: Long)(body: Long => T): T = {
    val id = ids.getAndIncrement()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, id.toString)
    val start = Clock.us
    try body(id)
    finally {
      val end = Clock.us
      sc.setLocalProperty(PropKey, prev)
      synchronized {
        spans += Json.Obj("id" -> id, "parent" -> parent, "trace" -> trace,
          "name" -> name, "start_us" -> start, "end_us" -> end)
      }
    }
  }

  /** A span whose interval the caller measured itself. */
  def record(name: String, parent: Long, trace: Long, start: Long, end: Long): Unit = synchronized {
    spans += Json.Obj("id" -> ids.getAndIncrement(), "parent" -> parent, "trace" -> trace,
      "name" -> name, "start_us" -> start, "end_us" -> end)
  }

  def newTrace(): Long = ids.getAndIncrement()

  private final class StageTasks {
    var tasks = 0L; var failed = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var inputBytes = 0L; var inputRecords = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(0L)
      jobStart(e.jobId) = (e.time * 1000L, parent, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (start, parent, stageIds) =>
        jobs += Json.Obj("id" -> e.jobId, "parent" -> parent, "start_us" -> start,
          "end_us" -> e.time * 1000L, "stages" -> stageIds,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val st = stageTasks.getOrElseUpdate(e.stageId, new StageTasks)
      st.tasks += 1
      if (!e.taskInfo.successful) st.failed += 1
      st.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.deserMs += m.executorDeserializeTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.inputRecords += m.inputMetrics.recordsRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      val st = stageTasks.remove(info.stageId).getOrElse(new StageTasks)
      stages += Json.Obj(
        "id" -> info.stageId, "job" -> stageJob.getOrElse(info.stageId, -1),
        "start_us" -> info.submissionTime.getOrElse(0L) * 1000L,
        "end_us" -> info.completionTime.getOrElse(0L) * 1000L,
        "tasks" -> st.tasks, "failed_tasks" -> st.failed,
        "run_ms" -> st.runMs, "cpu_ns" -> st.cpuNs, "gc_ms" -> st.gcMs,
        "deser_ms" -> st.deserMs, "shuffle_write" -> st.shuffleWrite,
        "shuffle_read" -> st.shuffleRead, "fetch_wait_ms" -> st.fetchWaitMs,
        "spill" -> st.spill, "input_bytes" -> st.inputBytes,
        "input_records" -> st.inputRecords, "task_ms" -> st.durations.toSeq)
    }
  }

  /** Exchanges and broadcasts in the final (post-AQE) physical plan,
    * subqueries included; reused exchanges are not counted. */
  private def exchanges(plan: SparkPlan): (Int, Int) = {
    var shuffles = 0; var broadcasts = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: ShuffleExchangeLike => shuffles += 1; s.children.foreach(walk)
        case b: BroadcastExchangeLike => broadcasts += 1; b.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (shuffles, broadcasts)
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def phase(qe: QueryExecution, name: String): Long =
      qe.tracker.phases.get(name).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    private def add(qe: QueryExecution, ok: Boolean): Unit = {
      val (sh, bc) = exchanges(qe.executedPlan)
      val at = qe.tracker.phases.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      Trace.this.synchronized {
        plans += Json.Obj("at_us" -> at * 1000L, "ok" -> ok,
          "analysis_ms" -> phase(qe, "analysis"), "optimization_ms" -> phase(qe, "optimization"),
          "planning_ms" -> phase(qe, "planning"), "exchanges" -> sh, "broadcasts" -> bc)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe, ok = false)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = p.durationMs
      def d(k: String): Long = Option(dur.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      Trace.this.synchronized {
        progress += Json.Obj(
          "query" -> p.name, "batch" -> p.batchId,
          "start_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
          "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
          "get_batch_ms" -> d("getBatch"), "latest_offset_ms" -> d("latestOffset"),
          "planning_ms" -> d("queryPlanning"), "wal_commit_ms" -> d("walCommit"),
          "commit_offsets_ms" -> d("commitOffsets"), "rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "dropped_rows" -> ops.map(_.numRowsDroppedByWatermark).sum)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def toJson: Json.Obj = synchronized {
    Json.Obj("spans" -> spans.toSeq, "jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
      "plans" -> plans.toSeq, "progress" -> progress.toSeq)
  }
}
