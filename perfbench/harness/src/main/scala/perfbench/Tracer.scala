package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records spans at the layer boundaries of a traced pass, in memory, for
  * `result.json` at the end of the run:
  *  - `query`, and the `driver` entry call and action, from the harness;
  *  - `catalyst` phases from every QueryPlanningTracker seen;
  *  - `exec` jobs and stages from a SparkListener, with per-stage task
  *    counters (the `exec` and `shuffle` layer metrics);
  *  - `streaming` micro-batches and their `durationMs` phases, with the
  *    state-operator counters, from a StreamingQueryListener.
  * Listener events carry wall-clock times; `metrics.py` assigns them to the
  * query whose span contains them (queries never overlap) and splits each
  * query's wall time into the layers' self times. */
final class Tracer(clock: Clock) {
  private val spans = ArrayBuffer.empty[Json.Obj]
  private val stages = ArrayBuffer.empty[Json.Obj]
  private val batches = ArrayBuffer.empty[Json.Obj]
  private val streamStarts = ArrayBuffer.empty[Json.Obj]
  private val rules = ArrayBuffer.empty[Json.Obj]
  private val seenTrackers = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  private val taskAgg = scala.collection.mutable.HashMap.empty[(Int, Int), StageTasks]
  private var currentQuery: Option[Int] = None
  private var nextQuery = 0

  private def add(buf: ArrayBuffer[Json.Obj], o: Json.Obj): Unit = synchronized { buf += o }

  /** `inQuery` spans are opened by the harness thread inside a query;
    * listener callbacks arrive later on the listener bus, so their spans
    * carry no query id and are assigned to queries by time. */
  private def addSpan(layer: String, name: String, start: Double, end: Double,
                      inQuery: Boolean = true): Unit =
    add(spans, Json.Obj("layer" -> Json.Str(layer), "name" -> Json.Str(name),
      "start_ms" -> Json.Num(start), "end_ms" -> Json.Num(end),
      "query_id" -> currentQuery.filter(_ => inQuery)
        .fold[Json.Value](Json.Null)(Json.Num(_))))

  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = clock.nowMs
    try body finally addSpan(layer, name, t0, clock.nowMs)
  }

  def query[T](name: String)(body: => T): T = {
    currentQuery = Some(nextQuery)
    nextQuery += 1
    try span("query", name)(body) finally currentQuery = None
  }

  def trackerOf(df: DataFrame): Unit =
    recordTracker(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution,
      inQuery = true)

  private def recordTracker(qe: QueryExecution, inQuery: Boolean): Unit = {
    if (!synchronized(seenTrackers.add(qe))) return
    val t = qe.tracker
    t.phases.foreach { case (phase, p) =>
      addSpan("catalyst", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble, inQuery)
    }
    val rs = t.rules.values
    add(rules, Json.Obj(
      "invocations" -> Json.Num(rs.map(_.numInvocations).sum.toDouble),
      "effective" -> Json.Num(rs.map(_.numEffectiveInvocations).sum.toDouble)))
  }

  private final class StageTasks {
    val durations = ArrayBuffer.empty[Double]
    var runMs, cpuNs, gcMs, schedMs, inputRows, spill, peakMem = 0.0
    var shWriteBytes, shReadBytes, shWriteNs, fetchWaitMs, failures = 0.0
  }

  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobStarts.remove(e.jobId)).foreach { start =>
        add(spans, Json.Obj("layer" -> Json.Str("exec"), "name" -> Json.Str(s"job ${e.jobId}"),
          "start_ms" -> Json.Num(start.toDouble), "end_ms" -> Json.Num(e.time.toDouble),
          "query_id" -> Json.Null))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = taskAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageTasks)
      val info = e.taskInfo
      s.durations += info.duration.toDouble
      if (!info.successful) s.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        s.inputRows += m.inputMetrics.recordsRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory.toDouble)
        s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shWriteNs += m.shuffleWriteMetrics.writeTime
        s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = Tracer.this.synchronized(taskAgg.remove((i.stageId, i.attemptNumber())))
        .getOrElse(new StageTasks)
      val start = i.submissionTime.getOrElse(0L).toDouble
      val end = i.completionTime.map(_.toDouble).getOrElse(start)
      add(spans, Json.Obj("layer" -> Json.Str("exec"), "name" -> Json.Str(s"stage ${i.stageId}"),
        "start_ms" -> Json.Num(start), "end_ms" -> Json.Num(end), "query_id" -> Json.Null))
      add(stages, Json.Obj(
        "stage_id" -> Json.Num(i.stageId), "tasks" -> Json.Num(s.durations.size),
        "task_ms" -> Json.Arr(s.durations.toSeq.map(Json.Num(_)): _*),
        "run_ms" -> Json.Num(s.runMs), "cpu_ns" -> Json.Num(s.cpuNs),
        "gc_ms" -> Json.Num(s.gcMs), "sched_delay_ms" -> Json.Num(s.schedMs),
        "input_rows" -> Json.Num(s.inputRows), "spill_bytes" -> Json.Num(s.spill),
        "peak_mem_bytes" -> Json.Num(s.peakMem),
        "shuffle_write_bytes" -> Json.Num(s.shWriteBytes),
        "shuffle_read_bytes" -> Json.Num(s.shReadBytes),
        "shuffle_write_ns" -> Json.Num(s.shWriteNs),
        "fetch_wait_ms" -> Json.Num(s.fetchWaitMs),
        "task_failures" -> Json.Num(s.failures)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    private def ms(iso: String): Double = java.time.Instant.parse(iso).toEpochMilli.toDouble
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add(streamStarts, Json.Obj("run_id" -> Json.Str(e.runId.toString),
        "start_ms" -> Json.Num(ms(e.timestamp))))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> Json.Num(v.toDouble) }.toSeq
      add(batches, Json.Obj(
        "run_id" -> Json.Str(p.runId.toString), "batch_id" -> Json.Num(p.batchId.toDouble),
        "start_ms" -> Json.Num(ms(p.timestamp)), "duration_ms" -> Json.Obj(d: _*),
        "input_rows" -> Json.Num(p.numInputRows.toDouble),
        "state" -> Json.Arr(p.stateOperators.toSeq.map { s =>
          val custom = s.customMetrics.asScala
          Json.Obj("rows_total" -> Json.Num(s.numRowsTotal.toDouble),
            "rows_updated" -> Json.Num(s.numRowsUpdated.toDouble),
            "rows_removed" -> Json.Num(s.numRowsRemoved.toDouble),
            "memory_bytes" -> Json.Num(s.memoryUsedBytes.toDouble),
            "update_ms" -> Json.Num(s.allUpdatesTimeMs.toDouble),
            "commit_ms" -> Json.Num(s.commitTimeMs.toDouble),
            "cache_hits" -> Json.Num(custom.get("loadedMapCacheHitCount").fold(0.0)(_.toDouble)),
            "cache_misses" -> Json.Num(custom.get("loadedMapCacheMissCount").fold(0.0)(_.toDouble)))
        }: _*)))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordTracker(qe, inQuery = false)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordTracker(qe, inQuery = false)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Detach every listener after the listener bus has delivered all events
    * of the traced passes. */
  def remove(spark: SparkSession): Unit = {
    org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def json: Json.Obj = synchronized {
    Json.Obj("spans" -> Json.Arr(spans.toSeq: _*), "stages" -> Json.Arr(stages.toSeq: _*),
      "batches" -> Json.Arr(batches.toSeq: _*),
      "stream_starts" -> Json.Arr(streamStarts.toSeq: _*),
      "rules" -> Json.Arr(rules.toSeq: _*))
  }
}
