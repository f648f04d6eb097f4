package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded from Spark's public listener APIs.
  *
  * Nothing here runs unless the benchmark is started with `--trace 1`:
  * the end-to-end metrics come from untraced runs. Events are buffered
  * in memory and attributed to ops when the run ends — a job belongs to
  * the op whose `perfbench.op` local property it carries (inherited by
  * every job the op's thread submits, streaming micro-batches included),
  * a stage to its job, a task to its stage.
  */
final class Tracer {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val aqeUpdates = new ConcurrentLinkedQueue[java.lang.Long]()
  private val execModules = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var events = 0L

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        .map(_.toLong).getOrElse(-1L)
      jobs.add(JobRec(e.jobId, e.time, op.map(_.toLong).getOrElse(-1L),
        prop("streaming.sql.batchId"), prop("spark.sql.execution.id"),
        e.stageIds.toVector))
      events += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time); events += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        moduleOf(i.details)))
      events += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.peakExecutionMemory, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleWriteMetrics.bytesWritten,
          sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
      events += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        aqeUpdates.add(System.currentTimeMillis()); events += 1
      case x: SparkListenerSQLExecutionStart =>
        execModules.put(x.executionId, moduleOf(x.details)); events += 1
      case _ =>
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      phases.add(PhaseRec(start, d("analysis"), d("optimization"),
        d("planning")))
      events += 1
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(Tracer.progressMap(e.progress)); events += 1
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered everything: no active
    * job and no new event for 300 ms (bounded at 10 s).
    */
  def drain(spark: SparkSession): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty ||
          System.currentTimeMillis() - quietSince < 300)) {
      if (events != last) { last = events; quietSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }

  /** Spans (jobs and stages) and per-op counters, for ops with the given
    * ids, keyed by op id. A job whose op property is unset (a streaming
    * micro-batch's jobs run on the stream thread) is attributed to the op
    * whose interval contains its start.
    */
  def attribute(ops: Seq[OpRec]): (Seq[Map[String, Any]], Map[Long, Map[String, Any]]) = {
    val byId = ops.map(o => o.id -> o).toMap
    def opFor(j: JobRec): Option[OpRec] =
      if (j.op >= 0) byId.get(j.op)
      else ops.find(o => o.start <= j.start && j.start <= o.end)
    val jobList = jobs.asScala.toVector
    val stageList = stages.asScala.toVector
    val taskList = tasks.asScala.toVector
    val stageToJob = jobList.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val tasksByStage = taskList.groupBy(_.stageId)
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val counters = mutable.Map.empty[Long, mutable.Map[String, Double]]
    def c(op: Long) = counters.getOrElseUpdate(op, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    val jobOp = mutable.Map.empty[Int, Long]
    // a stage submitted from a Spark-owned thread (AQE, broadcast) has no
    // project frame: it belongs to the module that started its SQL execution
    def moduleOfStage(s: StageRec): String =
      if (s.module != "spark") s.module
      else stageToJob.get(s.stageId).flatMap(j => Option(execModules.get(j.execId)))
        .getOrElse("spark")
    for (j <- jobList; op <- opFor(j)) {
      jobOp(j.jobId) = op.id
      val end = Option(jobEnds.get(j.jobId)).map(_.longValue).getOrElse(j.start)
      val stagesOfJob = stageList.filter(s => j.stageIds.contains(s.stageId))
      val module = stagesOfJob.sortBy(-_.stageId).headOption.map(moduleOfStage).getOrElse("spark")
      spans += Map("id" -> s"j${j.jobId}", "parent" -> s"o${op.id}", "op" -> op.id,
        "kind" -> "job", "layer" -> module, "start" -> j.start, "end" -> end,
        "batch" -> j.batch)
      val cc = c(op.id)
      cc("jobs") += 1
      if (op.inBuild(j.start)) cc("eager_jobs") += 1
    }
    for (s <- stageList; j <- stageToJob.get(s.stageId); op <- jobOp.get(j.jobId)) {
      spans += Map("id" -> s"s${s.stageId}.${s.attempt}", "parent" -> s"j${j.jobId}",
        "op" -> op, "kind" -> "stage", "layer" -> moduleOfStage(s),
        "start" -> s.submitted, "end" -> s.completed)
      val cc = c(op)
      cc("stages") += 1
      val ts = tasksByStage.getOrElse(s.stageId, Vector.empty)
      cc("tasks") += ts.size
      ts.foreach { t =>
        cc("run_ms") += t.runMs; cc("cpu_ns") += t.cpuNs; cc("gc_ms") += t.gcMs
        cc("peak_mem_b") = math.max(cc("peak_mem_b"), t.peakMem.toDouble)
        cc("spill_b") += t.spill; cc("shuffle_write_b") += t.shuffleWrite
        cc("shuffle_read_b") += t.shuffleRead; cc("fetch_wait_ms") += t.fetchWait
        cc("input_b") += t.inputBytes; cc("input_rows") += t.inputRows
        cc("output_b") += t.outputBytes; cc("output_rows") += t.outputRows
      }
      val dur = s.completed - s.submitted
      if (dur > cc("longest_stage_ms") && ts.nonEmpty) {
        cc("longest_stage_ms") = dur.toDouble
        val ds = ts.map(_.duration).sorted
        val med = math.max(1L, ds(ds.size / 2))
        cc("stage_skew") = ds.last.toDouble / med
      }
    }
    for (p <- phases.asScala; op <- ops.find(o => o.start <= p.start && p.start <= o.end)) {
      val cc = c(op.id)
      cc("analysis_ms") += p.analysis; cc("optimization_ms") += p.optimization
      cc("planning_ms") += p.planning
    }
    for (t <- aqeUpdates.asScala; op <- ops.find(o => o.start <= t && t <= o.end))
      c(op.id)("aqe_updates") += 1
    (spans.toSeq, counters.map { case (k, v) => k -> v.toMap[String, Any] }.toMap)
  }

  def progressEvents: Seq[Map[String, Any]] = progress.asScala.toVector
}

object Tracer {
  /** Local property naming the op a job belongs to. */
  val OpKey = "perfbench.op"

  final case class JobRec(jobId: Int, start: Long, op: Long, batch: Long,
      execId: Long, stageIds: Vector[Int])
  final case class StageRec(stageId: Int, attempt: Int, submitted: Long,
      completed: Long, module: String)
  final case class TaskRec(stageId: Int, duration: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, peakMem: Long, spill: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWait: Long,
      inputBytes: Long, inputRows: Long, outputBytes: Long, outputRows: Long)
  final case class PhaseRec(start: Long, analysis: Long, optimization: Long,
      planning: Long)

  /** An op's interval (epoch ms) and the sub-interval in which its
    * DataFrame was being built (jobs started there are eager jobs).
    */
  final case class OpRec(id: Long, start: Long, end: Long,
      buildStart: Long = 0L, buildEnd: Long = 0L) {
    def inBuild(t: Long): Boolean = buildEnd > buildStart && buildStart <= t && t <= buildEnd
  }

  /** Module of the innermost `graft.*` frame of a stage's call site:
    * `graft.ops.Dedup$.pinSmall(...)` → `ops`; a frame of the top-level
    * `graft` package (`graft.Tables`) → `graft`. Without a project frame:
    * an action the benchmark issued itself (a query's execution) → `exec`;
    * a Spark-owned thread (broadcast, AQE, stream) → `spark`.
    */
  def moduleOf(details: String): String = {
    val frames = Option(details).toSeq.flatMap(_.linesIterator).map(_.trim)
    frames.find(_.startsWith("graft.")) match {
      case Some(f) =>
        val parts = f.takeWhile(_ != '(').split('.')
        if (parts.length >= 3 && parts(1).headOption.exists(_.isLower)) parts(1)
        else "graft"
      case None =>
        if (frames.exists(_.startsWith("perfbench."))) "exec" else "spark"
    }
  }

  /** Codegen compile histogram: (classes compiled, total compile ms).
    * The histogram's reservoir holds every sample until 1028 compiles;
    * past that the total is estimated from the reservoir mean.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val total = if (n <= snap.size) snap.getValues.map(_.toDouble).sum
      else snap.getMean * n
    (n, total)
  }

  def progressMap(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Map("batch" -> p.batchId, "timestamp" -> p.timestamp,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
      "add_batch_ms" -> d.getOrElse("addBatch", 0L))
  }
}
