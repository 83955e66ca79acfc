package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A phase's clock: every recorded time is seconds since the phase began.
  * Spark stamps its events in epoch milliseconds; `fromEpochMs` maps them
  * onto the same axis. */
final class Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - originNs) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - originMs) / 1e3
  def fromIso(ts: String): Double =
    fromEpochMs(java.time.Instant.parse(ts).toEpochMilli)
}

/** Records spans around the benchmark's calls into the engine, and the
  * Spark listener records of one phase. A disabled tracer records nothing
  * and registers no listener, so untraced phases run the program as is.
  *
  * A span is (id, op, parent, name, start, end); all spans of one operation
  * share the operation's id `op`, and a root span is its own operation. */
final class Tracer(spark: SparkSession, val clock: Clock, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** `f` as one operation: a root span. */
  def op[T](name: String)(f: => T): T = record(name, root = true)(f)

  /** `f` as a child of the calling thread's innermost open span. */
  def span[T](name: String)(f: => T): T = record(name, root = false)(f)

  private def record[T](name: String, root: Boolean)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val open = stack.get
      val (parent, op) =
        if (root || open.isEmpty) (0L, id) else (open.head._1, open.head._2)
      stack.set((id, op) :: open)
      val start = clock.now
      try f
      finally {
        val end = clock.now
        stack.set(open)
        spans.synchronized {
          spans += Map("id" -> id, "op" -> op, "parent" -> parent,
            "name" -> name, "start" -> start, "end" -> end)
        }
      }
    }

  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var bytesRead = 0L; var bytesWritten = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stages = mutable.Map.empty[Int, StageAcc]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { t0 =>
        jobs += Map("start" -> clock.fromEpochMs(t0),
          "end" -> clock.fromEpochMs(e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, new StageAcc)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.bytesRead += m.inputMetrics.bytesRead
        s.bytesWritten += m.outputMetrics.bytesWritten
        s.durations += e.taskInfo.duration
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(planNodes)
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val nodes = planNodes(qe.executedPlan)
      def metric(pick: PartialFunction[SparkPlan, Boolean], key: String) =
        nodes.filter(n => pick.applyOrElse(n, (_: SparkPlan) => false))
          .flatMap(_.metrics.get(key)).map(_.value).sum
      val scan: PartialFunction[SparkPlan, Boolean] = { case _: FileSourceScanExec => true }
      val write: PartialFunction[SparkPlan, Boolean] = { case _: DataWritingCommandExec => true }
      val rec = Map("analysis_s" -> phase("analysis"),
        "optimization_s" -> phase("optimization"),
        "physical_s" -> phase("planning"),
        "files_read" -> metric(scan, "numFiles"),
        "scan_metadata_s" -> metric(scan, "metadataTime") / 1e3,
        "files_written" -> metric(write, "numFiles"))
      Tracer.this.synchronized { plans += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += Tracer.progressRecord(e.progress, clock) }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Unregister the listeners and return everything recorded. */
  def finish(): Map[String, Any] =
    if (!enabled) Map.empty
    else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
      synchronized {
        val st = stages.values.toSeq
        def sum(f: StageAcc => Long) = st.map(f).sum
        // worst stage by max/median task time, over stages of >= 2 tasks
        val skew = st.filter(_.durations.size >= 2).map { s =>
          val d = s.durations.sorted
          d.last.toDouble / math.max(d(d.size / 2), 1L)
        }
        Map(
          "spans" -> spans.synchronized(spans.toList),
          "jobs" -> jobs.toList,
          "plans" -> plans.toList,
          "progress" -> progress.toList,
          "executor" -> Map(
            "stages" -> st.size, "tasks" -> sum(_.tasks),
            "run_s" -> sum(_.runMs) / 1e3, "cpu_s" -> sum(_.cpuNs) / 1e9,
            "gc_s" -> sum(_.gcMs) / 1e3,
            "shuffle_read_bytes" -> sum(_.shuffleRead),
            "shuffle_write_bytes" -> sum(_.shuffleWrite),
            "spill_bytes" -> sum(_.spill),
            "bytes_read" -> sum(_.bytesRead),
            "bytes_written" -> sum(_.bytesWritten),
            "task_skew" -> (if (skew.isEmpty) 1.0 else skew.max)))
      }
    }
}

object Tracer {
  /** The fields of a micro-batch's progress the benchmark reads. Offsets
    * are those of the first source (MemoryStream counts `addData` calls). */
  def progressRecord(p: StreamingQueryProgress, clock: Clock): Map[String, Any] = {
    def dur(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    val src = p.sources.headOption
    def offset(s: String) = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
    val start = clock.fromIso(p.timestamp)
    Map(
      "query" -> p.name, "batch" -> p.batchId,
      "start_offset" -> src.map(s => offset(s.startOffset)).getOrElse(-1L),
      "end_offset" -> src.map(s => offset(s.endOffset)).getOrElse(-1L),
      "rows" -> p.numInputRows,
      "start" -> start, "end" -> (start + dur("triggerExecution")),
      "trigger_s" -> dur("triggerExecution"), "add_batch_s" -> dur("addBatch"),
      "planning_s" -> dur("queryPlanning"),
      "commit_s" -> (dur("walCommit") + dur("commitOffsets")))
  }
}
