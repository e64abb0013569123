package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: a pass, a unit, a unit's phase (build / plan / exec) or a DAG job. */
final case class Span(id: Long, parent: Long, name: String, kind: String, pass: Int,
    startMs: Long, var endMs: Long = -1)

/** The traced run's recorder. Spans are opened around the benchmark's calls
  * into the program; Spark jobs attach to the span whose job group
  * (`pb:<span id>`) was set on the submitting thread. A streaming query sets
  * its own job group (its run id), which is mapped to the span that started
  * it. Jobs whose call site shows they were submitted from a driver-side
  * `scala.concurrent.Future` inside the program carry an inherited, possibly
  * stale job group, so they are counted as unattributed instead of guessed.
  * Everything stays in memory until [[write]] at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  // inherited: a stream reports its start from the execution thread that
  // the span's thread creates in `start()`
  private val current = new InheritableThreadLocal[Long] { override def initialValue = -1L }
  private val runSpan = new ConcurrentHashMap[String, Long]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageFile = new ConcurrentHashMap[Int, String]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  private val events = new LongAdder
  private val execSite = new ConcurrentHashMap[Long, String]()

  def open(name: String, kind: String, pass: Int, parent: Option[Long] = None): Long = {
    val id = ids.incrementAndGet()
    spans.put(id, Span(id, parent.getOrElse(0L), name, kind, pass, System.currentTimeMillis()))
    id
  }

  def close(id: Long): Unit = spans.get(id).endMs = System.currentTimeMillis()

  /** Attach the submitting thread's Spark jobs to span `id`. */
  def enter(id: Long): Unit = {
    sc.setJobGroup(s"pb:$id", spans.get(id).name)
    current.set(id)
  }

  def leave(): Unit = {
    sc.clearJobGroup()
    current.remove()
  }

  def attach(): Unit = {
    // the job call site (read per job from this property) must reach the
    // benchmark's own frames to tell driver-future jobs apart
    System.setProperty("spark.callstack.depth", "100000")
    Tracer.active = Some(this)
    sc.addSparkListener(this)
  }

  /** Stops recording once every event of the traced pass has arrived. */
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    Tracer.active = None
    System.clearProperty("spark.callstack.depth")
  }

  /** Blocks until no listener event has arrived for half a second. */
  private def drain(): Unit = {
    var last = -1L
    while (events.sum != last) { last = events.sum; Thread.sleep(500) }
  }

  private def pass(span: Long): Int = Option(spans.get(span)).map(_.pass).getOrElse(Int.MinValue)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.increment()
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    // AQE materializes query stages on a Spark thread pool whose stack shows
    // no program frame; the SQL execution's call site, taken on the thread
    // that ran the action, does
    val site = prop("spark.sql.execution.id")
      .flatMap(id => Option(execSite.get(id.toLong))).getOrElse(own)
    val group = prop("spark.jobGroup.id").getOrElse("")
    val frames = site.split("\n")
    // innermost of: a future's frame, or the benchmark frame that set the group
    val owner = frames.drop(1).find(f => f.startsWith("scala.concurrent.") ||
      Callers.exists(f.startsWith))
    val fromFuture = owner.exists(_.startsWith("scala.concurrent."))
    val span =
      if (fromFuture) -1L
      else if (group.startsWith("pb:")) group.drop(3).toLong
      else Option(runSpan.get(group)).getOrElse(0L)
    val top = frames.headOption.getOrElse("") + own.takeWhile(_ != '\n')
    val file = fileOf(site)
    e.stageInfos.foreach(si => stageFile.putIfAbsent(si.stageId, file))
    jobs.put(e.jobId, JobRec(e.jobId, span, fromFuture, e.time,
      write = top.contains("DataFrameWriter."),
      checkpoint = top.contains(".localCheckpoint(") || top.contains(".checkpoint(")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.increment()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      events.increment()
      execSite.put(x.executionId, x.details)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.increment()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks.add(TaskRec(e.stageId, i.finishTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)))
  }

  /** Called on the stream's execution thread, before `start()` returns. */
  private[perfbench] def streamStarted(runId: String): Unit = runSpan.put(runId, current.get)

  private[perfbench] def streamProgress(p: StreamingQueryProgress): Unit = {
    events.increment()
    progress.add(Option(runSpan.get(p.runId.toString)).getOrElse(0L) -> p)
  }

  /** Per-layer metrics of one traced pass, whose wall-clock window is
    * [w0, w1] ms. Jobs and tasks are assigned to the pass by time, so jobs
    * with no owning span still count in the `spark.*` totals. */
  def layerMetrics(passIx: Int, w0: Long, w1: Long, opsFiles: Seq[String]): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => j.startMs >= w0 && j.startMs <= w1).toSeq
    val ts = tasks.asScala.filter(t => t.finishMs >= w0 && t.finishMs <= w1).toSeq
    def kind(j: JobRec) = Option(spans.get(j.span)).map(_.kind).getOrElse("")
    val mb = 1024.0 * 1024.0
    val byFile = ts.groupBy(t => Option(stageFile.get(t.stageId)).getOrElse("runtime"))
      .map { case (f, xs) => f -> xs.map(_.runMs).sum / 1000.0 }
    val ps = progress.asScala.filter { case (s, _) => pass(s) == passIx }.map(_._2).toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1000.0
    val lastPerRun = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    val inputRows = ps.map(_.numInputRows).sum.toDouble
    val triggerS = ps.map(dur(_, "triggerExecution")).sum
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ts.map(_.stageId).distinct.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> ts.map(_.runMs).sum / 1000.0,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.peak_exec_mem_mb" -> (ts.map(_.peakMem) :+ 0L).max / mb,
      "spark.sched_delay_s" -> ts.map(_.delayMs).sum / 1000.0,
      "spark.job_p50_ms" -> Stats.percentile(js.filter(_.endMs > 0).map(j => (j.endMs - j.startMs).toDouble), 50),
      "queries.build_jobs" -> js.count(j => kind(j) == "build").toDouble,
      "queries.exec_jobs" -> js.count(j => kind(j) == "exec").toDouble,
      "ops.checkpoint_jobs" -> js.count(_.checkpoint).toDouble,
      "core.write_jobs" -> js.count(_.write).toDouble,
      "core.write_s" -> js.filter(j => j.write && j.endMs > 0).map(j => j.endMs - j.startMs).sum / 1000.0,
      "trace.unattributed_jobs" -> js.count(_.fromFuture).toDouble,
      "streaming.batches" -> ps.size.toDouble,
      "streaming.input_rows" -> inputRows,
      "streaming.rows_per_s" -> (if (triggerS > 0) inputRows / triggerS else 0.0),
      "streaming.batch_p50_s" -> Stats.percentile(ps.map(dur(_, "triggerExecution")), 50),
      "streaming.add_batch_s" -> ps.map(dur(_, "addBatch")).sum,
      "streaming.wal_commit_s" -> ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
      "streaming.query_planning_s" -> ps.map(dur(_, "queryPlanning")).sum,
      "streaming.state_rows" -> lastPerRun.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mem_mb" -> lastPerRun.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum / mb,
      "ops.other.task_s" -> byFile.filter(kv => !opsFiles.contains(kv._1)).values.sum
    ) ++ opsFiles.map(f => s"ops.$f.task_s" -> byFile.getOrElse(f, 0.0))
  }

  /** [[layerMetrics]] over each unit span's wall-clock window in pass
    * `passIx`, by unit name; exact only while units run one at a time. */
  def unitTotals(passIx: Int): Map[String, Map[String, Double]] =
    spans.values.asScala.filter(s => s.kind == "unit" && s.pass == passIx)
      .map(s => s.name -> layerMetrics(passIx, s.startMs, s.endMs, Nil)).toMap

  /** Every span and Spark job, one JSON object per line. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.values.asScala.toSeq.sortBy(_.id).foreach(s => w.println(Json(Obj(
        "span" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
      jobs.values.asScala.toSeq.sortBy(_.id).foreach(j => w.println(Json(Obj(
        "job" -> j.id, "parent" -> j.span, "from_future" -> j.fromFuture, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "write" -> j.write, "checkpoint" -> j.checkpoint))))
      tasks.asScala.toSeq.groupBy(_.stageId).toSeq.sortBy(_._1).foreach { case (id, ts) =>
        w.println(Json(Obj("stage" -> id, "file" -> Option(stageFile.get(id)).getOrElse("runtime"),
          "tasks" -> ts.size, "task_s" -> ts.map(_.runMs).sum / 1000.0)))
      }
    } finally w.close()
  }
}

object Tracer {
  /** The recorder the streaming listener reports to (listeners named in
    * `spark.sql.streaming.streamingQueryListeners` are built by Spark). */
  @volatile private[perfbench] var active: Option[Tracer] = None

  /** The benchmark classes whose calls into the program set job groups. */
  private val Callers = Seq(classOf[QueryWorkload].getName, classOf[Ep1Daily].getName)

  /** Job owner: a span id, 0 for none (set-up, checks), -1 for driver futures. */
  final case class JobRec(id: Int, span: Long, fromFuture: Boolean, startMs: Long,
      write: Boolean, checkpoint: Boolean) { @volatile var endMs: Long = -1 }

  final case class TaskRec(stageId: Int, finishMs: Long, runMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long, delayMs: Long)

  /** The source file a stage is charged to: the innermost program frame of
    * its call site, `final_plan` when the benchmark itself ran the action
    * (the digest of a query's final plan), `runtime` when no program frame
    * is on the stack (streaming micro-batch threads, broadcast threads). */
  def fileOf(site: String): String =
    site.split("\n").drop(1).collectFirst {
      case f if f.startsWith("graft.") =>
        val i = f.lastIndexOf('(')
        f.substring(i + 1).takeWhile(c => c != '.' && c != ':' && c != ')')
      case f if f.startsWith("perfbench.") => "final_plan"
    }.getOrElse("runtime")
}

/** Registered through `spark.sql.streaming.streamingQueryListeners` so that
  * queries started on the program's child sessions are seen too (a listener
  * added with `spark.streams.addListener` sees only its own session's). */
class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Tracer.active.foreach(_.streamStarted(e.runId.toString))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Tracer.active.foreach(_.streamProgress(e.progress))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
