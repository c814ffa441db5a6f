package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners, seen from outside the library: Spark
  * jobs, stages and tasks; Catalyst phase times of every executed query;
  * streaming micro-batch progress. Each Spark job is attributed to a
  * graft module by the innermost `graft.*` frame of its call site (the
  * call site of its SQL execution when it was submitted from an adaptive
  * execution thread; the bench job's own module when neither has a graft
  * frame), and to every tracked operator whose frames the call site
  * contains.
  *
  * Counters are cumulative; callers drain the listener bus and diff
  * [[snapshot]]s at pass boundaries. */
final class Trace(opFrames: Seq[(String, String, String)]) extends SparkListener
    with QueryExecutionListener {
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobModule = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = counters(k) += v

  def snapshot(): Map[String, Double] = synchronized(counters.toMap)
  def jobIntervals(): Seq[(Long, Long)] = synchronized(intervals.toSeq)

  private def frames(details: String): Seq[(String, String)] =
    details.split("\n").toSeq.flatMap { line =>
      val sig = line.trim.takeWhile(_ != '(')
      val dot = sig.lastIndexOf('.')
      if (dot <= 0) None else Some(sig.take(dot) -> sig.drop(dot + 1))
    }

  private def moduleOf(cls: String): String = {
    val rest = cls.stripPrefix("graft.")
    if (rest.contains('.')) rest.takeWhile(_ != '.') else "queries"
  }

  /** Call-site frames of each SQL execution, by execution id: jobs that
    * adaptive execution submits from its own threads carry only their
    * execution id, not the caller's stack. */
  private val sqlFrames = mutable.Map[Long, Seq[(String, String)]]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(sqlFrames(s.executionId) = frames(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = frames(e.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details).getOrElse(""))
    val fs = if (own.exists(_._1.startsWith("graft."))) own
      else Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => sqlFrames.get(id.toLong)).getOrElse(own)
    val module = fs.collectFirst {
      case (cls, _) if cls.startsWith("graft.") => moduleOf(cls)
    }.orElse(Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.ModuleProperty)))).getOrElse("other")
    jobModule(e.jobId) = module
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
    add("spark.jobs", 1)
    opFrames.foreach { case (op, cls, method) =>
      if (fs.exists { case (c, m) =>
          c == cls && (m.startsWith(method) || m.startsWith("$anonfun$" + method))
        }) add(s"ops.${op}_jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      intervals += ((t0, e.time))
      add(s"module.${jobModule.getOrElse(e.jobId, "other")}.job_s",
        (e.time - t0) / 1e3)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(add("spark.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.scan_mb", m.inputMetrics.bytesRead / 1e6)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      val out = m.outputMetrics.bytesWritten / 1e6
      add("spark.output_mb", out)
      val module = stageJob.get(e.stageId).flatMap(jobModule.get)
        .getOrElse("other")
      add(s"module.$module.output_mb", out)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = addPhases(qe)

  /** Catalyst phase times of one query execution (also called directly
    * for a job's final frame, whose analysis ran when it was built). */
  def addPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning")(phase))
        add(s"catalyst.${phase}_s", s.durationMs / 1e3)
    }
  }

  /** Streaming progress from `StreamingQueryListener` events. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        add("streaming.batches", 1)
        add("streaming.input_rows", p.numInputRows.toDouble)
        val d = p.durationMs.asScala
        Seq("triggerExecution" -> "trigger_s", "addBatch" -> "add_batch_s",
            "queryPlanning" -> "query_planning_s", "walCommit" -> "wal_commit_s",
            "commitOffsets" -> "commit_offsets_s").foreach { case (k, name) =>
          add(s"streaming.$name", d.get(k).map(_.longValue / 1e3).getOrElse(0.0))
        }
      }
  }
}

object Trace {
  /** Local property naming the bench job's module: the fallback owner of
    * Spark jobs submitted from threads that carry no graft frame. */
  val ModuleProperty = "perfbench.module"

  /** Length of `intervals`' union that falls inside `windows`. */
  def coveredMs(intervals: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long = {
    val merged = intervals.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }
    (for ((a, b) <- merged; (w0, w1) <- windows)
      yield math.max(0L, math.min(b, w1) - math.max(a, w0))).sum
  }
}
