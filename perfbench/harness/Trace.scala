package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are seconds since the harness's epoch. */
final case class Span(name: String, start: Double, end: Double, parent: String, run: Int)

/** Collects spans, job intervals and per-run Spark counters.
  *
  * Jobs are attributed to a run through the job group the harness sets
  * around each run (`run-<id>`); stages through the job that submitted
  * them; query executions through the run that was current when the
  * listener bus was drained after the run. */
final class Recorder(epochNs: Long) extends SparkListener with QueryExecutionListener {
  def now(): Double = (System.nanoTime() - epochNs) / 1e9

  val spans = new ConcurrentLinkedQueue[Span]()
  /** (run, start, end) of every job, from the listener's own timestamps. */
  val jobs = new ConcurrentLinkedQueue[(Int, Double, Double)]()

  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val jobRun = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageRun = mutable.Map.empty[Int, Int]
  private val pendingQe = mutable.ArrayBuffer.empty[QueryExecution]
  @volatile var lastPlan: Option[org.apache.spark.sql.execution.SparkPlan] = None

  private def runOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("run-") => g.stripPrefix("run-").toInt }
      .getOrElse(-1)

  def add(run: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(run, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  def countersOf(run: Int): Map[String, Double] = synchronized {
    counters.get(run).map(_.toMap).getOrElse(Map.empty)
  }

  // Spark listener events carry wall-clock millis; convert to the epoch.
  private val wallOffset = System.currentTimeMillis() / 1e3 - now()
  private def fromWall(ms: Long): Double = ms / 1e3 - wallOffset

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val run = runOf(e.properties)
    jobRun(e.jobId) = run
    jobStart(e.jobId) = fromWall(e.time)
    e.stageIds.foreach(s => stageRun(s) = run)
    add(run, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val run = jobRun.getOrElse(e.jobId, -1)
    jobs.add((run, jobStart.getOrElse(e.jobId, fromWall(e.time)), fromWall(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val run = synchronized(stageRun.getOrElse(info.stageId, -1))
    add(run, "stages", 1)
    add(run, "tasks", info.numTasks)
    Option(info.taskMetrics).foreach { m =>
      add(run, "executor_run_s", m.executorRunTime / 1e3)
      add(run, "executor_cpu_s", m.executorCpuTime / 1e9)
      add(run, "gc_s", m.jvmGCTime / 1e3)
      add(run, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add(run, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add(run, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(run, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { pendingQe += qe; lastPlan = Some(qe.executedPlan) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized(pendingQe += qe)

  /** Attribute the planning phases of the query executions seen since the
    * last call to `run` (call after draining the listener bus). */
  def takeQueryExecutions(run: Int): Unit = synchronized {
    pendingQe.foreach { qe =>
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
      add(run, "analysis_s", phase("analysis"))
      add(run, "optimization_s", phase("optimization"))
      add(run, "planning_s", phase("planning"))
    }
    pendingQe.clear()
  }

  def span[T](name: String, parent: String, run: Int)(body: => T): T = {
    val t0 = now()
    try body finally spans.add(Span(name, t0, now(), parent, run))
  }

  def spanList: Seq[Span] = spans.asScala.toSeq
  def jobList: Seq[(Int, Double, Double)] = jobs.asScala.toSeq
}
