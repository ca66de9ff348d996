package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans taken on the client thread line up with the epoch-millisecond
  * times Spark stamps on its listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Everything the traced run records, attached through Spark's public
  * listener interfaces only: jobs, stages and tasks (`SparkListener`),
  * SQL executions with their job tags, and Catalyst phase times
  * (`QueryExecutionListener`). Micro-batch progress comes from the stream
  * workload's own `StreamingQueryListener`, which drives its closed loop.
  * Events are kept in memory and written out once the run ends; `Report`
  * turns them into JSON.
  *
  * Listener delivery is asynchronous. [[drain]] runs a tagged sentinel job
  * and returns only after that job's end event and its execution's
  * Catalyst event have been delivered, so every event posted before it has
  * been seen too — no settle-time polling.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Stage]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val j = new Job(e.jobId, e.time,
        prop("spark.job.tags").map(_.split(",").toSeq.filter(_.nonEmpty))
          .getOrElse(Nil),
        prop("spark.sql.execution.id").map(_.toLong),
        prop("sql.streaming.queryId"),
        e.stageIds)
      jobStart.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { j =>
        j.end = e.time
        jobs.add(j)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) {
        val st = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new Stage(e.stageId, e.stageAttemptId))
        st.synchronized(st.add(e.taskInfo, e.taskMetrics))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val st = stages.computeIfAbsent((i.stageId, i.attemptNumber()),
        _ => new Stage(i.stageId, i.attemptNumber()))
      st.synchronized {
        st.submitted = i.submissionTime.getOrElse(-1L)
        st.completed = i.completionTime.getOrElse(-1L)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.add(Exec(s.executionId, s.time, s.jobTags.toSeq))
      case e: SparkListenerSQLExecutionEnd =>
        // the session's QueryExecutionListener runs on this same event,
        // earlier in the queue: the plan it just recorded is this one's
        pending.foreach(p => plans.add(p.copy(execId = e.executionId)))
        pending = None
      case _ => ()
    }
  }

  // written and read only on the listener-bus thread of the shared queue
  @volatile private var pending: Option[Plan] = None
  @volatile private var active = false

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (active) {
      val ph = qe.tracker.phases
      def p(n: String) = ph.get(n).map(s => (s.endTimeMs - s.startTimeMs) / 1e3)
        .getOrElse(0.0)
      val fp = scala.util.Try(
        Integer.toHexString(qe.optimizedPlan.semanticHash())).getOrElse("")
      pending = Some(Plan(-1L, p("analysis"), p("optimization"), p("planning"), fp))
    }
  }

  /** The plan listener is registered for the whole run, so the sessions
    * cloned from this one (each streaming query runs in a clone) carry it
    * too; it records only inside [[during]]. Registering it first also
    * puts the session's execution listener bus ahead of [[sparkListener]]
    * in the shared queue, which the pairing in `onOtherEvent` relies on. */
  spark.listenerManager.register(planListener)

  /** GC and codegen-compile time accumulated inside [[during]]. */
  var gcMs = 0L
  var codegenNs = 0L

  /** Run `body` with the listeners attached; drains before detaching. */
  def during[A](body: => A): A = {
    spark.sparkContext.addSparkListener(sparkListener)
    active = true
    val g0 = Main.gcMs
    val c0 = Main.codegenNs
    try body
    finally {
      drain()
      gcMs += Main.gcMs - g0
      codegenNs += Main.codegenNs - c0
      active = false
      spark.sparkContext.removeSparkListener(sparkListener)
    }
  }

  /** Run a tagged no-op job and wait until its job-end and Catalyst events
    * are delivered: afterwards every earlier event has been recorded. */
  def drain(timeoutMs: Long = 60000L): Unit = {
    val tag = s"perfbench-sentinel-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try spark.range(1).write.format("noop").mode("overwrite").save()
    finally sc.removeJobTag(tag)
    val deadline = System.currentTimeMillis() + timeoutMs
    def sentinelJob = jobs.asScala.find(_.tags.contains(tag))
    def done = sentinelJob.exists(j =>
      j.execId.forall(id => plans.asScala.exists(_.execId == id)))
    while (!done) {
      require(System.currentTimeMillis() < deadline,
        "listener events for the sentinel job never arrived")
      Thread.sleep(2)
    }
    val id = sentinelJob.get.jobId
    jobs.removeIf(j => j.jobId == id)
  }
}

object Tracer {
  final class Job(val jobId: Int, val start: Long, val tags: Seq[String],
                  val execId: Option[Long], val streamQuery: Option[String],
                  val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }

  final case class Exec(execId: Long, time: Long, tags: Seq[String])

  final case class Plan(execId: Long, analysis: Double, optimization: Double,
                        planning: Double, fingerprint: String)

  /** Task metrics summed per stage attempt, plus the task durations the
    * straggler ratio needs. */
  final class Stage(val stageId: Int, val attempt: Int) {
    var submitted = -1L
    var completed = -1L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var delayMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    var peakMem = 0L
    var inputBytes = 0L
    val durations = scala.collection.mutable.ArrayBuffer.empty[Long]

    def add(i: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Unit = {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      // the scheduler delay as Spark's own UI derives it
      delayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      inputBytes += m.inputMetrics.bytesRead
      durations += i.duration
    }
  }
}
