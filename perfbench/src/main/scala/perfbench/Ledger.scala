package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A timed interval in the run's span tree (epoch milliseconds). Call spans
  * carry their own job-group key in `group`; job spans carry the group they
  * ran under, which [[Ledger.spansOut]] turns into a parent id.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, group: String = "",
    attrs: Map[String, Double] = Map.empty)

/** Spark work caused by one call (or one streaming query), summed over its
  * jobs and completed stages.
  */
final class Tally {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, fetchWaitMs, spill, scan, planMs = 0L

  def add(o: Tally): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; scan += o.scan; planMs += o.planMs
  }
}

/** The layer ledger: an in-memory span tree (run → workload → phase → call →
  * Spark job → stage) plus per-call Spark tallies.
  *
  * The harness tags each call by setting the Spark job group to the call's
  * group key, so every job the call causes — and every SQL execution, whose
  * planning time comes from `QueryExecution.tracker` — is charged to it.
  * Streaming queries run their jobs under their own run id; [[alias]] maps
  * that id onto the phase call that started the query. The listener is
  * attached only while a traced pass runs; spans stay in memory until the
  * run writes them out.
  */
final class Ledger(val runId: String) extends SparkListener {
  private var lastId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val tallies = mutable.HashMap.empty[String, Tally]
  private val aliases = mutable.HashMap.empty[String, String]
  private val jobs = mutable.HashMap.empty[Int, (Long, String, Double)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private var openJobs = 0
  private var events = 0L

  def nextId(): Long = synchronized { lastId += 1; lastId }

  def record(s: Span): Unit = synchronized { spans += s }

  def alias(streamRunId: String, group: String): Unit =
    synchronized { aliases(streamRunId) = group }

  private def resolve(group: String): String = aliases.getOrElse(group, group)

  /** The summed Spark work of the given call groups. */
  def tally(groups: Iterable[String]): Tally = synchronized {
    val want = groups.toSet
    val t = new Tally
    tallies.foreach { case (g, x) => if (want(resolve(g))) t.add(x) }
    t
  }

  /** Every span, job spans re-parented onto the call that caused them. */
  def spansOut: Seq[Span] = synchronized {
    val callOf = spans.iterator.filter(_.kind == "call").map(s => s.group -> s.id).toMap
    spans.toList.map { s =>
      if (s.kind == "job") s.copy(parent = callOf.getOrElse(resolve(s.group), 0L)) else s
    }
  }

  private def tallyOf(group: String): Tally = tallies.getOrElseUpdate(group, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    openJobs += 1
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    lastId += 1
    jobs(e.jobId) = (lastId, group, e.time.toDouble)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    tallyOf(group).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    openJobs -= 1
    jobs.remove(e.jobId).foreach { case (id, group, start) =>
      spans += Span(id, 0L, "job", s"job-${e.jobId}", start, e.time.toDouble, group)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    val (jobSpan, group) = job.flatMap(jobs.get)
      .map { case (id, g, _) => (id, g) }.getOrElse((0L, ""))
    val t = tallyOf(group)
    t.stages += 1
    t.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      t.scan += m.inputMetrics.bytesRead
    }
    lastId += 1
    spans += Span(lastId, jobSpan, "stage", s"stage-${info.stageId}",
      info.submissionTime.map(_.toDouble).getOrElse(Double.NaN),
      info.completionTime.map(_.toDouble).getOrElse(Double.NaN),
      attrs = Map("tasks" -> info.numTasks.toDouble,
        "task_cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      events += 1
      s.jobGroupId.foreach(execGroup(s.executionId) = _)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      events += 1
      val group = execGroup.remove(s.executionId).getOrElse("")
      // the event's QueryExecution is package-private in Spark; its
      // planning tracker is public
      val qe = scala.util.Try(s.getClass.getMethod("qe").invoke(s)).toOption
      qe.foreach {
        case q: QueryExecution =>
          tallyOf(group).planMs += q.tracker.phases.values.map(_.durationMs).sum
        case _ => ()
      }
    }
    case _ => ()
  }

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)

  /** Waits until the bus has delivered the events of every job already run,
    * then detaches.
    */
  def detach(sc: SparkContext): Unit = {
    settle()
    sc.removeSparkListener(this)
  }

  /** No open job and three quiet 10 ms polls in a row (5 s cap). */
  def settle(): Unit = {
    var quiet = 0
    var last = -1L
    val deadline = System.nanoTime() + 5000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val (n, open) = synchronized((events, openJobs))
      if (n == last && open <= 0) quiet += 1 else quiet = 0
      last = n
    }
  }
}
