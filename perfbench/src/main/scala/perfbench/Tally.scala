package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work summed over a set of tasks. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, schedulerDelayMs: Long = 0,
    taskMs: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillDiskBytes: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0, outputFiles: Long = 0) {
  def +(o: Work): Work = Work(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs,
    gcMs + o.gcMs, schedulerDelayMs + o.schedulerDelayMs, taskMs + o.taskMs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillDiskBytes + o.spillDiskBytes, inputBytes + o.inputBytes,
    inputRecords + o.inputRecords, outputBytes + o.outputBytes, outputFiles + o.outputFiles)
}

object Work {
  def sum(ws: Iterable[Work]): Work = ws.foldLeft(Work())(_ + _)
}

/** A Spark job as the listener saw it: the attribution key its submitting
  * thread carried ([[Tally.Prop]]), its interval, its stages and its call
  * site (the long form Spark records for its last stage: the submitting
  * thread's stack, as deep as `spark.callstack.depth`). */
final case class JobRecord(id: Int, key: Option[String], startMs: Long, endMs: Long, stageIds: Seq[Int],
    site: String = "")

/** SparkListener in the benchmark's own code: counts jobs, stages and
  * tasks and sums task metrics per stage; [[attribute]] then splits the
  * totals by job key, with whatever no key claims kept as unattributed so
  * the parts always add up to the totals. */
final class Tally extends SparkListener {
  private val stageWork = new ConcurrentHashMap[Int, Work]()
  private val jobs = new ConcurrentHashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Tally.Prop)))
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, JobRecord(e.jobId, key, e.time, -1L, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageWork.merge(e.stageInfo.stageId, Work(stages = 1), (a, b) => a + b)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val duration = if (i.finishTime > 0) i.finishTime - i.launchTime else 0L
    val w =
      if (m == null) Work(tasks = 1, taskMs = duration)
      else {
        val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        Work(
          tasks = 1,
          runMs = m.executorRunTime,
          cpuNs = m.executorCpuTime,
          gcMs = m.jvmGCTime,
          schedulerDelayMs = math.max(0L, duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult),
          taskMs = duration,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillDiskBytes = m.diskBytesSpilled,
          inputBytes = m.inputMetrics.bytesRead,
          inputRecords = m.inputMetrics.recordsRead,
          outputBytes = m.outputMetrics.bytesWritten,
          outputFiles = if (m.outputMetrics.bytesWritten > 0) 1 else 0)
      }
    stageWork.merge(e.stageId, w, (a, b) => a + b)
  }

  def jobRecords: Seq[JobRecord] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** All work the listener saw, jobs included. */
  def total: Work = Work.sum(stageWork.values.asScala) + Work(jobs = jobs.size.toLong)

  /** Split [[total]] by `keyOf`: each stage goes to the first job (by id)
    * that lists it. Returns the per-key work and the unattributed rest. */
  def attribute(keyOf: JobRecord => Option[String]): (Map[String, Work], Work) =
    Tally.attribute(jobRecords, stageWork.asScala.toMap, keyOf)

  /** Block until every queued listener event has been delivered.
    * `LiveListenerBus.waitUntilEmpty` is not public in Scala but is at the
    * bytecode level, so reflection reaches it. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty").minBy(_.getParameterCount)
    if (m.getParameterCount == 0) m.invoke(bus) else m.invoke(bus, java.lang.Long.valueOf(30000L))
  }
}

object Tally {
  /** Local property carrying the attribution key of a thread's jobs. */
  val Prop = "perfbench.key"

  def attribute(
      jobs: Seq[JobRecord],
      stages: Map[Int, Work],
      keyOf: JobRecord => Option[String]): (Map[String, Work], Work) = {
    val owner = scala.collection.mutable.Map.empty[Int, JobRecord]
    jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => if (!owner.contains(s)) owner(s) = j))
    val byKey = scala.collection.mutable.Map.empty[String, Work]
    var rest = Work()
    jobs.foreach { j =>
      keyOf(j) match {
        case Some(k) => byKey(k) = byKey.getOrElse(k, Work()) + Work(jobs = 1)
        case None => rest = rest + Work(jobs = 1)
      }
    }
    stages.foreach { case (sid, w) =>
      owner.get(sid).flatMap(keyOf) match {
        case Some(k) => byKey(k) = byKey.getOrElse(k, Work()) + w
        case None => rest = rest + w
      }
    }
    (byKey.toMap, rest)
  }
}

/** Catalyst's analysis, optimisation and planning time summed over every
  * query execution the session runs. */
final class PlanTimes extends QueryExecutionListener {
  private val planMs = new AtomicLong(0)
  private def add(qe: QueryExecution): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  def totalMs: Long = planMs.get()
}
