package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-query Spark work: jobs, shuffle bytes, spill and peak execution
  * memory, attributed by the [[QueryMetrics.Prop]] local property. Spark
  * captures local properties into every job the tagging thread submits,
  * including broadcast-exchange side jobs; stages map to the owning query
  * at job start and task-end metrics accumulate under it. Work from jobs
  * carrying no property lands in [[QueryMetrics.Unattributed]], so the
  * per-query tallies always sum to [[total]]. */
final class QueryMetrics extends SparkListener {
  import QueryMetrics._

  private final class Counters {
    val jobs, shuffleRead, shuffleWrite, memSpill, diskSpill = new LongAdder
    val peakExecMem = new AtomicLong
    def add(m: TaskMetrics): Unit = {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      memSpill.add(m.memoryBytesSpilled)
      diskSpill.add(m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
    def tally: Tally = Tally(jobs.sum, shuffleRead.sum, shuffleWrite.sum,
      memSpill.sum, diskSpill.sum, peakExecMem.get)
  }

  // Not cleared on reset: stage ids are unique for the SparkContext's life,
  // so a late event for an earlier stage still finds its query.
  private val stageToQuery = new ConcurrentHashMap[Int, String]()
  private val byQuery = new ConcurrentHashMap[String, Counters]()
  @volatile private var all = new Counters

  private def counters(q: String): Counters = byQuery.computeIfAbsent(q, _ => new Counters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val q = Option(js.properties).flatMap(p => Option(p.getProperty(Prop))).getOrElse(Unattributed)
    js.stageIds.foreach(stageToQuery.put(_, q))
    counters(q).jobs.increment()
    all.jobs.increment()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      counters(stageToQuery.getOrDefault(te.stageId, Unattributed)).add(m)
      all.add(m)
    }
  }

  /** Everything since the last reset, whatever its query. */
  def total: Tally = all.tally

  /** Per-query tallies since the last reset, then reset. Call [[drain]]
    * first: events arrive asynchronously, and a trailing task end would
    * otherwise count into the next snapshot. */
  def snapshotAndReset(): Map[String, Tally] = {
    val out = byQuery.asScala.map { case (q, c) => q -> c.tally }.toMap
    byQuery.clear()
    all = new Counters
    out
  }

  /** Block until every queued listener event has been delivered.
    * `LiveListenerBus.waitUntilEmpty` is `private[spark]` but public in
    * bytecode, so reflection reaches it; if that ever breaks on a Spark
    * bump, poll until the totals hold still for 100 ms. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
        .minBy(_.getParameterCount)
      if (m.getParameterCount == 0) m.invoke(bus)
      else m.invoke(bus, java.lang.Long.valueOf(30000L))
    } catch {
      case _: Throwable =>
        var prev: Tally = null
        var cur = total
        var spins = 0
        while (prev != cur && spins < 100) {
          Thread.sleep(100); prev = cur; cur = total; spins += 1
        }
    }
}

object QueryMetrics {
  /** The local property that names the query a thread is running. */
  val Prop = "graft.bench.query"
  val Unattributed = "_unattributed"

  final case class Tally(jobs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memSpillBytes: Long, diskSpillBytes: Long, peakExecMemBytes: Long) {
    /** Field-wise max: the cold-run bound across repeats of the same plan. */
    def max(o: Tally): Tally = Tally(jobs max o.jobs,
      shuffleReadBytes max o.shuffleReadBytes, shuffleWriteBytes max o.shuffleWriteBytes,
      memSpillBytes max o.memSpillBytes, diskSpillBytes max o.diskSpillBytes,
      peakExecMemBytes max o.peakExecMemBytes)
  }
  val Zero: Tally = Tally(0, 0, 0, 0, 0, 0)
}
