package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** JVM and host readings: kept beside the metrics so a reader can tell a
  * slow host from slow code. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def loadAvg1m: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** A fixed single-thread integer loop: its time tracks the speed of one
    * core, whatever the code under test does. */
  def coreProbeSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def record(sparkVersion: String, extra: (String, Any)*): Map[String, Any] = {
    coreProbeSec() // first call pays JIT
    Map(
      "nproc" -> nproc,
      "core_probe_s" -> coreProbeSec(),
      "load_avg_1m" -> loadAvg1m,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> sparkVersion) ++ extra
  }
}
