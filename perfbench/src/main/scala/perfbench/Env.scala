package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The run environment every artifact records. */
object Env {
  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Other live JVMs on the box: foreign JVMs running during the timed
    * part are the usual reason one run disagrees with the others. */
  private def otherJvms: Long = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self && p.info().command().map[Boolean](_.endsWith("java")).orElse(false)
    }.toLong
  }

  /** CPU time the hypervisor gave to others (steal), machine-wide, in s. */
  def stealSeconds: Double =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100.0)
      .getOrElse(Double.NaN)

  def atStart(cores: Int, commit: String): Seq[(String, Any)] = Seq(
    "cores_used" -> cores,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "load_avg_start" -> loadAvg,
    "steal_s_start" -> stealSeconds,
    "other_jvms_start" -> otherJvms,
    "commit" -> commit,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024))

  def atEnd: Seq[(String, Any)] = Seq(
    "load_avg_end" -> loadAvg,
    "steal_s_end" -> stealSeconds,
    "other_jvms_end" -> otherJvms)

  /** Peak resident set size (VmHWM) of this process, in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
