package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM stamps that flag a noisy pass or op: JIT compile time, GC time,
  * 1-minute load and newly generated classes; plus the old generation's
  * peak occupancy in a pass, for `heap_peak_mb`. */
object Stamps {
  final case class Snap(jitMs: Long, gcMs: Long, codegen: Long, cpuNs: Long)

  @volatile var buildEndMs: Long = -1L
  def markBuilt(): Unit = buildEndMs = System.currentTimeMillis()

  def take(): Snap = {
    val c = ManagementFactory.getCompilationMXBean
    val jit = if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
      case _ => 0L
    }
    Snap(jit, gc, org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount, cpu)
  }

  def delta(a: Snap, b: Snap): Map[String, Any] = Map(
    "jit_s" -> (b.jitMs - a.jitMs) / 1e3, "gc_s" -> (b.gcMs - a.gcMs) / 1e3,
    "codegen_new" -> (b.codegen - a.codegen), "cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
    "load1" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)

  /** The old-generation pool: its peak occupancy, garbage included, is
    * the heap a pass reaches. */
  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  def resetOldGenPeak(): Unit = oldGen.foreach(_.resetPeakUsage())
  def oldGenPeakMb: Double = oldGen.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(0.0)

  def env(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
    "java" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "master" -> spark.sparkContext.master)
}
