package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one session factory and the one run clock: every program main
  * (`Smoke`, `Verify`, `PlanDump`, `ScaleSmoke`, `Bench`) and the spec
  * trait `SparkSpec` build their session through [[local]], and the two
  * timing mains measure a run through [[Clock.timed]]. */
object GraftSession {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC, no UI,
    * log level WARN; `extra` confs are applied last. */
  def local(cpus: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // collect_list plans ObjectHashAggregate, which abandons hash
      // aggregation after 128 distinct keys per partition and sorts the
      // full payload instead — pathological for the doc-assembly queries
      // (q42/q43/q52 hold 10⁴-10⁵ bounded-size groups per partition that
      // fit in memory trivially). Raise the fallback so hash aggregation
      // actually runs; sort_array keeps results order-deterministic
      // either way. 262144, NOT "effectively infinite" (round 10): the
      // fallback is the operator's ONLY memory valve (entry COUNT, not
      // bytes) — the 1M setting let the q52 aggregate ride 16 M ~1 KB
      // buffers straight past a 24 GiB heap at the 100× smoke. 256k ≈
      // 256 MB/task at that payload: unreachable at sf0.1 (≤ 5k
      // groups/partition — behavior and timings identical), engaged
      // before death beyond.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      // A long-lived session running 130+ distinct plans evicts
      // generated classes at the default cache size; keeping them
      // resident avoids recompilation churn. (The intermittent ~10x
      // CPU inflation once blamed on this was root-caused in round 8
      // to G1 itself — see build.sbt's UseParallelGC note and
      // profiles/q52_r8_*.jsonl; the larger cache stays because it is
      // independently correct for a 130-plan session.)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One timed run: wall, executor task- and CPU-seconds summed over
    * every stage the run completed, plus the environment stamps that let
    * a noisy rep name its mechanism — JIT-compile and GC deltas, code
    * cache occupancy (MB), 1-minute system load, and new Janino codegen
    * classes (a recompiling rep shows a POSITIVE delta; the
    * interpreter-multiplier signature is CPU ×10 with ZERO new classes). */
  final case class Rep(wall: Double, taskSec: Double, cpuSec: Double,
      gcSec: Double, jitSec: Double, codeMb: Double, load: Double,
      cgNew: Long)

  /** The stage listener behind every timed run. Stage-completed events
    * arrive asynchronously on the listener bus, so [[timed]] snapshots
    * the counters after a short settle window. [[close]] detaches it. */
  final class Clock(spark: SparkSession) extends SparkListener with AutoCloseable {
    private val runMs = new AtomicLong(0L)
    private val cpuMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(this)

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      runMs.addAndGet(m.executorRunTime)
      cpuMs.addAndGet(m.executorCpuTime / 1000000L)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)

    /** Time `body` (the query's DataFrame build AND its sink). It starts
      * from a collected heap and an empty block manager: without the gc,
      * a payload query's run inherits its predecessor's multi-GB garbage
      * and pays someone else's full GC inside the timer; without the
      * unpersist, every localCheckpoint the previous run materialized
      * stays pinned until the ContextCleaner gets to it, and that
      * asynchronous block removal then runs INSIDE the next timed window
      * (r12: q120's steady reps read 1.4 → 3.8 → 11.8 s, zero gc, zero
      * new codegen classes). Both run BEFORE t0; a per-job cluster gives
      * every query exactly this empty block manager, so the cleanup
      * matches the deployment premise rather than flattering it. A body
      * that throws propagates before the settle sleep. */
    def timed(body: => Unit): Rep = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      runMs.set(0L); cpuMs.set(0L)
      val gc0 = gcMillis(); val jit0 = jitMillis(); val cg0 = cgClasses()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener-bus settle before counter snapshot
      Rep(wall, runMs.get / 1000.0, cpuMs.get / 1000.0,
        (gcMillis() - gc0) / 1000.0, (jitMillis() - jit0) / 1000.0,
        codeCacheMb(), sysLoad(), cgClasses() - cg0)
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  private def jitMillis(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else 0L
  }
  private def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed / 1048576.0).sum
  private def sysLoad(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def cgClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
}
