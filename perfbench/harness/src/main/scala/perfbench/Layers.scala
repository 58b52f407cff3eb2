package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.MultimodalOps.{ImageAdapter, ImageTransform, PageAssembler, TransformedMedia}
import graft.operators.OrientOps.{OcrAdapter, SpellAdapter}
import graft.sources.HttpOps.HttpFetcher

/** Named counters shared by every thread of the benchmark JVM. Under
  * `local[N]` executor tasks run in this JVM, so the adapter wrappers below
  * add to them directly; the harness takes a snapshot around each op. */
object Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    m.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def snapshot(): Map[String, Double] =
    m.asScala.map { case (k, v) => k -> v.sum }.toMap
}

/** One traced interval on the epoch clock, in nanoseconds. `parent` is the
  * id of the span that caused it (0 for an op's root); spans of one op
  * share `op`. */
final case class Span(id: Long, parent: Long, op: String, layer: String,
    name: String, startNs: Long, endNs: Long, thread: String)

/** In-memory span store, written once at the end of a traced run. */
object Spans {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** The op running on the driver thread, its root span, and the
    * innermost driver-side span: executor-side spans have no thread-local
    * context, so they attach to it. */
  @volatile var currentOp: String = ""
  @volatile var currentRoot: Long = 0L
  @volatile private var active: Long = 0L

  def clock(): Long = System.nanoTime() + offsetNs
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq
  def beginOp(op: String): Long = {
    currentOp = op; currentRoot = nextId(); active = currentRoot; currentRoot
  }

  /** Time `f` as layer `layer`: always adds `<layer>_s` to [[Counters]],
    * and a span when tracing. */
  def timed[A](layer: String, name: String)(f: => A): A = {
    val driver = Thread.currentThread.getName == "main"
    val id = nextId()
    val parent = active
    if (driver) active = id
    val t0 = clock()
    try f
    finally {
      val t1 = clock()
      if (driver) active = parent
      Counters.add(layer + "_s", (t1 - t0) / 1e9)
      add(Span(id, parent, currentOp, layer, name, t0, t1, Thread.currentThread.getName))
    }
  }
}

/** Timing wrappers around the program's pluggable adapter traits
  * (`graft.operators` and `graft.sources`): each forwards to the real
  * implementation and adds its time and work to [[Counters]]. */
final class TimedImageAdapter(inner: ImageAdapter) extends ImageAdapter {
  def probe(path: String, content: Array[Byte]): (String, Int, Int, Int) =
    Spans.timed("operators.probe", path)(inner.probe(path, content))
}

final class TimedTransform(inner: ImageTransform) extends ImageTransform {
  def resize(path: String, content: Array[Byte], width: Int, height: Int,
      target: Int): TransformedMedia = {
    val out = Spans.timed("operators.encode", path)(
      inner.resize(path, content, width, height, target))
    Counters.add("operators.encode_pages", 1)
    Counters.add("operators.encode_bytes", out.content.length)
    out
  }
}

final class TimedAssembler(inner: PageAssembler) extends PageAssembler {
  def mimetype: String = inner.mimetype
  def assemble(folder: String, pages: Seq[Array[Byte]]): Array[Byte] = {
    val out = Spans.timed("operators.assemble", folder)(inner.assemble(folder, pages))
    Counters.add("operators.assemble_bytes", out.length)
    out
  }
}

final class TimedOcr(inner: OcrAdapter) extends OcrAdapter {
  def ocr(content: Array[Byte], rotation: Int): String = {
    Counters.add("operators.ocr_calls", 1)
    Spans.timed("operators.ocr", s"r$rotation")(inner.ocr(content, rotation))
  }
}

final class TimedSpell(inner: SpellAdapter) extends SpellAdapter {
  def misspelled(text: String): Long =
    Spans.timed("operators.spell", "spell")(inner.misspelled(text))
}

/** Benchmark-owned fetcher: routes the generated finding aids' host to the
  * loopback server, then times the real transport. */
final class TimedFetcher(inner: HttpFetcher, host: String, base: String)
    extends HttpFetcher {
  def fetch(url: String): (Int, Array[Byte]) = {
    val routed = if (url.startsWith(host)) base + url.substring(host.length) else url
    val r = Spans.timed("sources.fetch", routed)(inner.fetch(routed))
    Counters.add("sources.fetch_calls", 1)
    if (r._1 != 200) Counters.add("sources.fetch_non200", 1)
    r
  }
}

/** Scheduler, executor, shuffle and I/O counters per op, from listener
  * events. Jobs carry the op id in the local property [[OpProp]] that the
  * harness sets on the driver thread; threads the program starts itself
  * (`Overlap.par`) inherit it. A job without it is attributed to the op
  * whose time window contains its submission. Driver phases come from each
  * executed query's `QueryPlanningTracker`, attributed the same way. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener._

  private val windows = new ConcurrentLinkedQueue[(String, Long, Long)]()
  @volatile private var openOp: (String, Long) = ("", 0L)
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val perOp = new ConcurrentHashMap[String, ConcurrentHashMap[String, DoubleAdder]]()
  private val jobTimes = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Long]]()
  // traced runs: job spans (id, parent, op, start ms) by job, and the job of each stage
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, String, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var flushJob = -1
  private val flushed = new java.util.concurrent.Semaphore(0)

  /** Wait until every event posted before the flush job's end has been
    * delivered (listener-bus events are delivered in order). */
  def awaitFlush(): Boolean =
    flushed.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS)

  def begin(op: String): Unit = openOp = (op, System.currentTimeMillis())
  def end(): Unit = {
    windows.add((openOp._1, openOp._2, System.currentTimeMillis()))
    openOp = ("", 0L)
  }

  private def opAt(t: Long): String = {
    val (o, s) = openOp
    if (o.nonEmpty && t >= s) o
    else windows.asScala.find { case (_, a, b) => t >= a && t <= b + 50 }
      .map(_._1).getOrElse(Unattributed)
  }

  private def add(op: String, k: String, v: Double): Unit =
    perOp.computeIfAbsent(op, _ => new ConcurrentHashMap[String, DoubleAdder]())
      .computeIfAbsent(k, _ => new DoubleAdder).add(v)

  /** Raw layer counters of `op` (zero where nothing happened). */
  def layers(op: String): Map[String, Double] =
    Option(perOp.get(op)).map(_.asScala.map { case (k, v) => k -> v.sum }.toMap)
      .getOrElse(Map.empty)

  /** Jobs of `op` submitted no later than `ms`: for a query op, the jobs
    * the registry call launched before its DataFrame returned. */
  def jobsBefore(op: String, ms: Long): Int =
    Option(jobTimes.get(op)).map(_.asScala.count(_ <= ms)).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
    if (tagged.contains(FlushOp)) {
      flushJob = e.jobId
      e.stageIds.foreach(s => stageOp.putIfAbsent(s, FlushOp))
      return
    }
    val op = tagged.getOrElse(opAt(e.time))
    add(op, "sched.jobs", 1)
    jobTimes.computeIfAbsent(op, _ => new ConcurrentLinkedQueue[Long]()).add(e.time)
    e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
    if (Spans.enabled) {
      jobSpan.put(e.jobId, (Spans.nextId(), rootOf(op), op, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (e.jobId == flushJob) flushed.release()
    Option(jobSpan.get(e.jobId)).foreach { case (id, parent, op, start) =>
      Spans.add(Span(id, parent, op, "sched.job", s"job ${e.jobId}", start * 1000000L,
        e.time * 1000000L, "scheduler"))
    }
  }

  private def rootOf(op: String): Long = if (op == Spans.currentOp) Spans.currentRoot else 0L

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmit.put(id, t)
    Option(stageOp.get(id)).foreach(add(_, "sched.stages", 1))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val id = e.stageId
    if (stageFirstLaunch.putIfAbsent(id, e.taskInfo.launchTime) == null)
      for (op <- Option(stageOp.get(id)); sub <- Option(stageSubmit.get(id)))
        add(op, "sched.delay_s", math.max(0L, e.taskInfo.launchTime - sub) / 1e3)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = Option(stageOp.get(e.stageId)).getOrElse(Unattributed)
    add(op, "sched.tasks", 1)
    if (e.reason != Success) add(op, "sched.failed_tasks", 1)
    val m = e.taskMetrics
    if (m == null) return
    add(op, "exec.task_s", m.executorRunTime / 1e3)
    add(op, "exec.cpu_s", m.executorCpuTime / 1e9)
    add(op, "exec.gc_s", m.jvmGCTime / 1e3)
    add(op, "exec.deser_s", m.executorDeserializeTime / 1e3)
    add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    add(op, "shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
    add(op, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    add(op, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add(op, "io.scan_bytes", m.inputMetrics.bytesRead.toDouble)
    add(op, "io.scan_rows", m.inputMetrics.recordsRead.toDouble)
    add(op, "io.write_bytes", m.outputMetrics.bytesWritten.toDouble)
    add(op, "io.spill_bytes", m.diskBytesSpilled.toDouble)
    if (Spans.enabled) {
      val parent = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobSpan.get(j)))
        .map(_._1).getOrElse(rootOf(op))
      Spans.add(Span(Spans.nextId(), parent, op, "exec.task", s"stage ${e.stageId}",
        e.taskInfo.launchTime * 1000000L, e.taskInfo.finishTime * 1000000L, "executor"))
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val t = ph.get("analysis").orElse(ph.values.headOption).map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    val op = opAt(t)
    for ((k, n) <- Seq("analysis" -> "driver.analyze", "optimization" -> "driver.optimize",
        "planning" -> "driver.plan"); p <- ph.get(k)) {
      add(op, n + "_s", p.durationMs / 1e3)
      if (Spans.enabled) Spans.add(Span(Spans.nextId(), rootOf(op), op, n, k,
        p.startTimeMs * 1000000L, p.endTimeMs * 1000000L, "driver"))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
}

object LayerListener {
  val OpProp = "perfbench.op"
  val FlushOp = "__flush__"
  val CheckOp = "__check__"
  val Unattributed = "__unattributed__"
}
