package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.Tables

/** Benchmark harness: one JVM per run. It sets the session up
  * (`setup_s`), runs one cold pass over the workload's ops, a fixed number
  * of warm-up passes, then steady passes until the measuring window
  * closes, and writes a raw record
  * (per-op walls, layer counters, digests, checks, per-pass stamps) that
  * `perfbench/run.py` turns into metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <inputs dir> <work dir> <record.json>
  */
object Main {

  /** The `query` workload's ops, in order. First the relational spine:
    * short, mostly single-job plans from the CoreQueries, JdbcQueries and
    * DocQueries modules, with q52's aggregate and shuffle tail. Then one of
    * ROADMAP item 5's curation targets dominated by job barriers, the
    * k-means iterations. (The closure fixpoint, q57, doubled its time under
    * host CPU steal and made `pass_s` too noisy to bound.) */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q51_jdbc_workqueue", "q52_mets_full",
    "q73_kmeans_clusters")

  val Cores = 4

  /** Passes run after the cold pass and before the measuring window. The
    * JIT keeps compiling the cold pass's hot code for several passes (a
    * query pass falls from about 3 s to under 2 s over its first eight, a
    * digitize pass by a fifth after the first), so without them `pass_s` would
    * depend on how many passes fit the window. A fixed count keeps the work
    * the same on a slow run and a fast one. */
  val WarmUpPasses = Map("query" -> 5, "digitize" -> 1)
  /** The fewest steady passes a run measures, however short the window;
    * `pass_s` and `pass_cpu_s` are medians over them. */
  val MinPasses = Map("query" -> 8, "digitize" -> 3)

  /** One closed-loop operation. `run` is timed; `check` runs after the
    * timer stops and returns failed output checks and extra counters. */
  final case class Op(name: String, kind: String, run: Int => OpOut,
      check: Int => (Seq[String], Map[String, Double]) = _ => (Nil, Map.empty),
      inPass: Int => Boolean = _ => true)
  /** What an op reports besides its wall time: its result digest (or the
    * observation that carries it, read after the timer stops), the time
    * spent inside the registry call and failed output checks. */
  final case class OpOut(digest: String, buildS: Double = 0.0,
      failures: Seq[String] = Nil, observed: Option[Observation] = None)

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // hold every class the workload generates: with Spark's default of
      // 100 entries a digitize pass evicts its own classes, so every pass
      // recompiled ~150 of them and the JIT never warmed up on them; the
      // cost of generating them stays in the cold pass
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the knob every program main sets (Bench, Verify): keep hash
      // aggregation for the collect_list doc-assembly plans
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set-up: from the start of this JVM until the session is ready and
    * the workload's inputs are first resolved. Returns the session and
    * the seconds it took. */
  def setUp(workload: String, inputs: String, work: String): (SparkSession, Double) = {
    val s = session(work)
    if (workload == "digitize") Digitize.resolve(s, inputs)
    else Tables.names.foreach(n => Tables(s, s"$inputs/tables", n).schema)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    (s, (System.currentTimeMillis() - startMs) / 1e3)
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputs, work, recordPath) = argv
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val tables = s"$inputs/tables"
    require(Set("query", "digitize")(workload), s"unknown workload $workload")
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    // the ops' oracle SQL, for run.py's check of the cold-pass results
    val oracle = if (workload == "digitize") Map.empty[String, String]
      else SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.writeString(Paths.get(recordPath.stripSuffix(".json") + ".oracle.json"),
      mapper.writeValueAsString(oracle))

    val (spark, setupS) = setUp(workload, inputs, work)

    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)

    val digitize = if (workload == "digitize") Some(new Digitize(spark, inputs, work)) else None
    val ops: Seq[Op] = digitize.map(_.ops)
      .getOrElse(Queries.map(queryOp(spark, _, tables, s"$work/results")))

    val records = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    def runPass(pass: Int, traced: Boolean, warmUp: Boolean = false): Unit = {
      Spans.enabled = traced
      // one collection before each pass (untimed), so every pass starts
      // from the set-up's live objects and carries no GC debt from the last
      System.gc()
      val st0 = Stamps.take()
      Stamps.resetOldGenPeak()
      var wall = 0.0
      ops.filter(_.inPass(pass)).foreach { op =>
        val r = runOp(spark, listener, op, pass, traced)
        wall += r("wall_s").asInstanceOf[Double]
        records += r
      }
      val st1 = Stamps.take()
      passes += Map("pass" -> pass, "cold" -> (pass == 0), "warm_up" -> warmUp, "traced" -> traced,
        "wall_s" -> wall, "heap_peak_mb" -> Stamps.oldGenPeakMb) ++
        Stamps.delta(st0, st1)
      System.err.println(f"[perfbench] $workload pass $pass traced=$traced wall=$wall%.3f s")
    }

    runPass(0, traced = false)
    val warmUps = WarmUpPasses(workload)
    (1 to warmUps).foreach(p => runPass(p, traced = false, warmUp = true))
    val t0 = System.nanoTime()
    var pass = warmUps + 1
    // steady passes: whole passes until the window closes, at least
    // MinPasses; a traced run alternates untraced and traced passes (at least
    // untraced, traced, untraced) so the record carries its own tracing
    // overhead without a warm-up trend in it
    val minPasses = if (trace) math.max(3, MinPasses(workload)) else MinPasses(workload)
    while (pass <= warmUps + minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      runPass(pass, traced = trace && (pass - warmUps) % 2 == 0)
      pass += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    // drain the listener bus, then attach layer counters to each op
    spark.sparkContext.setLocalProperty(LayerListener.OpProp, LayerListener.FlushOp)
    spark.range(1).collect()
    val flushed = listener.awaitFlush()
    Thread.sleep(200)
    val opsOut = records.map { r =>
      val id = r("id").asInstanceOf[String]
      r + ("layers" -> (r("layers").asInstanceOf[Map[String, Double]] ++
        listener.layers(id) + ("queries.build_jobs" -> listener.jobsBefore(id,
          r("build_end_ms").asInstanceOf[Long]).toDouble)))
    }

    val record = Map(
      "workload" -> workload, "seed" -> seedS.toLong, "trace" -> trace,
      "setup_s" -> setupS, "measured_s" -> measuredS,
      "listener_flushed" -> flushed,
      "passes" -> passes.toSeq, "ops" -> opsOut.toSeq,
      "unattributed" -> listener.layers(LayerListener.Unattributed),
      "env" -> Stamps.env(spark))
    Files.writeString(Paths.get(recordPath), mapper.writeValueAsString(record))
    if (trace) Files.writeString(Paths.get(recordPath.stripSuffix(".json") + ".spans.json"),
      mapper.writeValueAsString(Spans.all))
    digitize.foreach(_.close())
    spark.stop()
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** One registered query: the registry call, then the result observed
    * for its digest and written to `noop` (to parquet under `results` on
    * the cold pass, for `perfbench/run.py` to compare with the query's
    * oracle in DuckDB). */
  def queryOp(spark: SparkSession, name: String, tables: String, results: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, "query", { pass =>
      val b0 = System.nanoTime()
      val df = fn(spark, tables)
      val buildS = (System.nanoTime() - b0) / 1e9
      Stamps.markBuilt()
      val obs = Observation(s"digest_$pass")
      val observed = Digest.observe(df, obs)
      if (pass == 0) observed.write.mode("overwrite").parquet(s"$results/$name")
      else observed.write.format("noop").mode("overwrite").save()
      OpOut("", buildS, observed = Some(obs))
    })
  }

  def runOp(spark: SparkSession, listener: LayerListener, op: Op, pass: Int,
      traced: Boolean): Map[String, Any] = {
    val id = s"p$pass/${op.name}"
    // every op starts from an empty block manager
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sparkContext.setLocalProperty(LayerListener.OpProp, id)
    spark.sparkContext.setJobDescription(id)
    val root = Spans.beginOp(id)
    val c0 = Counters.snapshot()
    val st0 = Stamps.take()
    listener.begin(id)
    Stamps.buildEndMs = -1L
    val t0 = Spans.clock()
    val out = try op.run(pass) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $id failed: $e")
        OpOut("", failures = Seq(s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
    }
    val t1 = Spans.clock()
    listener.end()
    val st1 = Stamps.take()
    val c1 = Counters.snapshot()
    if (traced) Spans.add(Span(root, 0L, id, "op", op.name, t0, t1, "driver"))
    spark.sparkContext.setLocalProperty(LayerListener.OpProp, LayerListener.CheckOp)
    spark.sparkContext.setJobDescription(s"check $id")
    val (checkFailures, extra) =
      if (out.failures.nonEmpty) (Nil, Map.empty[String, Double])
      else try op.check(pass) catch {
        case e: Throwable => (Seq(s"check threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"),
          Map.empty[String, Double])
      }
    (out.failures ++ checkFailures).foreach(f => System.err.println(s"[perfbench] $id FAILED: $f"))
    System.err.println(f"[perfbench] $id ${(t1 - t0) / 1e9}%.3f s " +
      c1.collect { case (k, v) if k.endsWith("_s") && v != c0.getOrElse(k, 0.0) =>
        f"$k=${v - c0.getOrElse(k, 0.0)}%.2f" }.toSeq.sorted.mkString(" "))
    spark.sparkContext.setLocalProperty(LayerListener.OpProp, null)
    spark.sparkContext.setJobDescription(null)
    val counters = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
      .filter(_._2 != 0.0) ++ extra + ("queries.build_s" -> out.buildS)
    val stamps = Stamps.delta(st0, st1)
    Map("id" -> id, "name" -> op.name, "kind" -> op.kind, "pass" -> pass,
      "wall_s" -> (t1 - t0) / 1e9, "cpu_s" -> stamps("cpu_s"), "digest" -> out.observed.map(Digest.of).getOrElse(out.digest),
      "failures" -> (out.failures ++ checkFailures),
      "build_end_ms" -> Stamps.buildEndMs,
      "layers" -> (counters ++ stamps.collect {
        case ("jit_s", v: Double) => "jvm.jit_s" -> v
        case ("codegen_new", v: Long) => "jvm.codegen_classes" -> v.toDouble
      }))
  }
}

/** Order-insensitive digest of a result, taken by the same execution that
  * writes it: row count, XOR and 32-bit sum of per-row xxhash64. */
object Digest {
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(s"`${f.name}`")) else col(s"`${f.name}`")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("s"))
  }
  def of(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("x")}:${m("s")}"
  }
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
