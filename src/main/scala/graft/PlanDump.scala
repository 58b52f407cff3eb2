package graft

import java.nio.file.{Files, Paths}

/** Optimization-round tooling (round 14): dumps `.explain("formatted")`
  * for registered queries to text files (the `plans/rNN/<q>_<tag>.txt`
  * deliverable), and optionally times the planning phases the Bench
  * harness pays on every rep — a fresh DataFrame per rep means analysis +
  * optimization + physical planning + codegen-source generation all run
  * inside the timed window, and for the expression-heavy queries those
  * driver-side phases, not the task work, dominate wall (BENCH_FULL r13:
  * the nine lang-ID rows read ~1.8 s wall on ~1.2 task-seconds across 32
  * cores).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [query ...]
  *   SPARK_GRAFT_PHASES=1  also print per-phase planning times
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r14")
    val tag = args.drop(1).headOption.getOrElse("before")
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(cpus)
    Files.createDirectories(Paths.get(outDir))
    val phases = sys.env.contains("SPARK_GRAFT_PHASES")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // same rendering as df.explain("formatted"), captured to a file
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          if (phases) {
            // one discarded warm run (codegen compile + JIT), then 3
            // steady reps each on a FRESH DataFrame — exactly one Bench
            // rep's work (re-analyze/optimize/plan/codegen-gen + execute)
            df.write.format("noop").mode("overwrite").save()
            val reps = (1 to 3).map { _ =>
              spark.sparkContext.getPersistentRDDs.values
                .foreach(_.unpersist(blocking = true))
              val df2 = fn(spark, sfDir)
              val t0 = System.nanoTime()
              df2.queryExecution.executedPlan
              val tPlan = (System.nanoTime() - t0) / 1e9
              val t1 = System.nanoTime()
              df2.write.format("noop").mode("overwrite").save()
              (tPlan, (System.nanoTime() - t1) / 1e9)
            }
            val pm = reps.map(_._1).sorted.apply(1)
            val em = reps.map(_._2).sorted.apply(1)
            println(f"[phases] $name planMed=$pm%.2fs execMed=$em%.2fs " +
              reps.map(r => f"(${r._1}%.2f+${r._2}%.2f)").mkString(" "))
          } else println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
