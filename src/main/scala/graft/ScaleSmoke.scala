package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession.{Clock, Rep}

/** 10× scale smoke for the dedup/ANN family (round-4 verdict item 8):
  * the ScaleSpec exchange pins prove the PLANS don't change shape with
  * volume; this main proves the WALL-CLOCK scales ~linearly and catches
  * memory cliffs the pins can't see, with a committed record
  * (`BENCH_SCALE.json`).
  *
  * Measurement methodology (round 6): one FRESH JVM PER QUERY, driven by
  * `tools/bench_scale.sh`. A single long-lived session running 42 plans
  * × 2 scales × 4 reps thrashes the codegen cache / JIT state and
  * produced intermittent ~10× CPU inflation on identical stages (q78:
  * steady reps 12.6/43.3/5.9 s wall, 70/665/56 CPU-s, zero new codegen
  * classes; q38 once read 8.9/67.5/39.9 s on an idle box) — the
  * committed isolated single-query profiles were already the canonical
  * stable numbers, so the scale record now uses the same isolation.
  * Each rep also records task-seconds (executor run time summed over
  * stages) and CPU-seconds: a noisy host moves only wall, a real
  * regression moves task-seconds too, so the record adjudicates itself.
  *
  * The 10× slice is synthetic growth of the sf0.1 fixtures, built so the
  * workload's character scales LINEARLY instead of quadratically:
  *
  *  - documents: replica k ≥ 1 suffixes every token with `_k`, so
  *    replicas of the same document share NO shingles — each replica
  *    carries its own copy of the planted dup clusters (clusters × 10,
  *    cluster SIZE unchanged; exact-copy replication would instead grow
  *    every cluster 10× and the in-cluster pair count 100×).
  *  - embeddings: replica k rotates the vector k positions. Rotation is
  *    an isometry — within a replica every dot product, norm, and
  *    neighbor rank is EXACTLY the original structure — while
  *    cross-replica directions decorrelate, so ANN work grows with the
  *    corpus, not with artificial duplicate pileups.
  *
  * Probe-side filters (`vec_id < 50`, `doc_id < 25`) keep selecting only
  * replica-0 ids (replica ids start at k·10⁶): probe sets stay constant
  * while the corpus scales — the 100 TB shape these operators are built
  * for (bounded probe × streaming corpus).
  *
  * Usage:
  *   tools/bench_scale.sh                      # full record, fresh JVM per query
  *   sbt 'runMain graft.ScaleSmoke <query>…'   # measure named queries,
  *                                             #   append fragments to parts file
  *   sbt 'runMain graft.ScaleSmoke --assemble' # parts file → BENCH_SCALE.json
  * (env: SPARK_GRAFT_SF_DIR base dir, SPARK_GRAFT_SCALE_DIR output dir,
  * SPARK_GRAFT_SCALE_FACTOR replicas (default 10), SPARK_GRAFT_SCALE_REPS
  * steady reps (default 3), SPARK_GRAFT_SCALE_WARM discarded warm-up reps
  * (default 1), SPARK_GRAFT_SCALE_PARTS fragment file, SPARK_GRAFT_CPUS
  * (default 32), SPARK_GRAFT_ADVISORY_MB AQE advisory partition size) */
/** `tools/bench_scale.sh` reads the target list from here so bash never
  * carries its own copy (assemble validates completeness anyway). */
object PrintScaleTargets {
  def main(args: Array[String]): Unit =
    ScaleSmoke.targets.foreach(println)
}

object ScaleSmoke {

  /** The dedup/ANN family named by the round-4 verdict item, plus q69 —
    * the round-4 scale-killer (df window on the raw term key) whose
    * partial-agg reshape this smoke independently evidences — plus
    * (round-5 verdict item 4) the round-5 families: clustering
    * (q73/q74 — SemDeDup's within-cluster self-join is exactly the shape
    * a 10× run stresses) and corpus governance (q75–q78), plus every
    * round-6 corpus-scale query (q79–q108) and the round-7 curation
    * additions (q109–q113) and refinement family (q114–q119). */
  val targets: Seq[String] = Seq(
    "q34_dedup_exact", "q35_minhash_sig", "q36_minhash_lsh_pairs",
    "q37_simhash", "q38_jaccard_blocked", "q39_cosine_topk",
    "q40_hyperplane_buckets", "q41_bucketed_neighbors",
    "q57_transitive_keepers", "q59_simhash_neardup",
    "q62_decontamination", "q65_segment_dedup", "q69_rare_terms",
    "q73_kmeans_clusters", "q74_semdedup", "q74_semdedup_scaledk",
    "q75_gopher_rules", "q76_ann_recall", "q77_pair_calibration",
    "q78_source_overlap", "q79_source_temperature", "q80_unigram_rarity",
    "q81_knn_graph", "q82_contamination_report", "q83_curation_report",
    "q84_lsh_bucket_stats", "q85_packing_report",
    "q86_bloom_decontaminate", "q87_target_affinity", "q88_pq_codes",
    "q89_knn_pagerank", "q90_banding_planner", "q91_cdc_segment_dedup",
    "q92_label_coherence", "q93_cluster_quality", "q94_hard_negatives",
    "q95_winnow_fingerprints", "q96_bigram_surprise", "q97_source_drift",
    "q98_winnow_containment", "q99_hashed_doc_vectors", "q100_data_recipe",
    "q101_dup_spans", "q102_bpe_merges", "q103_cms_heavy_hitters",
    "q104_encoding_quality", "q105_prototype_pruning", "q106_jl_projection",
    "q107_jl_recall", "q108_knn_triangles", "q109_cjk_langid",
    "q110_boilerplate_lines", "q111_seed_expansion", "q112_bpe_encode",
    "q113_quality_threshold_sweep", "q114_quality_keeper",
    "q115_within_doc_dedup", "q116_source_leakage", "q117_tfidf_keywords",
    "q118_dedup_yield", "q119_ivf_nprobe_recall", "q120_incremental_dedup",
    "q121_corpus_diff", "q122_dedup_funnel", "q122_dedup_funnel_scaledk",
    "q124_leakage_safe_split",
    "q125_ivfpq_adc", "q126_source_affinity", "q127_training_shards",
    "q128_bottomk_sample", "q129_embedding_health", "q131_ppjoin_pairs",
    "q132_image_phash_neardup", "q133_nordic_langid", "q134_ptgl_langid",
    "q135_hrsr_langid", "q136_msid_langid", "q137_dup_span_excise",
    "q138_quality_classifier", "q139_stream_neardup_pairs",
    "q140_length_quantiles", "q141_nfc_normalize", "q142_bm25_topk", "q143_component_histogram",
    "q144_budget_selection", "q145_cssk_langid",
    "q146_paragraph_dedup", "q147_semantic_decontamination",
    "q148_zipf_spectrum", "q149_ngram_novelty", "q150_bpe_lang_fertility",
    "q151_decontaminate_excise", "q152_bgmk_langid", "q153_perceptron_train",
    "q154_audio_fp_neardup", "q155_video_frame_jaccard", "q156_ukru_langid",
    // q158 is deliberately NOT a smoke target: the registered query is
    // the bounded-contract brute-force form (label-0 × label-1, both
    // populations bounded by construction) and the replica slice grows
    // BOTH labels ×factor → the pair table grows ×factor², measuring
    // the contract violation, not the operator (the q74 fixed-k
    // lesson). At corpus scale candidates gate through IVF/LSH first —
    // the shapes q56/q41 already carry smoke rows for.
    "q157_rrf_fusion", "q159_session_assembly", "q160_nlaf_langid",
    "q161_classifier_calibration", "q162_dedup_weighted_mass",
    "q163_truncation_recall", "q164_maxpassage_bm25",
    "q165_pair_evidence", "q166_esca_langid",
    // q167's registered query runs the ORACLE configuration (fixed
    // kCells=16): at fixed cells the same-cell pair join is superlinear
    // BY CONTRACT (cell occupancy ∝ N on both sides) — the q74 fixed-k
    // situation exactly. The smoke measures the documented scale path
    // (cells ∝ N via kForCorpus, target occupancy 312 ⇒ the sf0.1 base
    // runs kCells=16, identical work to the registered config there).
    "q167_margin_gated_scaledc",
    "q168_pii_redaction", "q169_fim_examples",
    // round-13 session 2: watermark detect + FIM-style scan shapes,
    // the blocked-Levenshtein ER join, the SQ8 recall probe shape, and
    // the preference-pair single-agg — all designed scan/blocked/probe
    // shapes whose 10x rows evidence it
    "q170_watermark_detect", "q171_lev_neardup", "q172_sq8_recall",
    "q173_preference_pairs", "q174_phrase_match", "q175_neardup_fusion")

  private val Stride = 1000000L

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val parts = sys.env.getOrElse("SPARK_GRAFT_SCALE_PARTS", "/tmp/graft_scale_parts.jsonl")
    if (args.contains("--assemble")) { assemble(parts); return }

    val run = args.filter(a => !a.startsWith("--")).toSeq
    require(run.nonEmpty, "name the queries to measure (tools/bench_scale.sh " +
      "runs each in its own JVM), or pass --assemble")
    val unknown = run.filterNot(n =>
      n == "q74_semdedup_scaledk" || n == "q122_dedup_funnel_scaledk" ||
        n == "q167_margin_gated_scaledc" ||
        SparkEntry.queries.contains(n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // AQE's coalescing (parallelismFirst=true) merges post-shuffle
    // partitions back to ~defaultParallelism based on SHUFFLE bytes,
    // which under-counts operators whose state EXPANDS the data: the
    // round-10 q52 100× smoke shuffled ~1.5 GB of compressed raw columns
    // that AQE happily packed into 32 partitions, whose doc-assembly
    // aggregate then inflated into 16 M live group buffers (~18 GB) and
    // GC-thrashed a 24 GiB heap into heartbeat death. ADVISORY_MB sizes
    // AQE's target from the expanded-state budget instead (it also
    // disables parallelismFirst, which otherwise ignores the advisory) —
    // the same tuning a real cluster applies to any shuffle feeding a
    // state-expanding operator. State-expanding aggregates in this suite
    // that warrant it at ≥100×: q52's doc assembly (the case above) and
    // q146's corpus-rewrite aggregate (per-doc sorted_multi_concat of
    // every kept line — its ×3.1 per-row CPU at 100× IS the rebuild
    // payload, and the same 8 MB advisory keeps its post-shuffle
    // partitions sized to the expanded state; 100× record in BENCH_NOTES).
    val advisory = sys.env.get("SPARK_GRAFT_ADVISORY_MB").toSeq.flatMap { mb =>
      Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${mb}m",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    }
    val spark = GraftSession.local(cpus, advisory: _*)
    // Task-seconds are contention-invariant up to scheduler noise, so a
    // rep whose wall spikes WITHOUT a task spike was a noisy host, and
    // one whose task spikes on identical stage structure is JVM state.
    val clock = new Clock(spark)

    // a marker records WHAT the cached slice was built from — silently
    // reusing a slice generated at a different factor or from a
    // different base would stamp BENCH_SCALE.json with wrong-scale
    // ratios (reviewed round 5)
    val marker = Paths.get(s"$scaled/_GENERATED_FROM")
    val stamp = s"base=$base factor=$factor parts=64 v3-events"
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), StandardCharsets.UTF_8) == stamp
    if (!fresh) {
      generate(spark, base, scaled, factor)
      Files.createDirectories(marker.getParent)
      Files.write(marker, stamp.getBytes(StandardCharsets.UTF_8))
    }

    // q74's registered query runs the ORACLE configuration (fixed k=8)
    // — at fixed k the within-cluster pair join is superlinear BY
    // CONTRACT (cluster size ∝ N). The smoke additionally measures the
    // documented scale path (ClusterOps scaladoc: k ∝ N via kForCorpus,
    // hash seeding) so the record shows the prescription actually holds
    // the ratio, not just claims it. Target cluster size 625 makes the
    // base corpus (5k vectors) run k=8 — comparable work to q74 there.
    val scaledK: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        val emb = graft.sources.Tables(s, dir, "embeddings")
        val k = graft.operators.ClusterOps.kForCorpus(emb.count(), 625L)
        graft.operators.ClusterOps
          .semDedupKeepers(emb, minCosine = 0.3, k = k, seedMode = "hash")
          .orderBy("vec_id")
      }
    // q122's tier 3 embeds the same fixed-k=8 oracle configuration as
    // q74 — contract-superlinear (cluster size ∝ N). The smoke's scale
    // path for the funnel applies the identical kForCorpus prescription
    // so the record shows the design bound for the COMPOSED pipeline.
    val funnelScaledK: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        val emb = graft.sources.Tables(s, dir, "embeddings")
        val k = graft.operators.ClusterOps.kForCorpus(emb.count(), 625L)
        graft.operators.RefineOps.dedupFunnel(
          graft.sources.Tables(s, dir, "documents"), emb, "md5(text)", k = k)
      }
    // q167's scale path: IVF cell count grows with √N (the standard
    // coarse-quantizer sizing — it BALANCES the two cost terms: cell
    // assignment is N·k dots and per-cell pair volume is k·(N/k)² =
    // N²/k, so k ∝ √N puts both at N^1.5; k ∝ N instead drives
    // assignment to N² — measured as task ×55 at the ×10 smoke before
    // this sizing). Anchored so the sf0.1 base runs kCells=16,
    // identical work to the registered oracle config there.
    val marginScaledC: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        val emb = graft.sources.Tables(s, dir, "embeddings")
        val n = emb.count()
        val kc = math.max(1, math.round(16.0 * math.sqrt(n / 5000.0)).toInt)
        graft.operators.SimOps.marginMiningPairsGated(emb, kCells = kc)
          .orderBy("a_id")
      }
    def queryFn(name: String): (SparkSession, String) => org.apache.spark.sql.DataFrame =
      name match {
        case "q74_semdedup_scaledk" => scaledK
        case "q122_dedup_funnel_scaledk" => funnelScaledK
        case "q167_margin_gated_scaledc" => marginScaledC
        case n => SparkEntry.queries(n)
      }

    def timed(name: String, dir: String): Rep =
      clock.timed(queryFn(name)(spark, dir).write.format("noop").mode("overwrite").save())

    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt.max(1)
    // Warm-up reps discarded before the measured window (round-9 verdict
    // item 3): a fresh JVM's first post-warm reps still carry JIT
    // compilation for the heavier plans — q131's x10 reps declined
    // monotonically 6.74→2.94 s within one run, so a median over reps
    // 1–5 overstated the steady cost it exists to record. WARM=2 puts
    // the median past the C2 ramp; task-seconds stay the cross-check.
    val warms = sys.env.getOrElse("SPARK_GRAFT_SCALE_WARM", "1").toInt.max(1)
    val fragments = run.map { name =>
      val bw = (1 to warms).map(_ => timed(name, base)).head
      val b = Seq.fill(reps)(timed(name, base))
      val xw = (1 to warms).map(_ => timed(name, scaled)).head
      val x = Seq.fill(reps)(timed(name, scaled))
      val ratio = med(x.map(_.wall)) / med(b.map(_.wall))
      val taskRatio = med(x.map(_.taskSec)) / med(b.map(_.taskSec))
      println(f"[scale] $name%-24s base ${f2(bw.wall)}|${b.map(v => f2(v.wall)).mkString("/")} s   " +
        f"x$factor ${f2(xw.wall)}|${x.map(v => f2(v.wall)).mkString("/")} s   " +
        f"ratio ${f2(ratio)} (task ${f2(taskRatio)})")
      def arr(rs: Seq[Rep], f: Rep => Double) = rs.map(r => f2(f(r))).mkString(",")
      name -> (s""""$name":{"base":[${arr(b, _.wall)}],"x$factor":[${arr(x, _.wall)}],""" +
        s""""base_task":[${arr(b, _.taskSec)}],"x${factor}_task":[${arr(x, _.taskSec)}],""" +
        s""""base_cpu":[${arr(b, _.cpuSec)}],"x${factor}_cpu":[${arr(x, _.cpuSec)}],""" +
        s""""base_med":${f2(med(b.map(_.wall)))},"x${factor}_med":${f2(med(x.map(_.wall)))},""" +
        s""""ratio":${f2(ratio)},"task_ratio":${f2(taskRatio)}}""")
    }

    // append fragments for a later --assemble
    Files.write(Paths.get(parts),
      (fragments.map(_._2).mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    println(s"[scale] appended ${fragments.size} fragment(s) to $parts")
    spark.stop()
  }

  /** parts file (one JSON fragment per line, `"name":{...}`) → BENCH_SCALE.json,
    * in canonical `targets` order regardless of measurement order. */
  private def assemble(parts: String): Unit = {
    val lines = Files.readAllLines(Paths.get(parts)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
    // last fragment wins per query: a rerun of one query supersedes
    val byName = lines.map { l =>
      val name = l.drop(1).takeWhile(_ != '"')
      name -> l
    }.toMap
    val ordered = targets.filter(byName.contains).map(byName)
    val missing = targets.filterNot(byName.contains)
    require(missing.isEmpty,
      s"parts file $parts missing ${missing.size} queries: ${missing.mkString(",")}")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    writeRecord(factor, base, scaled, ordered)
  }

  private def writeRecord(factor: Int, base: String, scaled: String,
      fragments: Seq[String]): Unit = {
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // totals recomputed from the per-query medians embedded in fragments
    def medOf(frag: String, key: String): Double = {
      val i = frag.indexOf(s""""$key":""")
      require(i >= 0, s"fragment missing $key")
      frag.drop(i + key.length + 3).takeWhile(c => c.isDigit || c == '.' || c == '-').toDouble
    }
    val totalB = fragments.map(medOf(_, "base_med")).sum
    val totalX = fragments.map(medOf(_, s"x${factor}_med")).sum
    val json =
      s"""{"factor":$factor,"base":"$base","scaled":"$scaled",""" +
        s""""methodology":"fresh JVM per query (tools/bench_scale.sh); reps are median-of-N steady after >=1 discarded warm-up reps (SPARK_GRAFT_SCALE_WARM; flagged heavy queries re-recorded at WARM=2 REPS=5 so the median sits past the JIT ramp); task/cpu arrays = executor task-seconds and CPU-seconds per rep",""" +
        s""""total_base_sec":${f2(totalB)},"total_x${factor}_sec":${f2(totalX)},""" +
        s""""total_ratio":${f2(totalX / totalB)},"queries":{${fragments.mkString(",")}}}"""
    Files.write(Paths.get("BENCH_SCALE.json"), json.getBytes(StandardCharsets.UTF_8))
    println(json.take(400) + " …")
  }

  /** Materialize the `factor`× documents/embeddings slice under `out`. */
  private def generate(spark: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    val reps = spark.range(factor).select(col("id").as("k"))
    val docs = spark.read.parquet(s"$base/documents.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("text",
        when(col("k") === 0L, col("text")).otherwise(expr(
          "array_join(transform(split(text, ' '), t -> concat(t, '_', CAST(k AS STRING))), ' ')")))
      .select(
        (col("doc_id") + col("k") * lit(Stride)).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    // 64 output files, not 8: a slice holding 10x the data in 8 files
    // runs its scan/map stages at 8 tasks on 32 cores — the smoke then
    // measures file-layout starvation, not the plan (a real cluster
    // reading 10x the data gets ~10x the splits). Splits must scale
    // with volume for the ratio to mean anything.
    docs.repartition(64).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    val embSrc = spark.read.parquet(s"$base/embeddings.parquet")
    // rotation by k is only a distinct isometry for k < dims: slice
    // lengths go negative past it and k == dims is the identity (an
    // exact replica-0 duplicate, silently breaking the decorrelation
    // the linear-scaling argument rests on — reviewed round 5).
    // Round 10 (the 100× smoke needs factor > dims): replicas
    // dims ≤ k < 2·dims rotate by (k − dims) and NEGATE — negation is
    // an isometry too, and rotation∘negation never equals a pure
    // rotation of a non-null vector, so all 2·dims transforms stay
    // pairwise distinct.
    val dims = embSrc.select(size(col("embedding"))).head.getInt(0)
    require(factor <= 2 * dims,
      s"scale factor $factor exceeds 2x embedding dims ${2 * dims} — replicas would collide")
    val rotSql =
      s"""concat(slice(embedding, CAST(k % $dims AS INT) + 1,
         |              size(embedding) - CAST(k % $dims AS INT)),
         |       slice(embedding, 1, CAST(k % $dims AS INT)))""".stripMargin
    val embs = embSrc
      .crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("k") * lit(Stride)).as("vec_id"),
        when(col("k") === 0L, col("embedding"))
          .when(col("k") < dims.toLong, expr(rotSql))
          .otherwise(expr(s"transform($rotSql, x -> -x)"))
          .as("embedding"),
        col("label"))
    embs.repartition(64).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    // TPC tables for the doc-assembly cost center (round-9 verdict item
    // 8: the 100× smoke names q52, whose input is orders⋈lineitem, not
    // the corpus tables). Replica k offsets every key by k·Stride —
    // joins stay within-replica, group SIZES stay constant while group
    // COUNT scales, the same linear-scaling construction as documents.
    for ((tbl, keys) <- Seq(
        "orders" -> Seq("o_orderkey"),
        "lineitem" -> Seq("l_orderkey"),
        // events (round 12 session 3, for q159): replica k offsets both
        // ids — each replica is a fresh cohort of users with the
        // IDENTICAL session structure, so session SIZE stays constant
        // while session count scales. Timestamps are untouched (the
        // session-window key is (user, gap-island); same-ts rows across
        // replicas are different users and never meet).
        "events" -> Seq("event_id", "user_id"))) {
      val src = spark.read.parquet(s"$base/$tbl.parquet")
      keys.foldLeft(src.crossJoin(broadcast(reps))) { case (df, kcol) =>
          df.withColumn(kcol, col(kcol) + col("k") * lit(Stride))
        }
        .drop("k")
        .repartition(64).write.mode("overwrite")
        .parquet(s"$out/$tbl.parquet")
    }
    println(s"[scale] generated ${factor}x slice at $out")
  }
}
