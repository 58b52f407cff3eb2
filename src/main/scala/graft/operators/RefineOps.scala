package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-refinement operators: the curation decisions a pipeline makes
  * AFTER the detection passes ([[DedupOps]], [[TextOps]]) have produced
  * their signals — which copy of a duplicate to keep, which repeated
  * content to strip inside a document, where duplicated content leaks
  * between sources, what each source is actually about, and what a dedup
  * pass would buy before anyone pays for it.
  *
  * Reference lineage: the reference keeps FIRST-occurrence winners
  * everywhere it dedups (`bin/main.py:123-140` re-harvest skip;
  * `fileutil.py` overwrite-if-absent) — these operators generalize that
  * to content-aware keeper policies, the direction every LLM-corpus
  * pipeline extends it (CCNet, Gopher, RefinedWeb keep the best-scoring
  * copy, not the first).
  */
object RefineOps {

  /** Quality-aware exact-dedup keeper: duplicate clusters come from
    * `keyExpr` (the same manufactured-collision key as q34), but the
    * keeper is the cluster's argmax-[[TextOps.qualityScored]] document
    * (tie → smaller doc_id) instead of first-occurrence-wins — "keep the
    * cleanest copy", the RefinedWeb/CCNet policy, vs q34's "keep the
    * first seen". One row per document: its cluster key, quality, the
    * cluster's keeper, and whether this row is it.
    *
    * Shape at 100 TB: quality is a per-row narrow derivation (no
    * shuffle); ONE shuffle on the cluster key feeds both the rank window
    * and the keeper broadcast-back (same-key join reuses the exchange).
    * The rank window is per-cluster (bounded by cluster size), never
    * corpus-wide. */
  def qualityKeeperDedup(documents: DataFrame, keyExpr: String): DataFrame = {
    val scored = TextOps.qualityScored(documents)
      .withColumn("dedup_key", expr(keyExpr))
      .select(col("doc_id"), col("dedup_key"), col("quality"))
    val w = Window.partitionBy("dedup_key")
      .orderBy(col("quality").desc, col("doc_id").asc)
    val ranked = scored.withColumn("rk", row_number().over(w))
    val keepers = ranked.filter(col("rk") === 1)
      .select(col("dedup_key"), col("doc_id").as("keeper_doc_id"))
    ranked.join(keepers, Seq("dedup_key"))
      .select(col("doc_id"), col("dedup_key"), col("quality"),
        col("keeper_doc_id"), (col("rk") === 1).as("kept"))
  }

  /** Within-document repeated-line removal: a line that already occurred
    * EARLIER IN THE SAME DOCUMENT is dropped; the document re-assembles
    * from its surviving lines in order. The intra-doc sibling of the
    * corpus-level passes (q65 first-occurrence segments, q110 df-census
    * boilerplate) — crawled pages repeat their own nav blocks and
    * chorus/menu lines, and repetition-heavy docs inflate n-gram stats
    * downstream (the Gopher dup_word_frac signal made actionable).
    *
    * Input: `(doc_id, lines array<string>)` ([[TextOps.linesOf]] or a
    * real newline split). Output: `doc_id, n_lines, n_kept, n_dropped,
    * clean_text`.
    *
    * Shape at 100 TB: ZERO shuffles — first-occurrence-within-array is a
    * pure per-row computation (`filter` with the positional lambda:
    * survivors are positions where `array_position` — the FIRST index of
    * the value — equals the position itself). O(lines²) per document,
    * bounded by document length, embarrassingly parallel; contrast the
    * window-over-(doc,line) phrasing, which would shuffle the whole
    * corpus twice for a per-row answer. */
  def dedupLinesWithinDoc(docLines: DataFrame): DataFrame =
    docLines.select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        expr("filter(lines, (l, i) -> array_position(lines, l) = i + 1)")
          .as("kept_lines"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept_lines")).cast("long").as("n_kept"),
        (col("n_lines") - size(col("kept_lines")).cast("long")).as("n_dropped"),
        array_join(col("kept_lines"), "\n").as("clean_text"))

  /** Cross-source duplication leakage matrix: for every source pair, how
    * many DISTINCT `segTokens`-token segments they share — the readout a
    * curator checks before mixing sources into one training recipe
    * (mirror sites, syndicated feeds and re-crawls show up as a hot
    * pair; q78 answers the same question probabilistically via MinHash,
    * this is the exact segment-census form). `containment_ppm` scales
    * the overlap by the smaller side, the asymmetric-size-robust
    * normalization.
    *
    * Shape at 100 TB: segment rows collapse to per-(segment, source)
    * presence via a partial-agg distinct (map-side combine), then the
    * pair join is PER SEGMENT KEY with at most |sources| rows a side —
    * fan-out is bounded by sources², never by corpus size. Per-source
    * distinct-segment counts ride a tiny broadcast join back onto the
    * pair counts. The presence table is localCheckpointed — it has FOUR
    * consumers (both join sides + two per-source count broadcasts), and
    * without the checkpoint each one re-runs the corpus tokenize +
    * explode + distinct (measured: 4 parquet scans in the plan; the q69
    * tf-checkpoint discipline). */
  def sourceLeakageMatrix(documents: DataFrame, segTokens: Int = 8): DataFrame = {
    val pres = TextOps.linesOf(documents, segTokens, keep = Seq("source"))
      .select(col("source"), explode(col("lines")).as("seg"))
      .distinct()
      .localCheckpoint()
    val perSource = pres.groupBy("source")
      .agg(count(lit(1)).as("n_segs"))
    val a = pres.select(col("seg"), col("source").as("source_a"))
    val b = pres.select(col("seg"), col("source").as("source_b"))
    a.join(b, Seq("seg"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_segs"))
      .join(broadcast(perSource.select(col("source").as("source_a"),
        col("n_segs").as("n_segs_a"))), Seq("source_a"))
      .join(broadcast(perSource.select(col("source").as("source_b"),
        col("n_segs").as("n_segs_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_segs"),
        col("n_segs_a"), col("n_segs_b"),
        expr("shared_segs * 1000000L div least(n_segs_a, n_segs_b)")
          .as("containment_ppm"))
  }

  /** Per-source TF-IDF keyword extraction: the `topK` terms that most
    * distinguish each source from the rest of the corpus — the
    * one-glance "what is this source about" readout behind source
    * weighting and recipe design. IDF is the RATIONAL form
    * `n_docs / df` (a single exact double division; the textbook `log`
    * variant would drift across engines' libm — same discipline as the
    * q96 integer-surprise scores), and the score is one further exact
    * multiply, so ranks replay bit-identically in the oracle.
    *
    * Shape at 100 TB: ONE corpus tokenize+explode pass collapses to
    * per-(doc, term) counts (map-side combine), localCheckpointed — both
    * downstream frequency tables derive from it (tf = sum over docs per
    * (source, term); df = row count per term, since a document carries
    * exactly one source), so the corpus is scanned once, not once per
    * aggregation (the q69 tf-checkpoint discipline). The df table joins
    * tf on the term key — high-cardinality, distributes; a hot stopword
    * key is AQE's skew case. The corpus doc count rides a 1-row
    * broadcast. The final per-source rank window is WindowGroupLimit
    * over |sources| partitions. */
  def tfidfKeywords(documents: DataFrame, topK: Int = 3): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val tfDoc = TextOps.tokenized(documents)
      .select(col("doc_id"), col("source"), explode(col("tk")).as("term"))
      .groupBy("doc_id", "source", "term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val tf = tfDoc.groupBy("source", "term").agg(sum(col("cnt")).as("tf"))
    val df = tfDoc.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr(
        "CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("source", "rank", "term", "tf", "df", "score")
  }

  /** Incremental (new-batch-vs-index) near-dup detection: which
    * documents of an incoming batch near-duplicate the EXISTING corpus —
    * the ingest-time gate every continuously-crawled training corpus
    * runs, where re-deduping the whole corpus per batch is a non-starter.
    * Membership in the batch comes from `batchExpr` (a boolean SQL
    * expression over the document row; a real deployment passes its
    * batch predicate or reads the index side from its stored signature
    * table).
    *
    * One row per batch document: `is_dup` (a verified Jaccard ≥
    * `minJaccard` match into the index side exists), the best-matching
    * index document (ties → higher Jaccard, then smaller id; −1 when
    * none) and its Jaccard (0.0 when none).
    *
    * Shape at 100 TB: the banding pass runs ONCE over all rows
    * (checkpointed — both split sides consume it; in production the
    * index side IS the stored signature table and this pass is the new
    * batch only); the candidate join is new-bands ⋈ index-bands on
    * (band, bucket) — never new×index all-pairs, and CRITICALLY never
    * index×index: candidate and verify work scale with the BATCH, not
    * the corpus (the whole point vs re-running [[DedupOps
    * .minhashCandidatePairs]] and post-filtering straddling pairs). The
    * verify is the exploded shingle equi-join with `merge` hints (the
    * round-5/round-6 broadcast-trap lesson: Generate's size estimate
    * tricks Catalyst into broadcasting exploded corpora). */
  def incrementalDedup(documents: DataFrame, batchExpr: String,
      minJaccard: Double = 0.5): DataFrame = {
    val ids = documents.select(col("doc_id"), expr(batchExpr).as("is_new"))
    val banded = DedupOps.lshBanded(documents)
      .join(ids, Seq("doc_id")).localCheckpoint()
    val nb = banded.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
    val ib = banded.filter(!col("is_new"))
      .select(col("doc_id").as("idx_id"), col("band"), col("bucket"))
    val cand = nb.join(ib, Seq("band", "bucket"))
      .select("new_id", "idx_id").distinct()
    val sh = TextOps.shingled(documents)
      .select(col("doc_id"), col("sh")).localCheckpoint()
    val sizes = sh.select(col("doc_id"), size(col("sh")).cast("long").as("nsh"))
    val shr = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val scored = cand
      .join(shr.select(col("doc_id").as("new_id"), col("g")).hint("merge"),
        Seq("new_id"))
      .join(shr.select(col("doc_id").as("idx_id"), col("g"), lit(1).as("hit"))
        .hint("merge"), Seq("idx_id", "g"), "left")
      .groupBy("new_id", "idx_id")
      .agg(count(lit(1)).as("nn"), count(col("hit")).as("c"))
      .join(sizes.select(col("doc_id").as("idx_id"), col("nsh").as("ni"))
        .hint("merge"), Seq("idx_id"))
      .withColumn("jaccard", expr("CAST(c AS DOUBLE) / (nn + ni - c)"))
      .filter(col("jaccard") >= minJaccard)
    val w = Window.partitionBy("new_id")
      .orderBy(col("jaccard").desc, col("idx_id").asc)
    val best = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("new_id").as("doc_id"), col("idx_id").as("matched_doc_id"),
        col("jaccard").as("best_jaccard"))
    ids.filter(col("is_new")).select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("matched_doc_id").isNotNull.as("is_dup"),
        coalesce(col("matched_doc_id"), lit(-1L)).as("matched_doc_id"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
  }

  /** The tiered dedup funnel, end-to-end: exact → MinHash/LSH near-dup →
    * embedding SemDeDup, each tier pruning the previous tier's
    * SURVIVORS — the composition every production curation pipeline
    * actually runs (cheap exact hashing first so the expensive tiers see
    * a smaller corpus; semantic pruning last because it is the most
    * aggressive). One report row per tier: documents in/out, removed,
    * surviving character mass, and the tier's removal in ppm of the
    * ORIGINAL corpus — the funnel readout that says which tier earns its
    * cost (read next to q118's ROI curve and q84's bucket health).
    *
    * Keeper policy is first-occurrence-wins at every tier (q34/q54
    * semantics); near-dup removal is single-hop — a document is removed
    * iff a VERIFIED partner with a smaller id survives into its tier's
    * input (the [[SimOps.cosineNearDupKeepers]] contract; full
    * transitive closure is [[DedupOps.componentKeepers]]' job when
    * cluster semantics are wanted). Tier 3 prunes only documents that
    * HAVE an embedding (vec_id = doc_id where present) — exactly the
    * deployment reality that not every document is embedded.
    *
    * Shape at 100 TB: tier 1 is one cluster-key exchange; tier 2 is
    * [[DedupOps.minhashCandidatePairs]] restricted to tier-1 survivors
    * (LSH-bounded, merge-hinted); tier 3 is [[ClusterOps
    * .semDedupKeepers]] over the surviving embeddings (within-cluster
    * pairs only — callers scale `k` via [[ClusterOps.kForCorpus]]). The
    * report assembly is four 1-row aggregates and a 4-row window. */
  def dedupFunnel(documents: DataFrame, embeddings: DataFrame,
      keyExpr: String, minJaccard: Double = 0.5, minCosine: Double = 0.3,
      k: Int = 8): DataFrame = {
    val docs = documents.select(col("doc_id"), col("n_chars"),
      col("text"), expr(keyExpr).as("dedup_key"))
    // tier 1: exact first-occurrence-wins on the cluster key
    val w1 = Window.partitionBy("dedup_key").orderBy("doc_id")
    val t1 = docs.withColumn("rk", row_number().over(w1))
      .filter(col("rk") === 1).select("doc_id").localCheckpoint()
    // tier 2: verified LSH near-dup among tier-1 survivors; removed =
    // has a verified partner with a smaller surviving id
    val d1 = documents.join(t1, Seq("doc_id"), "left_semi")
    val removed2 = DedupOps.minhashCandidatePairs(d1)
      .filter(col("jaccard") >= minJaccard)
      .select(col("b").as("doc_id")).distinct()
    val t2 = t1.join(removed2, Seq("doc_id"), "left_anti").localCheckpoint()
    // tier 3: SemDeDup over the survivors that have embeddings
    val e2 = embeddings.join(t2.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val removed3 = ClusterOps.semDedupKeepers(e2, minCosine, k)
      .filter(!col("kept")).select(col("vec_id").as("doc_id"))
    val t3 = t2.join(removed3, Seq("doc_id"), "left_anti")
    def tierRow(tier: String, ids: DataFrame) =
      documents.join(ids, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("docs_out"), sum(col("n_chars")).as("chars_out"))
        .select(lit(tier).as("tier"), col("docs_out"), col("chars_out"))
    val all = documents.select("doc_id")
    val rows = tierRow("0_all", all)
      .unionByName(tierRow("1_exact", t1))
      .unionByName(tierRow("2_minhash", t2))
      .unionByName(tierRow("3_semantic", t3))
    // 4 tier rows; constPartitionKey keeps the bounded global window out
    // of WindowExec's single-partition WARN (same exchange count).
    val wt = Window
      .partitionBy(graft.functions.Scalars.constPartitionKey(col("tier")))
      .orderBy("tier")
    val totals = documents.agg(count(lit(1)).as("total_docs"))
    rows
      .withColumn("docs_in",
        coalesce(lag(col("docs_out"), 1).over(wt), col("docs_out")))
      .crossJoin(broadcast(totals))
      .select(col("tier"), col("docs_in"), col("docs_out"),
        (col("docs_in") - col("docs_out")).as("removed_docs"),
        col("chars_out"),
        expr("(docs_in - docs_out) * 1000000L div total_docs")
          .as("removed_ppm"))
      .orderBy("tier")
  }

  /** Snapshot diff of two corpus versions keyed on document id: `added`
    * (only in v2), `removed` (only in v1), `modified` (both, content
    * hash differs) — unchanged rows are deliberately NOT emitted (the
    * diff of two 100 TB snapshots is interesting precisely because it is
    * small). The incremental-crawl bookkeeping op: what changed between
    * this crawl and the last one decides what re-enters the curation
    * pipeline (the reference's re-harvest skips unchanged components the
    * same way — `bin/main.py:123-140`).
    *
    * Shape at 100 TB: both sides reduce to `(doc_id, h60(text))` at the
    * scan (narrow, column-pruned), then ONE co-partitioned full-outer
    * join on doc_id; the status derivation is per-row. Nothing here
    * carries document text past the hash. */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"),
      graft.functions.Scalars.h60(col("text")).as("h1"))
    val b = v2.select(col("doc_id"),
      graft.functions.Scalars.h60(col("text")).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "modified"))
      .filter(col("status").isNotNull)
      .select("doc_id", "status")
  }

  /** Leakage-safe train/val/test split: the split is decided per
    * DUPLICATE CLUSTER, not per document — every member of a cluster
    * hashes to the same split, so near-identical text can never sit on
    * both sides of a train/eval boundary (the contamination a naive
    * per-doc split bakes in, and the reason eval decontamination (q62)
    * exists at all — this op prevents upstream what q62 detects
    * downstream). Cluster identity = the first-occurrence keeper of
    * `keyExpr`; split = `h60(keeper) mod 10` → 0–7 train / 8 val /
    * 9 test (deterministic, engine-exact, and STABLE under corpus
    * growth: a cluster's split never changes when unrelated documents
    * arrive, unlike percentile- or rank-based splitters).
    *
    * Shape at 100 TB: ONE exchange on the cluster key (the keeper agg),
    * re-used by the assignment join-back; the hash gate is per-row. */
  def leakageSafeSplit(documents: DataFrame, keyExpr: String): DataFrame = {
    val keyed = documents.select(col("doc_id"), expr(keyExpr).as("dedup_key"))
    val keepers = keyed.groupBy("dedup_key")
      .agg(min(col("doc_id")).as("keeper_doc_id"))
    keyed.join(keepers, Seq("dedup_key"))
      .withColumn("bucket",
        graft.functions.Scalars.h60(col("keeper_doc_id").cast("string")) % 10)
      .select(col("doc_id"), col("keeper_doc_id"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"))
  }

  /** Dedup yield curve: for each duplicate-cluster SIZE, how many
    * clusters exist and how many characters a keep-one-per-cluster pass
    * would delete — the return-on-investment readout a curator reads
    * BEFORE running dedup at corpus scale (the q113 read-the-knob
    * discipline applied to dedup itself: if 99 % of removable mass sits
    * in size-2 clusters, exact dedup suffices and the LSH pass can
    * wait). Keeper = first occurrence (min doc_id), matching q34.
    *
    * `removable_ppm` is each bucket's share of TOTAL corpus characters,
    * in integer ppm — cross-engine exact.
    *
    * Shape at 100 TB: one shuffle on the cluster key with map-side
    * combine (the per-cluster agg folds count, char sum, and the
    * keeper's chars via `min_by`-as-struct-min in a single pass), then a
    * tiny groupBy on cluster size; corpus totals ride a 1-row
    * broadcast. */
  def dedupYieldCurve(documents: DataFrame, keyExpr: String): DataFrame = {
    val keyed = documents.select(expr(keyExpr).as("dedup_key"),
      col("doc_id"), col("n_chars"))
    val clusters = keyed.groupBy("dedup_key")
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("n_chars")).as("cluster_chars"),
        min(struct(col("doc_id"), col("n_chars"))).as("keeper"))
      .select(col("cluster_size"), col("cluster_chars"),
        (col("cluster_chars") - col("keeper.n_chars")).as("removable_chars"))
    val totals = documents.agg(sum(col("n_chars")).as("total_chars"))
    clusters.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_chars")).as("bucket_chars"),
        sum(col("removable_chars")).as("removable_chars"))
      .crossJoin(broadcast(totals))
      .select(col("cluster_size"), col("n_clusters"), col("bucket_chars"),
        col("removable_chars"),
        expr("removable_chars * 1000000L div total_chars").as("removable_ppm"))
      .orderBy("cluster_size")
  }

  /** Per-source embedding affinity: each source's centroid in embedding
    * space (dimension-wise mean over its documents' vectors) and the
    * pairwise cosine between source centroids — the embedding-space
    * sibling of q97's token-distribution drift. Two sources whose
    * centroids are near-parallel cover the same semantic territory
    * (candidates for down-weighting in the q100 recipe); a source whose
    * centroid is far from every other is unique signal.
    *
    * Determinism: coordinates are micro-quantized once ([[ClusterOps]]'s
    * fixed-point contract), centroid means are exact BIGINT sums divided
    * in DOUBLE, and the output cosine is floored to integer ppm — every
    * bit replayable by the oracle.
    *
    * Shape at 100 TB: one narrow join (docs' (id, source) against
    * vectors), one posexplode + `groupBy(source, dim)` partial agg
    * (map-side combine collapses each partition to ≤ sources·dim rows
    * before the exchange — the [[ClusterOps]] recentering discipline),
    * then an all-pairs join over the ≤ |sources| centroid rows — bounded
    * by construction, never corpus-scale. */
  def sourceEmbeddingAffinity(documents: DataFrame,
      embeddings: DataFrame): DataFrame = {
    val v = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS DOUBLE))")
        .as("mvec"))
    val cent = documents
      .select(col("doc_id").as("vec_id"), col("source"))
      .join(v, Seq("vec_id"))
      .select(col("source"), posexplode(col("mvec")).as(Seq("dim", "mv")))
      .groupBy("source", "dim")
      .agg(sum(col("mv").cast("long")).as("sv"), count(lit(1)).as("n"))
      .groupBy("source")
      .agg(expr("transform(sort_array(collect_list(named_struct(" +
        "'dim', dim, 'v', CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)))), p -> p.v)")
        .as("cvec"),
        max(col("n")).as("n_docs"))
      .withColumn("c2", expr(s"${SimOps.dotX("cvec", "cvec")}"))
    val a = cent.select(col("source").as("source_a"), col("cvec").as("va"),
      col("c2").as("c2a"), col("n_docs").as("n_docs_a"))
    val b = cent.select(col("source").as("source_b"), col("cvec").as("vb"),
      col("c2").as("c2b"), col("n_docs").as("n_docs_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("n_docs_a"), col("n_docs_b"),
        expr(s"CAST(floor(${SimOps.dotX("va", "vb")} / (sqrt(c2a) * sqrt(c2b)) " +
          "* 1000000.0D) AS BIGINT)").as("cosine_ppm"))
  }

  /** Deterministic training-shard layout: the write-side global shuffle
    * that turns a curated corpus into the N equal-ish shards a training
    * job streams. Shard = content-free hash of the doc id (stable under
    * re-runs and corpus appends — an existing doc never moves shards);
    * position within the shard orders by the same hash (a deterministic
    * pseudo-random permutation, so each shard is an unbiased sample and
    * reading shards sequentially IS the shuffled epoch — the
    * shuffle-once-at-write-time discipline every large trainer uses
    * instead of shuffling at read time).
    *
    * Output: one row per doc — `doc_id, shard, pos` (pos is 0-based
    * within shard).
    *
    * Shape at 100 TB: the hash is per-row; ONE exchange on `shard`
    * (choose nShards so a shard fits an executor) and a within-shard
    * sort — exactly the `repartition(shard).sortWithinPartitions` plan
    * a parquet writer wants, expressed as a window so the layout is a
    * checkable result instead of a side effect. */
  def trainingShards(documents: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards >= 1)
    val w = Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)
    documents
      .select(col("doc_id"),
        graft.functions.Scalars.h60(concat(lit("shard:"), col("doc_id").cast("string")))
          .as("h"))
      .withColumn("shard", col("h") % nShards)
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .select("doc_id", "shard", "pos")
  }

  /** Token-budget corpus selection — the LAST act of curation: given a
    * training-token budget, keep the highest-quality documents until it
    * is spent (the greedy quality knapsack every data team runs after
    * filtering and dedup). The naive phrasing — order the corpus by
    * quality, cumulative-sum tokens, cut at the budget — is a
    * single-partition corpus-wide window (the q69 anti-pattern). Scale-
    * safe phrasing: the budget RESOLVES TO A QUALITY THRESHOLD over
    * bounded buckets — docs collapse map-side into ≤ 1001 ppt quality
    * buckets, the cumulative token window runs best-first over those
    * bounded rows, and a bucket is kept iff the budget covers
    * everything at or above it. The BOUNDARY bucket (the first one the
    * budget cannot swallow whole) is reported, not split: splitting it
    * requires a corpus-wide order BY DESIGN, and at 100 TB the honest
    * answer is "the threshold is quality ≥ X ppt; the boundary bucket
    * holds Y tokens against your Z remaining" — the operator returns
    * exactly that table. Output: one row per occupied bucket (best
    * first) with doc/token mass, running total, `kept`, and the
    * boundary flag. */
  def budgetSelection(documents: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0L, s"budgetTokens must be >= 0, got $budgetTokens")
    val buckets = TextOps.qualityScored(documents)
      .withColumn("bucket",
        expr("CAST(floor(quality * CAST(1000.0 AS DOUBLE)) AS BIGINT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    // ≤ 1001 bucket rows; constPartitionKey keeps the bounded global
    // window out of WindowExec's single-partition WARN
    val w = Window
      .partitionBy(graft.functions.Scalars.constPartitionKey(col("bucket")))
      .orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept", col("cum_tokens") <= lit(budgetTokens))
      .withColumn("boundary",
        !col("kept") &&
          (col("cum_tokens") - col("n_tokens")) <= lit(budgetTokens))
      .select("bucket", "n_docs", "n_tokens", "cum_tokens", "kept", "boundary")
  }

  /** CROSS-document paragraph dedup with corpus rewrite — the Dolma /
    * RefinedWeb "paragraph dedupe" pass: the FIRST occurrence of each
    * distinct paragraph corpus-wide (ordered by `(doc_id, pos)`) is
    * kept; every other occurrence — in other documents AND later in the
    * same document — is dropped, and each document is re-assembled from
    * its surviving paragraphs in original order. The global companion
    * to [[dedupLinesWithinDoc]] (per-doc only) and
    * [[TextOps.stripBoilerplateLines]] (df-threshold census: drops ALL
    * occurrences, keeps none).
    *
    * Input: `(doc_id, lines array<string>)` (e.g. [[TextOps.linesOf]] or
    * a real paragraph split). Output per document: `n_lines`, `n_kept`,
    * `n_dropped`, `clean_text` (survivors '\n'-joined).
    *
    * Shape at 100 TB: the winner census is `min(struct(doc_id, pos))`
    * per line — a line-keyed PARTIAL aggregation (map-side combine
    * collapses every local occurrence before the shuffle), deliberately
    * NOT a `row_number` window: a window partitioned on the line text
    * moves every occurrence of a hot boilerplate paragraph to one task,
    * while the agg reduces hot keys per-partition first (skew-proof by
    * construction). Census keys and the join-back identity carry
    * `h60(line)` LONGS, never the paragraph text (the q38/q149 lesson;
    * the 100× smoke on raw string keys read per-row CPU ×3.3 — hashing
    * returns it to the band). An h60 collision merges two paragraphs
    * IDENTICALLY in both engines (the oracle partitions by the same
    * md5-prefix hash), so results stay bit-exact; the rebuild is a
    * doc-keyed partial agg. */
  def dedupParagraphsAcrossDocs(docLines: DataFrame): DataFrame = {
    // posexplode_OUTER: a zero-line document survives to the output
    // (its null row counts as no line); ONE exploded derivation feeds
    // both the census and the rebuild (the q110 single-subtree lesson).
    val ex = docLines.select(col("doc_id"),
      posexplode_outer(col("lines")).as(Seq("pos", "line")))
      .withColumn("h", expr("h60(line)"))
    val winners = ex.filter(col("pos").isNotNull)
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("h"), col("w.doc_id").as("doc_id"),
        col("w.pos").as("pos"), lit(true).as("keep"))
    ex.join(winners, Seq("h", "doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(count(col("pos")).as("n_lines"),
        sum(when(col("keep").isNotNull, 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips nulls: losers and the outer-explode null
        // row drop out; survivors sort back into original position
        expr("""array_join(transform(
                |  array_sort(collect_list(CASE WHEN keep
                |    THEN struct(pos, line) END)), s -> s.line), '\n')"""
          .stripMargin).as("clean_text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_dropped"), col("clean_text"))
  }

  /** Dedup-weighted training mass — the SOFT alternative to dropping
    * duplicates: every document stays in the corpus but its loss weight
    * is `1/cluster_size` over the q57 transitive-closure near-dup
    * clusters, so each duplicated content unit counts ONCE in training
    * expectation (the count-once weighting studied as the
    * memorization-safe alternative to hard dedup — dropping loses the
    * distributional signal of which content is popular; weighting keeps
    * it at unit mass). Output per document: its cluster, the cluster
    * size, the integer ppm weight, and its token mass before/after
    * weighting — the per-source rollup a curator reads is one groupBy
    * away.
    *
    * Determinism: weights are `1000000 div cluster_size` — positive
    * BIGINTs end to end (div ≡ //); the clusters are q57's
    * oracle-proven closure.
    *
    * Shape at 100 TB: identical to q57 (LSH candidates → verified edges
    * → O(log d) star contraction behind localCheckpoint) plus one
    * bounded census agg and two doc-keyed joins; the weighting itself
    * adds no new corpus-scale shape. */
  def dedupWeightedMass(documents: DataFrame,
      jaccardMin: Double = 0.5): DataFrame = {
    val pairs = DedupOps.minhashCandidatePairs(documents)
      .filter(col("jaccard") >= jaccardMin).select("a", "b")
    val labels = DedupOps.componentKeepers(pairs)
      .withColumnRenamed("id", "doc_id")
    val clusters = documents.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val census = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    val toks = TextOps.tokenized(documents)
      .select(col("doc_id"), expr("CAST(size(tk) AS BIGINT)").as("n_tokens"))
    clusters
      .join(census, Seq("cluster_id"))
      .join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        expr("1000000L div cluster_size").as("weight_ppm"),
        col("n_tokens"),
        expr("(n_tokens * 1000000L) div cluster_size").as("weighted_tokens_ppm"))
  }

  /** Preference-pair construction for DPO/RLHF-style training (Rafailov
    * et al.'s direct preference optimization consumes (prompt, chosen,
    * rejected) triples; every RLHF data pipeline builds them from rated
    * candidate responses): within each (user, task) group of rated
    * events, the top-rated event is `chosen`, the bottom-rated
    * `rejected`, ties broken toward the EARLIER event id on both sides
    * (reproducible under re-runs). Groups need >= 2 events and a
    * strictly positive rating gap — a tie carries no preference signal.
    * The gap is the single subtraction of the two stored doubles
    * (replayed verbatim in the oracle, never re-derived).
    *
    * Shape at 100 TB: ONE groupBy with two max/min(struct) PARTIAL
    * aggregates (the q146/q147 rule) — the exchange carries one row per
    * group, never the event fan-in; no join, no window. */
  def preferencePairs(events: DataFrame): DataFrame = {
    // NULL ratings carry no preference signal — and the engines disagree
    // on them: Spark's struct ordering sorts a NULL field SMALLEST (a
    // null-valued row would win `bot`), while the oracle's ROW_NUMBER
    // ORDER BY value ASC puts NULLs last. Dropping them up front keeps
    // both sides literally identical. The `-event_id` tie-break flip
    // assumes event_id > Long.MinValue (negation overflows there); any
    // real id space satisfies it.
    val rated = events.filter(col("value").isNotNull)
    val grouped = rated.groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("n_rated"),
        max(struct(col("value"), (-col("event_id")).as("neg_id")))
          .as("top"),
        min(struct(col("value"), col("event_id"))).as("bot"))
    grouped
      .filter(col("n_rated") >= 2L && col("top.value") > col("bot.value"))
      .select(col("user_id"), col("event_type"), col("n_rated"),
        (-col("top.neg_id")).as("chosen_id"),
        col("bot.event_id").as("rejected_id"),
        col("top.value").as("chosen_value"),
        col("bot.value").as("rejected_value"),
        (col("top.value") - col("bot.value")).as("gap"))
  }
}
