package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import SimOps.dotX

/** Embedding-space clustering for the training-data pipeline: a
  * deterministic Lloyd k-means and the SemDeDup-style semantic
  * near-duplicate pruning built on top of it (cluster first, then compare
  * only within a cluster — Abbas et al., "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication", 2023).
  *
  * Cross-engine determinism (the DuckDB oracle must replay every bit):
  *
  *  - **Fixed-point coordinates.** Each float coordinate is quantized
  *    once to an integer number of micro-units,
  *    `floor(x * 1e6 + 0.5)`, carried as an integer-valued DOUBLE.
  *    Centroid updates then sum BIGINTs — exact and order-independent,
  *    where a float sum would depend on partitioning. The quantization
  *    error (≤ 5e-7 per coordinate) is irrelevant to cluster assignment
  *    quality and is part of the operator's published contract.
  *  - **One distance formula.** `d²(v, c) = v·v + c·c − 2·(v·c)` with
  *    every dot product the sequential [[graft.functions.DotProduct]]
  *    fold — identical text in the oracle, so ties and near-ties
  *    resolve identically. Ties break toward the smaller cluster id
  *    via lexicographic `(dist, cluster)` minimization.
  *  - **Deterministic seeding.** Initial centroids are the k lowest
  *    ACTUAL vec_ids present (the [[SimOps.ivfAssign]] convention) — a
  *    top-k, not a `vec_id < k` filter, so a filtered corpus with
  *    non-dense ids still seeds fully instead of silently assigning
  *    NULL clusters from an empty seed set (round-5 advice). Trained
  *    RNG seeding would converge engine-dependently.
  *
  *    **Quality caveat**: lowest-id seeds are deterministic by contract
  *    but arbitrary in embedding space — if low ids correlate (e.g.
  *    ingestion order groups similar documents), seeds start clustered
  *    and Lloyd converges to a poor local optimum. At real scale prefer
  *    `seedMode = "hash"`: k lowest by md5-hash of vec_id, a
  *    deterministic analogue of k-means‖'s random oversampling
  *    (Bahmani et al., "Scalable k-means++", VLDB 2012) that spreads
  *    seeds uniformly over the corpus regardless of id layout, at the
  *    cost of no longer matching the lowid oracle fixture.
  *
  * Scale shape: centroids live in ONE collected array row that
  * broadcasts; assignment is a map-side HOF argmin over k candidates —
  * no shuffle, no k× row fanout (contrast a cross-join + groupBy argmin,
  * which shuffles k·N rows). The centroid update is a posexplode +
  * `groupBy(cluster, dim)` partial aggregation: map-side combine
  * collapses each partition to ≤ k·dim rows before the exchange, the
  * same discipline as q69's document-frequency fix. Long sums stay exact
  * below 2^63 micro-units ≈ 9e11 rows per cluster at |x| ≤ 10.
  */
object ClusterOps {

  /** `(cluster, cvec, c2)` rows → one broadcastable row holding all
    * centroids as `cents: array<struct<cluster, cvec, c2>>`, sorted by
    * cluster id (collect_list order is partition-dependent; the sort
    * restores determinism — argmin itself is order-free, but a
    * deterministic array keeps plans and profiles reproducible). */
  private def packed(cent: DataFrame): DataFrame =
    cent.agg(sort_array(collect_list(struct(
      col("cluster"), col("cvec"), col("c2")))).as("cents"))

  /** Map-side assignment: each vector picks the lexicographically
    * smallest `(dist, cluster)` over the packed centroid array. */
  private def assigned(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(packed(cent)))
      .withColumn("_best", expr(
        """array_min(transform(cents, c -> named_struct(
          |  'dist', m2 + c.c2 - 2.0D * dot_product(mvec, c.cvec),
          |  'cluster', c.cluster)))""".stripMargin))
      .select(col("vec_id"), col("mvec"), col("m2"),
        col("_best.cluster").as("cluster"))

  /** Lloyd recentering: mean of the member vectors, dimension-wise, as
    * exact BIGINT micro-unit sums divided in DOUBLE. Clusters that lose
    * every member drop out (k shrinks — deterministic, documented). */
  private def recentered(assign: DataFrame): DataFrame =
    assign
      .select(col("cluster"), posexplode(col("mvec")).as(Seq("dim", "mv")))
      .groupBy(col("cluster"), col("dim"))
      .agg(sum(col("mv").cast("long")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cluster"))
      .agg(expr("transform(sort_array(collect_list(named_struct(" +
        "'dim', dim, 'v', CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))), p -> p.v)")
        .as("cvec"))
      .withColumn("c2", expr(dotX("cvec", "cvec")))

  /** vec_id → cluster after `rounds` assignment passes (`rounds - 1`
    * Lloyd recenterings), plus the final cluster's member count.
    * Output: `vec_id, cluster, cluster_size`, integer-typed.
    *
    * `seedMode`: `"lowid"` (default) seeds from the k lowest vec_ids —
    * the oracle-replayable convention; `"hash"` seeds from the k lowest
    * `(md5-hash(vec_id), vec_id)` — deterministic hash-sampled spread
    * (see the seeding caveat in the object scaladoc). Both are a
    * driver-free top-k (`TakeOrderedAndProject`: per-partition heap,
    * single tiny merge). */
  /** The full Lloyd loop, returning the final `(vec_id, mvec, m2,
    * cluster)` assignment (localCheckpointed — safe to consume many
    * times). Shared spine of [[kmeansAssign]] and [[clusterQuality]]. */
  private def finalAssignment(embeddings: DataFrame, k: Int,
      rounds: Int, seedMode: String): DataFrame = {
    require(k >= 1 && rounds >= 1)
    require(seedMode == "lowid" || seedMode == "hash",
      s"seedMode must be 'lowid' or 'hash', got '$seedMode'")
    val vecs = embeddings
      .select(col("vec_id"),
        // Spark floor(double) yields LONG; cast back so mvec stays
        // array<double> for dot_product (values are integer-exact)
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS DOUBLE))")
          .as("mvec"))
      .withColumn("m2", expr(dotX("mvec", "mvec")))
    val seedBase = seedMode match {
      case "lowid" => vecs.orderBy(col("vec_id"))
      case "hash" => vecs.orderBy(
        expr(s"${TextOps.h60x("CAST(vec_id AS STRING)")}").asc,
        col("vec_id").asc)
    }
    val cent0 = seedBase.limit(k)
      .select(col("vec_id").as("cluster"), col("mvec").as("cvec"),
        col("m2").as("c2"))
    // Each round's assignment feeds BOTH the next recentering and the
    // next assignment (and the last one feeds sizes + the final join), so
    // an unbroken lineage would re-execute the whole prefix once per
    // consumer — exponential in `rounds`. localCheckpoint materializes
    // each round once (the [[DedupOps.componentKeepers]] fixpoint
    // discipline): O(N·dim) storage, linear work per round.
    val first = assigned(vecs, cent0).localCheckpoint()
    (2 to rounds).foldLeft(first) { (a, _) =>
      assigned(a, recentered(a)).localCheckpoint()
    }
  }

  def kmeansAssign(embeddings: DataFrame, k: Int = 8,
      rounds: Int = 2, seedMode: String = "lowid"): DataFrame = {
    val finalAssign = finalAssignment(embeddings, k, rounds, seedMode)
    val sizes = finalAssign.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    finalAssign.select("vec_id", "cluster")
      .join(broadcast(sizes), Seq("cluster"))
      .select("vec_id", "cluster", "cluster_size")
  }

  /** Per-cluster quality readout over the final k-means state — the
    * "is this codebook any good" census a clustering-driven pipeline
    * (SemDeDup pruning, IVF/PQ serving) checks before trusting the
    * partition: occupancy, inertia, the medoid, the worst member, and
    * the nearest other centroid (clusters whose `nn_dist2` is small
    * relative to `spread` are blurred together — candidates for
    * re-seeding or a larger k).
    *
    * Centroids here are the means of the FINAL members (one recentering
    * past the last assignment — the statistic a quality report wants),
    * so `inertia` is the classic within-cluster sum of squares against
    * the reported centroid. All distance outputs are floored to BIGINT
    * micro-units² — cross-engine-exact, and the sum stays exact below
    * 2^63 (≈ 9e5 rows/cluster at dim 8 with |x| ≤ 1; report full units
    * upstream if a corpus outgrows that).
    *
    * Output (≤ k rows): `cluster, cluster_size, inertia, medoid_id,
    * spread, nn_cluster, nn_dist2`; `nn_*` are NULL when k = 1.
    *
    * Shape at 100 TB: the member pass is ONE broadcast join of the
    * checkpointed assignment against the ≤ k-row centroid table plus a
    * per-cluster partial agg; the inter-centroid pass is a k×k
    * broadcast nested-loop over ≤ k rows per side — bounded by
    * construction, never corpus-scale. */
  def clusterQuality(embeddings: DataFrame, k: Int = 8,
      rounds: Int = 2, seedMode: String = "lowid"): DataFrame = {
    val assign = finalAssignment(embeddings, k, rounds, seedMode)
    val cent = recentered(assign)
    val md = assign.join(broadcast(cent), Seq("cluster"))
      .withColumn("dist2",
        col("m2") + col("c2") - lit(2.0) * expr(dotX("mvec", "cvec")))
    val stats = md.groupBy("cluster").agg(
        count(lit(1)).as("cluster_size"),
        sum(floor(col("dist2")).cast("long")).as("inertia"),
        min(struct(col("dist2").as("d"), col("vec_id").as("v"))).as("_med"),
        floor(max(col("dist2"))).cast("long").as("spread"))
      .select(col("cluster"), col("cluster_size"), col("inertia"),
        col("_med").getField("v").as("medoid_id"), col("spread"))
    val nn = cent.select(col("cluster"), col("cvec"), col("c2"))
      .join(broadcast(cent.select(col("cluster").as("oc"),
        col("cvec").as("ovec"), col("c2").as("o2"))),
        col("cluster") =!= col("oc"))
      .select(col("cluster"), struct(
        (col("c2") + col("o2") - lit(2.0) * expr(dotX("cvec", "ovec"))).as("d"),
        col("oc").as("c")).as("p"))
      .groupBy("cluster").agg(min(col("p")).as("q"))
      .select(col("cluster"), col("q").getField("c").as("nn_cluster"),
        floor(col("q").getField("d")).cast("long").as("nn_dist2"))
    stats.join(nn, Seq("cluster"), "left")
      .select(col("cluster"), col("cluster_size"), col("inertia"),
        col("medoid_id"), col("spread"), col("nn_cluster"), col("nn_dist2"))
  }

  /** Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"): rank every vector by squared distance to its FINAL
    * cluster centroid — `proto_rank` 1 is the most prototypical (easiest)
    * member — and mark the closest `pruneFrac` of each cluster `pruned`.
    * With abundant data, dropping the most prototypical examples beats
    * random pruning (they carry the least marginal signal); with scarce
    * data a caller inverts the flag and keeps them. Emitting the full
    * ranking (not just the flag) lets one pass serve any downstream
    * keep-fraction sweep.
    *
    * Determinism: distances are the same fixed-point micro-unit doubles
    * as [[clusterQuality]] (bit-exact across engines), ties break by
    * vec_id, and the prune threshold compares INTEGERS — `rank·10⁶ ≤
    * round(pruneFrac·10⁶)·size` — so no engine ever rounds a boundary
    * row differently.
    *
    * Shape at 100 TB: one broadcast centroid join (≤ k rows) + ONE
    * exchange on the cluster key feeding both the rank window and the
    * size count. Per-cluster work is bounded exactly as in
    * [[semDedupKeepers]]: callers scale k with the corpus
    * ([[kForCorpus]]), so no window partition outgrows an executor. */
  def prototypePruning(embeddings: DataFrame, pruneFrac: Double = 0.25,
      k: Int = 8, rounds: Int = 2, seedMode: String = "lowid"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pruneFrac >= 0.0 && pruneFrac <= 1.0,
      s"pruneFrac must be in [0,1], got $pruneFrac")
    val fracMicros = math.round(pruneFrac * 1000000.0)
    val assign = finalAssignment(embeddings, k, rounds, seedMode)
    val md = assign.join(broadcast(recentered(assign)), Seq("cluster"))
      .withColumn("dist2",
        col("m2") + col("c2") - lit(2.0) * expr(dotX("mvec", "cvec")))
    val w = Window.partitionBy("cluster")
      .orderBy(col("dist2").asc, col("vec_id").asc)
    val all = Window.partitionBy("cluster")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    md.select(col("vec_id"), col("cluster"),
        floor(col("dist2")).cast("long").as("dist2"),
        row_number().over(w).cast("long").as("proto_rank"),
        count(lit(1)).over(all).as("cluster_size"))
      .withColumn("pruned",
        col("proto_rank") * lit(1000000L) <= lit(fracMicros) * col("cluster_size"))
  }

  /** SemDeDup: within each k-means cluster, a vector is PRUNED when some
    * lower-id cluster-mate sits above `minCosine` (first-occurrence-wins,
    * the [[DedupOps.exactDupGroups]] F7 semantic); cosine is exact, on
    * the ORIGINAL float coordinates. One row per vector:
    * `vec_id, cluster, n_dups (lower-id near-dups), kept`.
    *
    * Scale shape: the only pair join is the within-cluster self-join —
    * the entire point of SemDeDup is that k is chosen to hold expected
    * cluster size ~constant (k ∝ N), so per-cluster work is bounded and
    * the join is a plain equi-join on the cluster key; a skewed giant
    * cluster is AQE skew-split like any hot join key. No all-pairs
    * anywhere.
    *
    * **Callers MUST scale k with the corpus** (round-5 advice): the
    * default k=8 is a fixture-scale convenience, not a scale answer —
    * at fixed k the expected cluster size grows linearly with N and the
    * self-join emits O((N/k)²·k) pairs. Pick k ≈ N / targetClusterSize
    * (SemDeDup's published runs use tens of thousands of clusters for
    * web-scale corpora); [[kForCorpus]] computes exactly that. */
  def semDedupKeepers(embeddings: DataFrame, minCosine: Double,
      k: Int = 8, rounds: Int = 2, seedMode: String = "lowid"): DataFrame = {
    // one materialization feeds the pair join's both sides and the final
    // keep-flag join — without it the embeddings⋈assignment shuffle join
    // would execute three times
    val e = SimOps.withNorm(embeddings)
      .join(kmeansAssign(embeddings, k, rounds, seedMode), Seq("vec_id"))
      .localCheckpoint()
    val lo = e.select(col("cluster"), col("vec_id").as("a"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val hi = e.select(col("cluster"), col("vec_id").as("b"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"))
    val dups = lo.join(hi, Seq("cluster"))
      .filter(col("a") < col("b"))
      .filter(expr(s"${dotX("emb_a", "emb_b")} / (norm_a * norm_b)") >= minCosine)
      .groupBy(col("b").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"))
    e.select("vec_id", "cluster")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (col("n_dups").isNull).as("kept"))
  }

  /** The k that holds expected cluster size at `targetClusterSize` for a
    * corpus of `corpusRows` — the value [[semDedupKeepers]]' scale
    * argument assumes the caller passes (counting the corpus first is
    * one cheap metadata-backed aggregate next to the pair join it
    * bounds). */
  def kForCorpus(corpusRows: Long, targetClusterSize: Long = 1000L): Int = {
    require(corpusRows >= 0 && targetClusterSize >= 1)
    math.max(1L, corpusRows / targetClusterSize).min(Int.MaxValue.toLong).toInt
  }

  /** Product quantization (the PQ of IVF-PQ): split each embedding into
    * `m` contiguous sub-vectors and run the SAME deterministic
    * fixed-point k-means ([[kmeansAssign]]) independently per subspace;
    * a vector's code is its m-tuple of subspace cluster ids. Memory at
    * serving time drops from dim·4 bytes to m code ids — the standard
    * compressed-ANN representation — while `cell_size` (occupancy of
    * each of the ≤ k^m code cells) is the balance readout that tells
    * you whether the codebook actually spreads the corpus.
    *
    * Subspace boundaries use integer `div` so both engines slice
    * identically for any dim (subspace s covers
    * (s·dim div m, (s+1)·dim div m]).
    *
    * Shape at 100 TB: m independent kmeansAssign chains (each the q73
    * shape: per-round 1-row centroid broadcast, localCheckpointed), an
    * m-way vec_id equi-join of narrow (vec_id, code) rows, and a cell
    * census bounded by k^m rows — broadcast back by construction. */
  def pqEncode(embeddings: DataFrame, m: Int = 2, k: Int = 4,
      rounds: Int = 2): DataFrame = {
    require(m >= 1 && k >= 1 && rounds >= 1,
      s"m, k, rounds must all be >= 1, got m=$m k=$k rounds=$rounds")
    // the m subspace k-means chains are INDEPENDENT (first joined below),
    // but each is a sequence of per-round localCheckpoint barriers —
    // submit them concurrently (guide §2.6) so the build pays the
    // barrier depth of ONE chain, not m chains
    val coded = Overlap.par((0 until m).map { s => () =>
      val lo = s"(($s * size(embedding)) div $m)"
      val hi = s"((${s + 1} * size(embedding)) div $m)"
      val sub = embeddings.select(col("vec_id"),
        expr(s"slice(embedding, 1 + $lo, $hi - $lo)").as("embedding"))
      kmeansAssign(sub, k, rounds)
        .select(col("vec_id"), col("cluster").as(s"code_$s"))
    }).reduce(_.join(_, Seq("vec_id")))
    val codeCols = (0 until m).map(s => s"code_$s")
    val cells = coded.groupBy(codeCols.map(col): _*)
      .agg(count(lit(1)).as("cell_size"))
    coded.join(broadcast(cells), codeCols)
      .select((col("vec_id") +: codeCols.map(col)) :+ col("cell_size"): _*)
  }
}
