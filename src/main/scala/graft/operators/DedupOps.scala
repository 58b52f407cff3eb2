package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextOps.h60x

/** Deduplication operators for training-data pipelines, in ascending
  * sophistication: exact (hash-groupBy), MinHash+LSH (shingle → minhash →
  * band → bucket-join), n-gram Jaccard within blocks. SimHash lives in
  * [[TextOps.simhashed]].
  *
  * Scale design (the whole point at 100 TB):
  *   - exact dedup = one shuffle on the content hash, partial-agg friendly;
  *   - MinHash/LSH replaces the quadratic all-pairs join with a shuffle on
  *     (band, bucket): only same-bucket docs ever meet, so the join fans
  *     out per-bucket, not per-corpus. Bucket skew (a degenerate bucket
  *     with millions of docs) is the known failure mode — AQE skew-join
  *     handles moderate skew, and docs with no shingles (< n tokens) are
  *     EXCLUDED from banding outright: they all carry the identical -1
  *     sentinel signature, so they would collide into one bucket in every
  *     band and emit O(m²) candidate pairs with 0/0 Jaccard — and by
  *     shingle Jaccard they cannot be near-dups of anything anyway;
  *   - blocked Jaccard bounds the candidate set by an equi-join on a
  *     cheap blocking key before any set intersection runs.
  */
object DedupOps {

  /** Exact duplicate groups by an arbitrary key expression: keeper =
    * min(doc_id), group size alongside (first-occurrence-wins, the F7
    * idempotence semantic from SURVEY §2.2). */
  /** df-cap prune (the standard MinHash-practice hot-shingle cap, see
    * [[blockedJaccardPairs]]'s scaladoc for the full contract): drop
    * shingles appearing in more than `maxDf` DOCUMENTS from every `sh`
    * array. The bound is ABSOLUTE, not a corpus fraction, for two
    * reasons: (1) it is the practical knob — a shingle's pair fan-out
    * is df², so the cost of keeping it depends on its absolute count,
    * not on how big the rest of the corpus happens to be; (2) a
    * fractional bound silently WEAKENS as the corpus grows (round-7
    * 10× smoke: threshold 250 → 2500 while per-replica df stayed flat,
    * so the cap pruned nothing at exactly the scale it existed for and
    * task-seconds grew 137×). Set `maxDf` above the largest real
    * near-dup family; anything hotter is boilerplate with no dedup
    * signal. Results downstream are the EXACT statistics of the capped
    * shingle sets — identical to uncapped whenever no shingle exceeds
    * the cap (spec-pinned). `df` per shingle is one partial-agg groupBy
    * over the exploded rows (arrays are distinct per doc, so row count
    * = doc frequency); the hot set is corpus-bounded (≤ corpus shingle
    * mass / maxDf values can exceed it) and rides a 1-row broadcast. */
  private[graft] def dfCappedShingles(raw: DataFrame, maxDf: Long): DataFrame = {
    require(maxDf >= 1L, s"maxShingleDf must be >= 1, got $maxDf")
    val hot = raw.select(explode(col("sh")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .agg(sort_array(collect_list(col("g"))).as("hot"))
    raw.crossJoin(broadcast(hot))
      .withColumn("sh", expr("array_except(sh, hot)"))
      .drop("hot")
  }

  def exactDupGroups(documents: DataFrame, keyExpr: String): DataFrame =
    documents
      .withColumn("dedup_key", expr(keyExpr))
      .groupBy("dedup_key")
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))

  /** The k affine MinHash family coefficients h_j(x) = (a_j·x + b_j)
    * mod p, computed driver-side with the same md5-h60 derivation the
    * DuckDB oracle uses (first 15 md5 hex digits as int64), so both
    * engines see identical families. All operands stay < 1e9 so
    * a_j·x < 1e18 never overflows int64. */
  def minhashCoefficients(k: Int): Seq[(Long, Long)] =
    graft.functions.MinhashSig.coefficients(k).toSeq

  /** MinHash signature: min of each affine family over the distinct 3-gram
    * shingles; empty shingle set → all -1 sentinel.
    *
    * Shape matters at 100 TB: shingles are EXPLODED to rows and each is
    * md5-hashed exactly once (a nested higher-order-function formulation
    * recomputes the hash per family because Catalyst collapses the
    * intermediate projection into every lambda). The k family minima are
    * k parallel min() aggregates over the shingle rows — ONE partial
    * aggregation, so the shuffle carries one k-column row per (doc ×
    * input partition) regardless of corpus width, and the coefficients
    * are plan literals (no join at all). */
  /** Signatures for docs that HAVE shingles — the shared core of
    * [[minhashSigned]] (which left-joins the sentinel back over the full
    * doc list) and [[lshBanded]] (which wants exactly this set: joining
    * sentinels in only to filter them out again cost a full doc-list
    * join per LSH query). */
  private def minhashSignedPresent(documents: DataFrame, k: Int): DataFrame =
    minhashSignedPresentFrom(
      TextOps.shingled(documents).select(col("doc_id"), col("sh")), k)

  /** [[minhashSignedPresent]] over a pre-computed `(doc_id, sh)` shingle
    * table — the seam that lets a df-capped shingle source
    * ([[dfCappedShingles]]) feed the whole MinHash/LSH chain. */
  private def minhashSignedPresentFrom(shSets: DataFrame, k: Int): DataFrame = {
    val coefs = minhashCoefficients(k)
    val minCols = coefs.zipWithIndex.map { case ((a, b), j) =>
      min(expr(s"(${a}L * h + ${b}L) % 1000000007L")).as(s"m$j")
    }
    shSets.select(col("doc_id"), explode(col("sh")).as("g"))
      .withColumn("h", expr(s"${h60x("g")} % 1000000007L"))
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .withColumn("sig", array((0 until k).map(j => col(s"m$j")): _*))
      .select("doc_id", "sig")
  }

  def minhashSigned(documents: DataFrame, k: Int = 16): DataFrame =
    documents.select("doc_id")
      .join(minhashSignedPresent(documents, k), Seq("doc_id"), "left")
      .withColumn("sig",
        expr(s"coalesce(sig, transform(sequence(0, ${k - 1}), j -> -1L))"))

  /** LSH banding: signature split into `bands` bands of `rows` hashes;
    * each band hashed to a bucket. One output row per (doc, band).
    *
    * Empty-shingle docs are EXCLUDED from banding by construction
    * (signatures exist only for docs with shingles — no sentinel join,
    * no sentinel filter): short docs are common in real corpora, and at
    * 100 TB a sentinel bucket holding every one of them is a quadratic
    * bomb in the candidate self-join (O(m²) pairs with undefined 0/0
    * Jaccard). */
  def lshBanded(documents: DataFrame, bands: Int = 4, rows: Int = 4): DataFrame =
    lshBandedFrom(
      TextOps.shingled(documents).select(col("doc_id"), col("sh")), bands, rows)

  /** The per-row band→bucket fragment over a `sig` column — shared by
    * [[lshBandedFrom]] and [[signatureAgreementPairs]] so both bucket
    * IDENTICALLY by construction. */
  private[graft] def bandBucketSql(bands: Int, rows: Int): String =
    s"""transform(sequence(0, ${bands - 1}), b -> struct(
       |  CAST(b AS INT) AS band,
       |  ${h60x(s"concat(cast(b AS string), '|', array_join(transform(slice(sig, b * $rows + 1, $rows), x -> cast(x AS string)), ','))")} AS bucket))""".stripMargin

  private def lshBandedFrom(shSets: DataFrame, bands: Int = 4,
      rows: Int = 4): DataFrame =
    minhashSignedPresentFrom(shSets, bands * rows)
      .select(col("doc_id"),
        explode(expr(bandBucketSql(bands, rows))).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bucket"))

  /** LSH bucket-health statistics, per band: the readout a dedup
    * deployment checks BEFORE committing a (bands, rows) config to a
    * corpus-scale pair join — bucket count, docs banded, the hottest
    * bucket's size, and the exact candidate-pair total this banding
    * would emit (Σ c·(c−1)/2 over buckets). A hot bucket here is the
    * quadratic bomb caught early; pair growth between two corpus
    * snapshots is the drift alarm.
    *
    * Shape at 100 TB: two nested partial aggregations — (band, bucket)
    * keys collapse map-side, then ≤ `bands` keys; all-integer
    * arithmetic, nothing corpus-scale past the first agg. */
  def lshBucketStats(documents: DataFrame, bands: Int = 4,
      rows: Int = 4): DataFrame =
    lshBanded(documents, bands, rows)
      .groupBy("band", "bucket").agg(count(lit(1)).as("c"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_docs"),
        max(col("c")).as("max_bucket"),
        // `div`, not `/`: SQL `/` on BIGINTs is double division; the
        // pair count must stay an exact integer (c·(c−1) is even)
        sum(expr("(c * (c - 1L)) div 2L")).as("n_cand_pairs"))

  /** Candidate near-duplicate pairs (doc a < doc b sharing any LSH
    * bucket), verified with true shingle-set Jaccard. The self-join keys
    * on (band, bucket) — the LSH scale path described above.
    *
    * The verify step is the exploded equi-join shape (round-5 verdict
    * item 5, same shape as [[blockedJaccardPairs]]): common shingles are
    * COUNTED by joining candidate pairs against per-shingle rows on the
    * shingle VALUE — `(a,b) ⋈ (a,g) ⋈ (b,g) → groupBy(a,b).count` — so
    * the shuffles carry narrow (doc, shingle) rows instead of whole
    * shingle ARRAYS riding two joins. One pass computes BOTH counts the
    * Jaccard needs: expanding a pair over side a's shingles gives
    * |A| = count(*) for free, and the b-side probe is a LEFT join with a
    * hit marker, so c = count(hit) — and candidate pairs whose buckets
    * collided without a single shared shingle still emit (jaccard 0)
    * without re-joining the candidate spine. Jaccard = c / (na + nb − c)
    * is bit-identical to `|A∩B| / |A∪B|` because the shingle arrays are
    * already distinct. Only |B| needs a size join afterwards. */
  def minhashCandidatePairs(documents: DataFrame,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val raw = TextOps.shingled(documents).select(col("doc_id"), col("sh"))
    val sh = maxShingleDf match {
      case None => raw
      // checkpoint for the same reason as [[blockedJaccardPairs]]: the
      // capped sets feed banding + both verify sides + sizes, and the
      // cap chain must run once, not per consumer
      case Some(maxDf) => dfCappedShingles(raw, maxDf).localCheckpoint()
    }
    minhashCandidatePairsFrom(sh)
  }

  /** [[minhashCandidatePairs]] over a pre-computed `(doc_id, sh)` shingle
    * table — the seam that lets [[nearDupFusion]] run the corpus
    * tokenize+shingle scan ONCE and feed this chain from the shared
    * checkpoint. */
  private[graft] def minhashCandidatePairsFrom(sh: DataFrame): DataFrame = {
    val banded = lshBandedFrom(sh)
    val a = banded.select(col("doc_id").as("a"), col("band"), col("bucket"))
    val b = banded.select(col("doc_id").as("b"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val sizes = sh.select(col("doc_id"), size(col("sh")).cast("long").as("nsh"))
    val shr = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    // `merge` hints: every join side here is CORPUS-scale (exploded
    // shingle rows, per-doc sizes). Catalyst's size estimate for a
    // Generate is a small multiple of the compressed parquet scan, so
    // without the hint it happily BROADCASTS the exploded corpus — the
    // 10× smoke caught exactly that (repeated multi-GB hash-relation
    // builds dominating the profile). Sort-merge is the spillable,
    // AQE-skew-splittable choice at 100 TB.
    cand
      .join(shr.select(col("doc_id").as("a"), col("g")).hint("merge"), Seq("a"))
      .join(shr.select(col("doc_id").as("b"), col("g"), lit(1).as("hit"))
        .hint("merge"), Seq("b", "g"), "left")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("na"), count(col("hit")).as("c"))
      .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb"))
        .hint("merge"), Seq("b"))
      .withColumn("jaccard", expr("CAST(c AS DOUBLE) / (na + nb - c)"))
      .select("a", "b", "jaccard")
  }

  /** Dedup-graph HEALTH readout: the component-size histogram of the
    * transitive closure, plus the giant-component alarm. The one number
    * a dedup deployment must watch before acting on [[componentKeepers]]'
    * output: a near-dup graph whose largest component holds a material
    * share of the corpus means the threshold (or a hub document — a
    * boilerplate page every site quotes) is chaining unrelated
    * documents together, and the keeper pass is about to delete the
    * corpus. Output: one row per component SIZE (n_components, docs in
    * them, docs a keeper pass would remove) with the constant
    * `giant_share_ppm` = largest component / corpus, integer ppm.
    *
    * Shape at 100 TB: everything past the (proven) closure is
    * aggregation onto bounded keys — component count ≤ corpus, size
    * histogram ≤ distinct sizes, totals 1 row broadcast. */
  def componentSizeHistogram(documents: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val pairs = minhashCandidatePairs(documents)
      .filter(col("jaccard") >= minJaccard).select("a", "b")
    val labels = componentKeepers(pairs).withColumnRenamed("id", "doc_id")
    val keepers = documents.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(coalesce(col("label"), col("doc_id")).as("keeper"))
    val comps = keepers.groupBy("keeper").agg(count(lit(1)).as("size"))
    val totals = comps.agg(sum(col("size")).as("n_docs_total"),
      max(col("size")).as("max_size"))
    comps.groupBy("size").agg(count(lit(1)).as("n_components"))
      .withColumn("n_docs", col("size") * col("n_components"))
      .withColumn("removed", (col("size") - lit(1L)) * col("n_components"))
      .crossJoin(broadcast(totals))
      .withColumn("giant_share_ppm",
        expr("(max_size * 1000000L) div n_docs_total"))
      .select("size", "n_components", "n_docs", "removed", "giant_share_ppm")
  }

  /** Signature-agreement near-dup pairs: LSH-bucketed candidates
    * verified by MINHASH-COMPONENT agreement (`agree` of k equal
    * positions, estimated Jaccard = agree/k) instead of
    * [[minhashCandidatePairs]]' true shingle Jaccard. This is the
    * verification a STREAMING ingest could afford — state would hold k
    * longs per document, never the shingle sets. Pairs are oriented
    * (min, max) and agreement is a pure function of the two
    * signatures, so the pair set does not depend on arrival order.
    *
    * Shape at 100 TB: candidate generation is the proven q36 bucket
    * self-join; the verify is a k-element zip per DISTINCT candidate
    * pair — interpreted HOF, but over k = bands·rows ≅ 16 elements on
    * an LSH-BOUNDED pair set, not a corpus-wide per-token path (the
    * q131 lesson applies to corpus-scale lambdas, not bounded ones). */
  def signatureAgreementPairs(documents: DataFrame, bands: Int = 4,
      rows: Int = 4, minAgree: Int = 8): DataFrame = {
    val k = bands * rows
    require(minAgree >= 1 && minAgree <= k,
      s"minAgree must be in [1, $k], got $minAgree")
    val sh = TextOps.shingled(documents).select(col("doc_id"), col("sh"))
    val sigs = minhashSignedPresentFrom(sh, k)
    val banded = sigs
      .select(col("doc_id"), explode(expr(bandBucketSql(bands, rows))).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bucket"))
    val cand = banded.select(col("doc_id").as("a"), col("band"), col("bucket"))
      .join(banded.select(col("doc_id").as("b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sa")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sb")), Seq("b"))
      .withColumn("agree",
        expr("CAST(size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v)) AS BIGINT)"))
      .filter(col("agree") >= lit(minAgree.toLong))
      .select("a", "b", "agree")
  }

  /** Decile histogram of true Jaccard over the LSH candidate pairs —
    * the threshold-calibration readout a dedup deployment runs before
    * fixing its τ: `bucket = floor(jaccard·10)`, pair count per bucket,
    * and the running "pairs at or above this bucket" total (read the τ
    * that prunes the volume you intend). Pairs are LSH-bounded; the
    * histogram is a partial aggregation onto ≤ 11 keys, and the
    * cumulative window runs over those 11 rows — nothing here grows
    * with the corpus beyond the candidate generation itself. */
  def pairCalibrationHistogram(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    minhashCandidatePairs(documents)
      .withColumn("bucket", expr(
        "CAST(floor(jaccard * CAST(10.0 AS DOUBLE)) AS BIGINT)"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_pairs",
        // ≤11 decile rows; constPartitionKey keeps the bounded global
        // window out of WindowExec's single-partition WARN (same exchange
        // count: hashpartitioning(const) replaces SinglePartition).
        sum(col("n_pairs")).over(Window
          .partitionBy(graft.functions.Scalars.constPartitionKey(col("bucket")))
          .orderBy(col("bucket").desc)))
  }

  /** LSH banding planner — the MMDS s-curve `1 − (1 − s^r)^b` evaluated
    * against the corpus's MEASURED candidate-pair Jaccard histogram
    * ([[pairCalibrationHistogram]]): for each candidate (bands, rows)
    * config, the expected number of detected pairs and the detection
    * rate, per decile midpoint. This is the decision table read before
    * re-banding a corpus — q84 says whether today's buckets are
    * healthy; this says what a DIFFERENT banding would have caught.
    *
    * Cross-engine determinism: the s-curve's powers are integer
    * exponents, computed as SEQUENTIAL multiplication folds (never
    * `pow`, whose libm rounding differs across engines), and the
    * per-config total folds the per-decile terms in bucket order —
    * every double op replays in the identical order in DuckDB.
    *
    * Shape at 100 TB: everything downstream of the histogram is
    * ≤ 11·|configs| rows; the corpus-scale work is exactly
    * [[pairCalibrationHistogram]]'s LSH-bounded chain. */
  def bandingPlanner(documents: DataFrame,
      configs: Seq[(Int, Int)] =
        Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (b, r) => b >= 1 && r >= 1 },
      s"configs must be non-empty with bands, rows >= 1: $configs")
    val session = documents.sparkSession
    import session.implicits._
    val cfg = configs.toDF("bands", "rows_per_band")
    pairCalibrationHistogram(documents)
      .select("bucket", "n_pairs")
      .crossJoin(broadcast(cfg))
      .withColumn("s", expr(
        "LEAST(CAST(2 * bucket + 1 AS DOUBLE) / CAST(20 AS DOUBLE), CAST(1.0 AS DOUBLE))"))
      .withColumn("p_detect", expr(
        """CAST(1.0 AS DOUBLE) - aggregate(sequence(1, bands), CAST(1.0 AS DOUBLE),
          |  (acc, i) -> acc * (CAST(1.0 AS DOUBLE) -
          |    aggregate(sequence(1, rows_per_band), CAST(1.0 AS DOUBLE),
          |      (a2, j) -> a2 * s)))""".stripMargin))
      .withColumn("ed", expr("CAST(n_pairs AS DOUBLE) * p_detect"))
      .groupBy("bands", "rows_per_band")
      .agg(sum("n_pairs").as("n_pairs"),
        expr("""aggregate(transform(array_sort(collect_list(struct(bucket, ed))),
               |  x -> x.ed), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"""
          .stripMargin).as("expected_detected"))
      .withColumn("detect_rate",
        expr("expected_detected / CAST(n_pairs AS DOUBLE)"))
  }

  /** Cross-source near-duplicate overlap matrix: for verified pairs at
    * or above `minJaccard`, how many land within/between each pair of
    * sources — the governance readout for "which feeds duplicate each
    * other" (licensing leakage, mirror detection, mixing-weight
    * correction). Pair endpoints order as (source_lo ≤ source_hi) so
    * each unordered source pair is one row.
    *
    * Scale shape: the doc→source map joins onto the LSH-bounded pair
    * set (two hash joins on the doc key); the matrix groupBy has at most
    * |sources|² keys — partial agg collapses it map-side. */
  def sourceOverlapMatrix(documents: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    // merge hints: the doc→source map is corpus-scale — same
    // don't-broadcast-the-corpus discipline as the pair verify above
    val src = documents.select(col("doc_id"), col("source"))
    minhashCandidatePairs(documents)
      .filter(col("jaccard") >= minJaccard)
      .join(src.select(col("doc_id").as("a"), col("source").as("src_a"))
        .hint("merge"), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("src_b"))
        .hint("merge"), Seq("b"))
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SimHash near-duplicate pairs: a 60-bit SimHash splits into four
    * 15-bit bands; docs sharing any (band, value) are candidates, then
    * exact Hamming distance (bit_count of xor — codegen'd integer ops)
    * verifies ≤ `maxHamming`. With 4 bands, any pair within Hamming 3
    * is GUARANTEED to agree on at least one whole band (pigeonhole), so
    * recall is exact for the default radius; `require` rejects a larger
    * radius rather than silently losing recall (round-2 advice). The
    * band equi-join is the same bounded-fan-out scale shape as
    * MinHash-LSH bucketing.
    *
    * Bucket cardinality vs corpus size (round-2 verdict item 2): the
    * earlier 32-bit/8-bit-band variant had only 256 buckets per band, so
    * at N docs each bucket holds ~N/256 docs and the candidate self-join
    * emits Θ(N²/256) pairs — quadratic at any real corpus size. 15-bit
    * bands give 32,768 buckets/band (expected pair fan-out N²/2¹⁵ from
    * random collisions, plus true near-dups), and because SimHash bits
    * are vote signs over token hashes, bucket values spread roughly
    * uniformly except for genuinely similar text. 60 bits rather than
    * 64 because the h60 token hash has exactly 60 meaningful bits —
    * four FULL 15-bit bands beat two full + two crippled 16-bit ones
    * (bits 60–63 would vote −1 always, making those band positions
    * constant and halving their effective cardinality). At larger N
    * still, widen the hash (requires a wider token hash) or verify
    * within buckets via a sorted-neighborhood pass instead of the
    * self-join. */
  def simhashCandidatePairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = TextOps.simhashed(documents, nBits = 60).select("doc_id", "simhash")
    hammingCandidatePairs(sh, "doc_id", "simhash", maxHamming, bandBits = 15)
  }

  /** Hamming-banded near-dup pairs over ANY 64-bit-or-narrower hash
    * column — the banding+verify machinery [[simhashCandidatePairs]]
    * wraps (SimHash text hashes, 15-bit bands) and the image
    * perceptual-hash dedup reuses (`MultimodalOps.imageNearDupPairs`,
    * 16-bit bands over a 64-bit dHash). The hash splits into four
    * `bandBits`-wide bands (band b = bits [b·bandBits, (b+1)·bandBits));
    * rows sharing any (band, value) are candidates; exact Hamming
    * distance (bit_count of xor — codegen'd integer ops) verifies
    * ≤ `maxHamming`. With 4 bands, any pair within Hamming 3 agrees on
    * at least one whole band (pigeonhole), so recall is exact for the
    * default radius; `require` rejects a larger radius rather than
    * silently losing recall (round-2 advice). Bands extract via
    * `shiftrightunsigned` so a 64-bit hash with the sign bit set still
    * buckets correctly. Scale shape: identical to MinHash-LSH
    * bucketing — bounded fan-out equi-join, no all-pairs. */
  def hammingCandidatePairs(hashes: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int = 3, bandBits: Int = 15): DataFrame = {
    require(maxHamming <= 3,
      s"4-band pigeonhole recall is exact only for maxHamming <= 3; got " +
        s"$maxHamming (derive more bands for a wider radius)")
    require(bandBits >= 1 && bandBits <= 16,
      s"bandBits must be in [1, 16] (4 bands over <= 64 bits), got $bandBits")
    val sh = hashes.select(col(idCol).as("doc_id"),
      col(hashCol).cast("long").as("simhash"))
    val mask = (1L << bandBits) - 1L
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(expr(s"""transform(sequence(0, 3), b -> struct(
         |  CAST(b AS INT) AS band,
         |  shiftrightunsigned(simhash, b * $bandBits) & ${mask}L AS bucket))""".stripMargin))
        .as("e"))
      .select(col("doc_id"), col("simhash"), col("e.band"), col("e.bucket"))
    val a = banded.select(col("doc_id").as("a"), col("simhash").as("sh_a"),
      col("band"), col("bucket"))
    val b = banded.select(col("doc_id").as("b"), col("simhash").as("sh_b"),
      col("band"), col("bucket"))
    // Hamming filter BEFORE the pair distinct (round 14): the band
    // self-join's output is dominated by RANDOM 15-bit collisions —
    // Θ(N²/2^bandBits) pairs, ~10⁹ at a 6M-doc corpus — and a distinct
    // placed first shuffles ALL of them (the 100× smoke read 582
    // task-seconds, 16× superlinear). bit_count is a few ns and a pure
    // function of the pair, so filtering first is result-identical
    // while the collision fan-out stays PIPELINED inside the join
    // stage (never exchanged); the distinct then dedups only true
    // near-dup pairs (≤4 copies each, one per agreeing band).
    a.join(b, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming").distinct()
  }

  /** Connected-component keeper labels over a candidate-pair edge list —
    * the transitive closure the single-hop keepers ([[exactDupGroups]],
    * `SimOps.cosineNearDupKeepers`) deliberately stop short of. A chain
    * a–b–c–d all collapses to keeper a.
    *
    * Algorithm: alternating large-star/small-star contraction (the
    * MapReduce connected-components construction of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Each
    * round rewires every node toward the minimum of its neighborhood;
    * component depth roughly HALVES per alternation, so convergence
    * needs O(log d) rounds on diameter-d components, not the O(d) of
    * plain min-label propagation (round-2 verdict item 6 — a 10⁶-long
    * chain converges in ~20 rounds instead of 10⁶). The fixpoint is a
    * star forest: every node points directly at its component's minimum
    * id.
    *
    * Shape per round: two groupBy-min + two equi-joins, all shuffling
    * the (bounded) edge list on node ids — partial-agg friendly, no
    * driver-side data. `localCheckpoint` truncates lineage each round
    * (at cluster scale prefer a reliable `checkpoint` dir); the
    * convergence probe is one edge-set comparison per round — inherent
    * to any fixpoint.
    *
    * Returns (id, label) for every node APPEARING IN `pairs`; callers
    * left-join and coalesce to give isolated docs themselves as keeper. */
  def componentKeepers(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIters: Int = 25): DataFrame =
    componentKeepersWithRounds(pairs, aCol, bCol, maxIters)._1

  /** [[componentKeepers]] plus the number of contraction rounds taken —
    * exposed so the O(log d) convergence claim is testable. */
  private[graft] def componentKeepersWithRounds(pairs: DataFrame,
      aCol: String = "a", bCol: String = "b",
      maxIters: Int = 25): (DataFrame, Int) = {
    // set-equality probe state: (cardinality, order-independent bit_xor
    // checksum of the pair hashes). Round 4 ran this as ONE aggregate job
    // per round; round 5 makes it ZERO jobs — `observe` piggybacks the
    // aggregate onto the localCheckpoint job that materializes the frame
    // anyway, so each fixpoint round is exactly one job barrier (round-4
    // verdict item 2: probe cost was pure stage latency). bit_xor never
    // overflows (sum would throw under ANSI), and both frames are
    // distinct sets, so equal (count, checksum) is set-equality up to a
    // 2⁻⁶⁴-class hash collision — which the exact exceptAll verify below
    // rules out on the one round it can trigger.
    def checkpointWithStats(df: DataFrame): (DataFrame, Long, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = df.observe(obs, count(lit(1)).as("cnt"),
        expr("bit_xor(xxhash64(u, v))").as("chk"))
        .localCheckpoint() // eager: obs is complete when this returns
      val m = obs.get
      (out, m("cnt").asInstanceOf[Long],
        Option(m("chk")).fold(0L)(_.asInstanceOf[Long]))
    }
    // Normalized distinct pairs, parent-smaller, materialized ONCE —
    // `nodes` and the initial edge set both derive from this checkpoint.
    // Round 14 (optimization guide §1.2 "don't compute things twice"):
    // the previous shape checkpointed `nodes` and `edges` as two
    // INDEPENDENT frames over `pairs`, so the caller's whole candidate
    // pipeline (tokenize → shingle → band join → merge-join verify for
    // the q57/q83/q143/q162 family) executed twice before the fixpoint
    // even started. The self-pair rows (u = v) stay in this frame so the
    // node contract is unchanged ("every node APPEARING IN pairs"); the
    // convergence stats observe only the u ≠ v survivors — count(when)
    // counts non-nulls and bit_xor skips nulls, so the (count, checksum)
    // pair is identical to aggregating the filtered frame.
    val normObs = org.apache.spark.sql.Observation()
    val norm = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .distinct()
      .observe(normObs,
        count(when(col("u") =!= col("v"), lit(1))).as("cnt"),
        expr("bit_xor(CASE WHEN u != v THEN xxhash64(u, v) END)").as("chk"))
      .localCheckpoint()
    val nodes = norm.select(col("u").as("id"))
      .unionByName(norm.select(col("v").as("id")))
      .distinct()
    val normStats = normObs.get
    var edges = norm.filter(col("u") =!= col("v"))
    var edgeCount = normStats("cnt").asInstanceOf[Long]
    var edgeSum = Option(normStats("chk")).fold(0L)(_.asInstanceOf[Long])
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIters) {
      // large-star: every node u computes m = min(Γ(u) ∪ {u}) over its
      // FULL (symmetrized) neighborhood and rewires each strictly-larger
      // neighbor v > u to m. No distinct here: duplicate (u,v) emissions
      // are harmless to the min-aggregation below and the round's final
      // distinct — dropping it saves a full shuffle per round.
      // Each star phase is a groupBy-min JOINED back to the same frame.
      // Both consumers cluster on `u`, so ONE explicit repartition(u)
      // serves the aggregate AND the join side: neither adds an
      // exchange (subset-of-keys rule), and because the two reads of
      // `sym`/`large` are the identical canonicalized exchange subtree,
      // Spark's exchange reuse executes it ONCE per phase instead of
      // twice. Wall time here is stage latency, not compute
      // (profiles: ~45 stages for < 3 task-seconds of work at sf0.1) —
      // fewer exchanges per round is what shrinks the fixpoint.
      // groupBy (partial-agg) rather than a min-over-window keeps hot
      // star centers map-side-combined instead of buffered per key.
      val sym = edges.unionAll(
        edges.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val largeMin = sym.groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(largeMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .repartition(col("u"))
      // small-star: over child→parent edges, each child u rewires its
      // parents (all < u) and itself to m = min(parents)
      val smallMin = large.groupBy("u").agg(min("v").as("m"))
      // ZERO probe jobs per round (stats observed during the checkpoint
      // job); the exact verify runs only when the cheap (count, checksum)
      // pair already matches — i.e. at most once, on the convergence
      // round itself (or a vanishingly-unlikely collision round, where it
      // correctly reports inequality)
      val (next, nextCount, nextSum) = checkpointWithStats(
        large.join(smallMin, "u")
          .select(explode(array(col("v"), col("u"))).as("c"), col("m"))
          .select(col("c").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v"))
          .distinct())
      converged = nextCount == edgeCount && nextSum == edgeSum &&
        next.exceptAll(edges).isEmpty
      edges = next
      edgeCount = nextCount
      edgeSum = nextSum
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"componentKeepers did not converge in $maxIters rounds — with " +
        "large-star/small-star contraction rounds grow with log(diameter), " +
        "so this indicates a pathological input or a bug; raise maxIters " +
        "only with evidence. Returning partial labels would silently " +
        "split components.")
    // fixpoint edges are a star forest: (child → component-min). Roots
    // and isolated nodes label themselves.
    val labels = nodes
      .join(edges.select(col("u").as("id"), col("v").as("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("label"))
    (labels, rounds)
  }

  /** Segment-level exact dedup — the fixed-granularity form of
    * exact-substring deduplication (the "remove repeated spans, keep the
    * first occurrence" step of web-corpus pipelines; suffix-array
    * dedup's practical approximation at segment boundaries). Documents
    * split into non-overlapping `segTokens`-token segments; a segment
    * survives iff it is the corpus-wide FIRST occurrence of its text
    * (by (doc_id, position)); each document re-assembles from its
    * surviving segments in order.
    *
    * Shape at 100 TB: one shuffle on the segment text (the window key —
    * high-cardinality, so it distributes; a hot boilerplate segment is
    * the stop-phrase skew case → AQE), one doc-bounded re-assembly
    * groupBy, one flag-back join. Returns every corpus doc:
    * (doc_id, n_kept_segments, kept_text). */
  def segmentDedup(documents: DataFrame, segTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = TextOps.chunked(documents, chunkSize = segTokens, stride = segTokens)
    val firstWins = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_idx")
    val kept = segs
      .withColumn("rk", row_number().over(firstWins))
      .filter(col("rk") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept_segments"),
        expr("""array_join(transform(sort_array(collect_list(
               |  struct(chunk_idx, chunk_text))), x -> x.chunk_text), ' ')"""
          .stripMargin).as("kept_text"))
    documents.select("doc_id")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept_segments"), lit(0L)).as("n_kept_segments"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Content-defined-chunking segment dedup — [[segmentDedup]]'s
    * insertion-robust sibling (the CDC idea from storage dedup, applied
    * to token streams): a segment boundary falls AFTER token `i`
    * whenever the hash of the trailing `window`-token span divides
    * `divisor` — boundaries are decided by CONTENT, not position, so
    * inserting one token at a document's head shifts only the segments
    * up to the first surviving boundary, and everything after still
    * dedups against the unedited copy (fixed-width segmentation loses
    * every match after an insertion — spec-demonstrated).
    *
    * Expected segment length ≈ `divisor` tokens. No min/max segment
    * clamps (classic CDC adds them to bound variance); documented
    * simplification — the divisor alone controls the distribution.
    *
    * Shape at 100 TB: per-row narrow segment derivation (O(window) md5
    * per token — constant per token, running in the native
    * [[graft.functions.CdcBoundaries]] single-pass scan after the HOF
    * form benched at 15.6 task-seconds), then exactly
    * [[segmentDedup]]'s shape: one window shuffle on the segment text
    * (hot boilerplate segment → AQE), one doc-bounded re-assembly agg,
    * one flag-back join. */
  def cdcSegmentDedup(documents: DataFrame, window: Int = 4,
      divisor: Long = 8L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 1, s"window must be >= 1, got $window")
    require(divisor >= 1L, s"divisor must be >= 1, got $divisor")
    val segRows = TextOps.tokenized(documents)
      .withColumn("n", size(col("tk")).cast("long"))
      // native single-pass boundary scan; spec-proven bit-identical to
      // the interpreted filter(sequence(...), i -> pmod(h60(...))) HOF
      // form (which benched at 15.6 task-seconds — the #2 query)
      .withColumn("bnd", expr(s"cdc_boundaries(tk, $window, ${divisor}L)"))
      .withColumn("spans", expr(
        """filter(zip_with(concat(array(1L), transform(bnd, x -> x + 1L)),
          |                concat(bnd, array(n)),
          |                (s, e) -> struct(s AS s, e AS e)),
          |  p -> p.s <= p.e)""".stripMargin))
      .select(col("doc_id"), col("tk"),
        posexplode(col("spans")).as(Seq("pos", "sp")))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
        expr("array_join(slice(tk, CAST(sp.s AS INT), CAST(sp.e - sp.s + 1 AS INT)), ' ')")
          .as("seg_text"))
    val firstWins = Window.partitionBy("seg_text").orderBy("doc_id", "seg_idx")
    // ONE pass over the segment rows (round-7: the kept/totals split
    // evaluated the scan+tokenize+cdc+explode subtree twice — the q103
    // double-scan family): rank every row, then fold total and
    // kept-only aggregates into a single per-doc aggregation
    // (collect_list drops the CASE's NULLs, so kept_text sees only
    // winners). A doc whose every segment lost still aggregates here
    // with n_kept_segments = 0 — identical to the old totals join.
    val perDoc = segRows
      .withColumn("rk", row_number().over(firstWins))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        count(when(col("rk") === 1, 1)).as("n_kept_segments"),
        expr("""array_join(transform(sort_array(collect_list(
               |  CASE WHEN rk = 1 THEN struct(seg_idx, seg_text) END)),
               |  x -> x.seg_text), ' ')"""
          .stripMargin).as("kept_text"))
    documents.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_kept_segments"), lit(0L)).as("n_kept_segments"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Winnowed fingerprint census: per-document statistics of the
    * [[graft.functions.WinnowFingerprints]] selection (Schleimer et al.,
    * SIGMOD 2003) — `n_kgrams` (hashable k-gram count), `n_fp` (selected
    * fingerprints), the min/max fingerprint, a `bit_xor` set checksum
    * (order-free, overflow-free — comparable across engines and runs),
    * and `density_ppm` (floor(1e6 · n_fp / n_kgrams); the paper's
    * expected density is 2/(w+1) ≈ 400000 ppm at the default w=4).
    * Documents with fewer than w k-grams select nothing (NULL min/max/
    * xor, density over the k-grams that do exist).
    *
    * This is the position-robust overlap primitive: any shared run of
    * ≥ k+w−1 tokens shares a fingerprint, so matching `fp_xor`/bounds on
    * wildly different documents is noise, but a downstream pair join on
    * exploded fingerprints (the [[minhashCandidatePairs]] shape) finds
    * partial overlap that whole-doc hashing misses.
    *
    * Shape at 100 TB: one native per-row loop (no shuffle), then the
    * total-order sort the driver contract requires — the q37 shape. */
  def winnowStats(documents: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    TextOps.tokenized(documents)
      .withColumn("fp", expr(s"winnow_fingerprints(tk, $k, $w)"))
      .withColumn("n_kgrams",
        greatest(lit(0L), size(col("tk")).cast("long") - lit(k - 1).cast("long")))
      .withColumn("n_fp", size(col("fp")).cast("long"))
      .select(col("doc_id"), col("n_kgrams"), col("n_fp"),
        expr("array_min(fp)").as("fp_min"),
        expr("array_max(fp)").as("fp_max"),
        when(col("n_fp") > 0L,
          expr("aggregate(fp, CAST(0 AS BIGINT), (a, x) -> a ^ x)")).as("fp_xor"),
        when(col("n_kgrams") > 0L,
          expr("n_fp * 1000000L div n_kgrams")).otherwise(lit(0L)).as("density_ppm"))
  }

  /** Near-containment pairs over winnowed fingerprints — the ASYMMETRIC
    * dedup signal Jaccard misses: a short document quoted whole inside a
    * long one has tiny Jaccard (the union is huge) but containment ≈ 1
    * on the short side. Candidate pairs are documents sharing ≥
    * `minShared` winnowed fingerprints (set semantics — repeated text
    * inside one doc counts once); `cont_a_ppm = (shared · 1e6) div
    * n_fp_a` is the fraction of a's fingerprint set found in b (and
    * symmetrically for b). The SIGMOD'03 guarantee makes this sound:
    * every shared token run of ≥ k+w−1 contributes a shared
    * fingerprint, so high containment ⇒ large literal overlap.
    *
    * `maxHashDocFrac` < 1 drops fingerprint hashes present in more than
    * that fraction of documents before pairing (the q38 df-cap
    * discipline: a boilerplate fingerprint in f% of docs generates
    * (fN)²/2 candidate pairs — at corpus scale cap it; 1.0 = exact).
    *
    * Shape at 100 TB: fingerprints are ~2/(w+1) of k-grams per doc
    * (winnowing IS the size reduction vs shingle-level joins), the
    * fingerprint set is localCheckpointed once for its three consumers,
    * and the only pair join is the fingerprint-hash equi-join — hot
    * hashes are capped by the df prune, residual skew is AQE's.
    * Output: `a, b, shared, n_fp_a, n_fp_b, cont_a_ppm, cont_b_ppm`. */
  def winnowContainmentPairs(documents: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxHashDocFrac: Double = 1.0): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    require(maxHashDocFrac > 0.0 && maxHashDocFrac <= 1.0,
      s"maxHashDocFrac must be in (0, 1], got $maxHashDocFrac")
    val fp = TextOps.tokenized(documents)
      .select(col("doc_id"),
        explode(expr(s"winnow_fingerprints(tk, $k, $w)")).as("h"))
      .distinct()
      .localCheckpoint()
    val nfp = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val pruned =
      if (maxHashDocFrac >= 1.0) fp
      else {
        val nDocs = documents.agg(count(lit(1)).as("n_docs"))
        val hot = fp.groupBy("h").agg(count(lit(1)).as("hdf"))
          .crossJoin(broadcast(nDocs))
          .filter(expr(s"CAST(hdf AS DOUBLE) / CAST(n_docs AS DOUBLE) > $maxHashDocFrac"))
          .select("h")
        fp.join(hot, Seq("h"), "left_anti")
      }
    val shared = pruned.select(col("doc_id").as("a"), col("h"))
      .join(pruned.select(col("doc_id").as("b"), col("h")), Seq("h"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    shared
      .join(nfp.select(col("doc_id").as("a"), col("n_fp").as("n_fp_a")), Seq("a"))
      .join(nfp.select(col("doc_id").as("b"), col("n_fp").as("n_fp_b")), Seq("b"))
      .select(col("a"), col("b"), col("shared"), col("n_fp_a"), col("n_fp_b"),
        expr("(shared * 1000000L) div n_fp_a").as("cont_a_ppm"),
        expr("(shared * 1000000L) div n_fp_b").as("cont_b_ppm"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any n-gram
    * shingle with a probe (benchmark/eval) set — the screening step a
    * training-data pipeline runs so eval questions don't leak into
    * training text.
    *
    * Shape at 100 TB: the probe side is a benchmark — bounded by
    * construction (thousands of documents, not billions) — so its
    * distinct shingles BROADCAST and the corpus never shuffles: explode
    * corpus shingles (narrow), broadcast-hash-join against the probe
    * set, count hits per doc (partial agg), left-join the flag back.
    * Output: every corpus doc with `n_hit_shingles` and `contaminated`.
    */
  // `n` is the shingle width: the oracle surface runs the corpus default
  // (3), while published decontamination practice runs long grams (8-13,
  // e.g. GPT-3's 13-gram overlap rule) so that only verbatim spans hit —
  // the parameter is the same operator at the published setting, and the
  // 13-gram path is spec-exercised.
  def decontaminate(corpus: DataFrame, probes: DataFrame,
      n: Int = 3): DataFrame = {
    val probeShingles = broadcast(
      TextOps.shingleRows(probes, n).select("g").distinct())
    val hits = TextOps.shingleRows(corpus, n)
      .join(probeShingles, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_shingles"))
    corpus.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"))
      .withColumn("contaminated", col("n_hit_shingles") > 0L)
  }

  /** Contamination REPORT — the governance matrix behind
    * [[decontaminate]]'s boolean: for each (probe document, corpus
    * source), how many corpus documents hit it and how many shingle
    * occurrences in total. This is the readout an eval owner reads to
    * answer "WHICH benchmark leaked into WHICH feed, and how badly",
    * before deciding between dropping documents and dropping sources.
    *
    * Shape at 100 TB: identical to [[decontaminate]] — the probe
    * shingle set is bounded and broadcast, the corpus side streams
    * through the scan once (its source column rides the same per-row
    * pass, no corpus join), and the aggregation has at most
    * |probes|·|sources| keys with an exact two-level distinct count. */
  def contaminationReport(corpus: DataFrame, probes: DataFrame,
      n: Int = 3): DataFrame = {
    val probeShingles = broadcast(
      TextOps.shingleRows(probes, n)
        .select(col("doc_id").as("probe_id"), col("g")))
    TextOps.shingled(corpus, n)
      .select(col("doc_id"), col("source"), explode(col("sh")).as("g"))
      .join(probeShingles, Seq("g"))
      .groupBy("probe_id", "source")
      .agg(countDistinct(col("doc_id")).as("n_docs_hit"),
        count(lit(1)).as("n_hit_shingles"))
  }

  /** Bloom-prefilter decontamination — [[decontaminate]]'s scale path
    * for when the PROBE side is itself corpus-sized (cross-corpus
    * leakage screening: "which of my documents verbatim-overlap that
    * other 10 TB feed"), so its raw distinct shingles are too large to
    * broadcast. Results are EXACTLY [[decontaminate]]'s: the Bloom
    * bitset only prunes, and an exact verify join removes its false
    * positives.
    *
    * The bitset is built and applied entirely as dataframes — no
    * driver-side `stat.bloomFilter` collect, no UDF:
    *   1. probe shingles → `bloomHashes` positions each
    *      (`pmod(xxhash64(g, i), bloomBits)` — k independent hashes by
    *      seeding the hash tuple), distinct;
    *   2. positions → 64-bit words (`bit_or` of masks, partial-agg
    *      friendly), densified against `range(bloomBits/64)` and
    *      collected into ONE row carrying the whole bitset as an
    *      `array<long>` (2^20 bits = 16 K longs ≈ 128 KB — broadcastable
    *      at ANY probe cardinality, where the raw shingle set is not);
    *   3. corpus shingles filter NARROWLY against the broadcast row:
    *      all k probed bits set ⇒ candidate. Negatives — the
    *      overwhelming majority when corpora don't overlap — never
    *      reach a shuffle;
    *   4. candidates (already down to ~true hits + the fp rate) verify
    *      against the exact probe shingle set in a standard shuffle
    *      join, then count per doc.
    *
    * Shape at 100 TB: the corpus side stays scan → narrow filter; the
    * only corpus-cardinality shuffle is the per-doc hit count over
    * verified hits. Size `bloomBits` ≈ 10× distinct probe shingles for
    * a ~1% fp rate at k=5 (standard m/n ≈ 10 sizing). */
  def bloomDecontaminate(corpus: DataFrame, probes: DataFrame,
      n: Int = 3, bloomBits: Long = 1L << 17, bloomHashes: Int = 5): DataFrame = {
    require(bloomBits >= 64L && bloomBits % 64L == 0L,
      s"bloomBits must be a positive multiple of 64, got $bloomBits")
    require(bloomHashes >= 1, s"bloomHashes must be >= 1, got $bloomHashes")
    val nWords = bloomBits / 64L
    val positionsOf = // k bit positions probed for a shingle column `g`
      s"transform(sequence(0, ${bloomHashes - 1}), i -> pmod(xxhash64(g, i), ${bloomBits}L))"
    val probeShingles = TextOps.shingleRows(probes, n).select("g").distinct()
    val words = probeShingles
      .select(explode(expr(positionsOf)).as("pos")).distinct()
      .select(expr("pos div 64").as("widx"),
        expr("shiftleft(1L, CAST(pos % 64 AS INT))").as("mask"))
      .groupBy("widx").agg(expr("bit_or(mask)").as("word"))
    val bitset = corpus.sparkSession.range(nWords).toDF("widx")
      .join(words, Seq("widx"), "left")
      .agg(expr("transform(array_sort(collect_list(struct(widx, coalesce(word, 0L) AS word))), x -> x.word)")
        .as("bits"))
    val candidates = TextOps.shingleRows(corpus, n)
      .join(broadcast(bitset))
      .filter(expr(s"""forall($positionsOf, p ->
        |  (element_at(bits, CAST(p div 64 AS INT) + 1)
        |   & shiftleft(1L, CAST(p % 64 AS INT))) <> 0L)""".stripMargin))
      .select("doc_id", "g")
    val hits = candidates
      .join(probeShingles, Seq("g")) // exact verify: bloom fps die here
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_shingles"))
    corpus.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"))
      .withColumn("contaminated", col("n_hit_shingles") > 0L)
  }

  /** Blocked n-gram Jaccard: all pairs within (lang, size-block ± 1)
    * blocks whose shingle Jaccard ≥ `minJaccard`.
    *
    * Shape: instead of materializing pair rows and running an
    * interpreted O(|A|·|B|) array_intersect per pair, shingles stay
    * EXPLODED and the intersection is a hash equi-join on the shingle
    * value (within the block), counted per (a, b):
    * jaccard = c / (|A| + |B| − c). Everything is codegen'd joins and
    * partial-agg counts; pairs sharing no shingle never materialize.
    *
    * Recall is exact BY CONSTRUCTION (round-2 verdict item 8). The
    * block key is the GEOMETRIC bucket of the distinct-shingle count:
    * blk = number of digits of nsh in base b, where b = ceil(1 /
    * minJaccard) — i.e. blk = floor(log_b nsh) + 1, computed with
    * integer digit-count arithmetic (`conv`), never floating-point log,
    * so Spark and the DuckDB oracle can't disagree at bucket
    * boundaries. For any pair with jaccard ≥ t the set-size ratio
    * min/max ≥ t ≥ 1/b (c ≤ min and union ≥ max), hence
    * |log_b na − log_b nb| ≤ 1 and the digit counts differ by AT MOST
    * one — so the y side announcing itself in its own bucket and both
    * neighbors provably reaches every qualifying pair, for ANY
    * (threshold, base) pair. The earlier n_chars linear bucketing had
    * no such bound (char length says nothing rigorous about shingle-set
    * overlap); its ±1 probe was heuristic.
    *
    * Each common shingle of a pair still joins exactly once (only the
    * y-emission equal to x's own bucket matches), and the now-rigorous
    * size-ratio prune min/max ≥ minJaccard cuts candidates before the
    * division.
    *
    * At 100 TB the join keys on (shingle, lang, block) — the same
    * bounded-fan-out argument as LSH bucketing, with hot shingles
    * (stop-gram skew) the known failure mode, left to AQE's skew
    * split. Geometric blocks keep the per-row
    * probe fan-out at a constant 3 regardless of document size.
    *
    * `maxShingleDf` (round-5 verdict item 2, made absolute in round 7)
    * is the standard MinHash-practice df-cap: drop shingles appearing
    * in more than that many documents BEFORE blocking — such a shingle
    * carries no dedup signal but fans out as df² in its (g, lang, blk)
    * key. See [[dfCappedShingles]] for the absolute-vs-fraction
    * rationale and the prune mechanics; nsh / blk / Jaccard are then
    * computed on the PRUNED sets, so the result is the exact Jaccard
    * of the capped shingle sets — identical to the uncapped result
    * whenever no shingle exceeds the cap (spec-pinned),
    * approximate-by-contract otherwise. `None` prunes nothing. */
  def blockedJaccardPairs(documents: DataFrame, minJaccard: Double = 0.2,
      maxShingleDf: Option[Long] = None): DataFrame = {
    // lower bound 1/36: the digit count runs through conv()/to_base(),
    // whose radix caps at 36 in BOTH engines (beyond it they return
    // NULL, which would silently empty the join — reviewed round 3).
    // Thresholds below 1/36 mean accepting pairs with a 36× size gap;
    // use a containment measure, not Jaccard, at that point.
    require(minJaccard >= 1.0 / 36 && minJaccard <= 1.0,
      s"minJaccard must be in [1/36, 1] (digit-count radix cap), got $minJaccard")
    val base = math.ceil(1.0 / minJaccard).toLong.max(2L)
    val shSets = {
      val raw = TextOps.shingled(documents)
      maxShingleDf match {
        case None => raw
        case Some(maxDf) =>
          // materialize the capped sets ONCE: the downstream chain
          // consumes shSets in four subtrees (meta, sizes, two exploded
          // join sides), and without truncation each would re-execute
          // the whole df-cap aggregation chain — measured as 5× the
          // designed exchange count when the cap first went live. The
          // checkpoint also keeps the capped plan shape identical to
          // the uncapped one below the cap (ScaleSpec pins hold).
          dfCappedShingles(raw, maxDf)
            .select("doc_id", "lang", "sh").localCheckpoint()
      }
    }
    // shingle set, its size, the geometric block, and the exploded
    // shingle rows all derive from ONE per-row shingled() pass — size and
    // digit-count are narrow projections and explode is narrow, so
    // attaching (lang, blk) to every shingle row costs no join/shuffle
    val withMeta = shSets
      .select(col("doc_id"), col("lang"), col("sh"),
        size(col("sh")).cast("long").as("nsh"))
      .withColumn("blk", length(conv(col("nsh"), 10, base.toInt)).cast("long"))
    val sizes = withMeta.select(col("doc_id"), col("nsh"))
    // shingles hash to 60-bit longs at the explode (round 9, the q131
    // lesson): the (g, lang, blk) candidate join and its pair-count agg
    // previously moved ~25-byte shingle STRINGS on both sides — the
    // allocation/GC profile that inflated the pair-join family at the
    // 10×/30× smokes. The df-cap above stays on raw strings (both
    // engines cap before hashing, so equality is by construction); only
    // the join keys shrink. h60 collisions merge the same two shingles
    // in both engines (P ≈ 4e-7 at 10⁶ shingles).
    val shr = withMeta
      .select(col("doc_id"), col("lang"), col("blk"), explode(col("sh")).as("g0"))
      .select(col("doc_id"), col("lang"), col("blk"), expr("h60(g0)").as("g"))
    val x = shr.select(col("doc_id").as("a"), col("g"), col("lang"), col("blk"))
    val y = shr.select(col("doc_id").as("b"), col("g"), col("lang"),
      explode(expr("array(blk - 1L, blk, blk + 1L)")).as("blk"))
    val common = x.join(y, Seq("g", "lang", "blk"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("a"), col("nsh").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb")), Seq("b"))
      .filter(expr(s"least(na, nb) >= $minJaccard * greatest(na, nb)"))
      .withColumn("jaccard", expr("CAST(c AS DOUBLE) / (na + nb - c)"))
      .filter(col("jaccard") >= minJaccard)
      .select("a", "b", "jaccard")
  }

  /** Exact set-similarity self-join via PREFIX FILTERING — the third
    * candidate-generation paradigm next to LSH banding
    * ([[minhashCandidatePairs]], probabilistic) and geometric size
    * blocking ([[blockedJaccardPairs]], exact): PPJoin's filter family
    * (Chaudhuri et al. ICDE'06; Xiao et al. WWW'08), exact by
    * construction, over the SAME 3-gram shingle sets as q36/q38
    * (word-order-aware — unigram token sets of same-vocabulary corpora
    * are near-identical and would pair everything). Order every
    * document's DISTINCT shingles by global rarity (df asc, shingle
    * asc — one total order corpus-wide); if J(a,b) ≥ t, the pigeonhole
    * forces their first `|x| − ceil(t·|x|) + 1` shingles in that order
    * (the "prefix") to share at least one — so the candidate join keys
    * ONLY on prefix shingles. Two further lossless prunes run before
    * the exact intersection verify: the length filter (t·max ≤ min)
    * and PPJoin's POSITIONAL filter — a match at prefix ranks
    * (i, j) bounds the overlap by `1 + min(na−i, nb−j)`, and J ≥ t
    * needs overlap ≥ ceil(t·(na+nb)/(1+t)), so pairs whose best
    * prefix match sits too deep are dropped unverified (measured 8×
    * fewer candidates at the 10× smoke: rare-shingle matches survive,
    * mid-df ones prune).
    *
    * The threshold is integer ppm and the accept gate is all-integer
    * (`inter·1e6 ≥ t·(na+nb−inter)`) — no doubles anywhere, so
    * cross-engine equality is by construction.
    *
    * Shape at 100 TB: ONE tokenize+shingle+hash pass builds the
    * per-doc HASHED shingle arrays (`h60_array`, 60-bit longs) behind
    * a localCheckpoint; the df census, prefix ranking, and both verify
    * sides all derive from that table (round 9 — the q112/q117/q120
    * "post-checkpoint" lineage discipline). Earlier rounds deliberately
    * recomputed the derivation per subtree because the materialized
    * artifact was corpus-scale STRING rows (measured 11× at the 10×
    * smoke from cache pressure); hashing changed the calculus — the
    * checkpoint is now ~8 bytes per distinct shingle occurrence
    * (≈ 2–4% of corpus text bytes), the same order a MinHash signature
    * store pays, and it removes four redundant corpus scans plus their
    * tens of millions of md5 calls per run. The
    * candidate join's anti-skew property is INHERENT: prefixes are
    * each document's RAREST shingles, so the equi-join never keys on
    * stopword grams — the df-skew that forces
    * [[blockedJaccardPairs]]'s `maxShingleDf` cap cannot arise here
    * (a shingle shared by d docs costs d² pairs ONLY if it is rare
    * enough to sit in prefixes, i.e. d is small). Verify joins are
    * deliberately UN-hinted: the small side is the data-dependent
    * candidate set, so AQE broadcasts it when small and falls back to
    * shuffle joins when a pathological corpus makes it large — pinning
    * either choice is wrong at one of the extremes (see the inline
    * comment and BENCH_NOTES round 7). The pair agg
    * partial-aggregates. */
  def ppjoinPairs(documents: DataFrame, tPpm: Long = 500000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tPpm >= 1L && tPpm <= 1000000L,
      s"tPpm must be in [1, 1000000], got $tPpm")
    // ONE pass: per-doc hashed shingle arrays (round 9). Shingles hash
    // to 60-bit longs at derivation (the q35/q36 discipline) — with raw
    // ~25-byte 3-gram strings every downstream subtree shuffled,
    // hash-joined, and aggregated string rows, and the heavy stages
    // spent ~half their task-seconds in GC at the 10× smoke (121–159
    // GC-s per stage, zero spill). Hashed, everything past this line
    // moves 8-byte longs. The oracle applies the identical md5-h60
    // derivation, so equality is by construction, not collision-luck:
    // a 60-bit collision merges the same two shingles in BOTH engines
    // (P ≈ 4e-7 at a 10⁶-shingle vocabulary — and it would shift
    // Jaccard by at most one member). localCheckpoint: the df census,
    // rarity ranking, AND both verify sides read this table — see the
    // scaladoc's post-checkpoint note. LAZY (round-9 advice): eager
    // would run a Spark job at DataFrame-CONSTRUCTION time, a side
    // effect for plan-only callers (specs that .explain, the driver's
    // registry walk); lazy materializes on the first action and is
    // shared by every later consumer identically. Trade-off at real
    // cluster scale: executor-local blocks are NOT fault-tolerant — a
    // lost executor fails the job — so a 1000-node run would swap this
    // for reliable checkpointing (HDFS dir) or persist(DISK_ONLY_2).
    val docArr = TextOps.shingled(documents)
      .select(col("doc_id"), expr("h60_array(sh)").as("hs"))
      .localCheckpoint(eager = false)
    // n = size of the DISTINCT shingle set, read off the array before
    // the explode — no corpus-wide COUNT window needed
    val tk = docArr
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"),
        explode(col("hs")).as("tok"))
    val dfc = tk.groupBy("tok").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df").asc, col("tok").asc)
    val ranked = tk.join(dfc, Seq("tok"))
      .withColumn("rk", row_number().over(byRarity).cast("long"))
    val prefix = ranked
      .filter(col("rk") <=
        col("n") - expr(s"($tPpm * n + 999999L) div 1000000L") + 1L)
      .select(col("doc_id"), col("tok"), col("n"), col("rk"))
    // minimum overlap J >= t requires: inter >= t·(na+nb)/(1+t)
    val oMin = s"(($tPpm * (na + nb) + ${1000000L + tPpm - 1L}L) " +
      s"div ${1000000L + tPpm}L)"
    val cand = prefix.select(col("doc_id").as("doc_a"), col("tok"),
        col("n").as("na"), col("rk").as("ra"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("tok"),
        col("n").as("nb"), col("rk").as("rb")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b") &&
        expr(s"$tPpm * greatest(na, nb) <= 1000000L * least(na, nb)"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(max(expr("least(na - ra, nb - rb)")).as("ub"))
      .filter(expr(s"ub + 1L >= $oMin"))
      .select("doc_a", "doc_b", "na", "nb")
    // verify joins deliberately UN-hinted (the q110 rule): the small
    // side is the data-dependent candidate set — AQE broadcasts it when
    // it is small (the q62 probe shape, corpus never shuffles) and
    // falls back to shuffle joins when a pathological corpus makes it
    // large; pinning either choice is wrong at one of the extremes.
    // Round-9 reshape: the intersection is computed per candidate PAIR
    // against each doc's hashed shingle ARRAY (one ~n-element long
    // array per doc), not by re-joining the exploded (doc, shingle)
    // map. The old row-form verify expanded every candidate to
    // |prefix-doc| rows and sort-merge-joined them back against the
    // full exploded map on (doc, shingle) — at the 10× smoke that meant
    // shuffling and sorting corpus×shingle rows (30M) twice, 7× the
    // base verify cost on perfectly linear candidates (33k → 333k
    // pairs). The array form moves |corpus| array rows + |cand| pairs;
    // per-pair cost is the same O(na + nb) set intersection, minus the
    // shuffle machinery. Arrays are already distinct (array_distinct
    // upstream), so size(array_intersect) is the exact overlap; the
    // oracle replays len(list_intersect) over the identically-hashed
    // lists.
    // the candidate side carries ONLY the bare pair into the verify
    // joins — na/nb re-derive from the arrays afterwards (same distinct
    // set, so size(hs) == n). At the 10× smoke the four-column pair set
    // (333k × ~40 B ≈ 13 MB) sat exactly at AQE's broadcast boundary
    // and the join strategy flapped rep-to-rep (3.8 s broadcast reps vs
    // 13.7 s sort-merge reps); the two-column form stays decisively
    // inside the broadcast regime until candidates genuinely outgrow
    // it — at which point sort-merge IS the right plan.
    val inter = cand.select("doc_a", "doc_b")
      .join(docArr.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
        Seq("doc_a"))
      .join(docArr.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(col("ha")).cast("long").as("na"),
        size(col("hb")).cast("long").as("nb"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("inter"))
    inter
      .filter(expr(s"inter * 1000000L >= $tPpm * (na + nb - inter)"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("union_size"),
        expr("inter * 1000000L div (na + nb - inter)").as("jaccard_ppm"))
  }

  /** Exact duplicated-span census — the EXACTSUBSTR dedup of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better"),
    * re-expressed Spark-first. Every w-token window is hashed; a window
    * whose hash occurs ≥ 2 times corpus-wide is a duplicate; every
    * occurrence EXCEPT the canonical first (min (doc_id, pos)) marks its
    * w positions removable; overlapping or adjacent marked windows merge
    * into maximal spans. Per doc: flagged-window count, merged-span
    * count, tokens covered by spans, longest span, covered fraction —
    * the readout a span-removal pass would act on, keeping exactly one
    * copy of every duplicated run corpus-wide.
    *
    * Shape at 100 TB: window emission is a narrow per-doc pass (native
    * [[graft.functions.NgramShingles]], codegen'd, one output row per
    * token position — the same O(corpus tokens) the suffix-array
    * formulation pays); the occurrence census is ONE partial-aggregable
    * groupBy (count + min-struct argmin), skew-safe against boilerplate
    * windows repeated millions of times because partial aggregation
    * collapses them map-side; the flag join is a hash equi-join on the
    * window hash; span merging is a per-doc window (gaps-and-islands
    * over equal-width intervals — running sum of breaks), bounded by
    * document length. Nothing is quadratic; the only corpus-scale
    * shuffles are the census groupBy and the flag join. A winnowed
    * prefilter ([[winnowStats]]) can bound the candidate docs first when
    * the dup rate is known to be low. */
  def dupSpanStats(documents: DataFrame, w: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (toks, flagged) = dupFlaggedWindows(documents, w)
    // gaps-and-islands: intervals all have width w, so the running max
    // end is always lag(pos)+w and "new span" reduces to pos-lag(pos)>w
    // (adjacent windows — gap exactly w — merge into one contiguous run)
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val spans = flagged
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byPos) > w, 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(byPos))
      .groupBy("doc_id", "island")
      .agg(count(lit(1)).as("n_wins"),
        (max(col("pos")) + w - min(col("pos"))).as("span_tokens"))
    val perDoc = spans.groupBy("doc_id").agg(
      sum("n_wins").as("n_dup_windows"),
      count(lit(1)).as("n_spans"),
      sum("span_tokens").as("dup_tokens"),
      max("span_tokens").as("max_span"))
    toks.select("doc_id", "n_tokens")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_frac"))
  }

  /** Shared tokenize-and-hash front of every windowed excision entry
    * point ([[dupSpanStats]], [[dupSpanExcise]], [[decontaminateExcise]]
    * — round-11 advice: the latter had this frame duplicated verbatim):
    * `toks` = (doc_id, n_tokens, tk); `wins` = one (doc_id, pos, h) row
    * per w-token window, h60-hashed AT the explode (the q38 discipline —
    * raw window strings never reach an exchange). */
  private def hashedWindows(
      documents: DataFrame, w: Int): (DataFrame, DataFrame) = {
    require(w >= 2, s"w must be >= 2, got $w")
    val toks = TextOps.tokenized(documents)
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"), col("tk"))
    val wins = toks
      .select(col("doc_id"), posexplode(expr(s"ngram_shingles(tk, $w)")).as(Seq("p0", "win")))
      .select(col("doc_id"), (col("p0") + 1L).cast("long").as("pos"),
        expr(h60x("win")).as("h"))
    (toks, wins)
  }

  /** Shared front half of the EXACTSUBSTR pair ([[dupSpanStats]],
    * [[dupSpanExcise]]): tokenized docs plus the flagged (doc_id, pos)
    * set — every w-token window whose h60 occurs ≥ 2 times corpus-wide,
    * minus the canonical first occurrence (min (doc_id, pos)). */
  private def dupFlaggedWindows(
      documents: DataFrame, w: Int): (DataFrame, DataFrame) = {
    val (toks, wins) = hashedWindows(documents, w)
    val census = wins.groupBy("h").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("pos"))).as("canon"))
    val flagged = wins.join(census.filter(col("cnt") >= 2), Seq("h"))
      .filter(!(col("doc_id") === col("canon.doc_id") &&
        col("pos") === col("canon.pos")))
      .select("doc_id", "pos")
    (toks, flagged)
  }

  /** EXACTSUBSTR span REMOVAL — the act [[dupSpanStats]]'s census reads
    * out for (Lee et al. 2022's deduplication step itself, not just its
    * report): rewrite each document's token stream dropping every token
    * covered by a non-canonical duplicated window, keeping exactly one
    * copy of every duplicated w-token run corpus-wide. Output per doc:
    * original/kept/dropped token counts and the excised `text_clean`
    * (canonical copies and unique text byte-identical; a pure duplicate
    * of an earlier doc collapses to the empty string).
    *
    * Shape at 100 TB: adds three corpus-token-bounded stages to the
    * census — covered positions (explode of `sequence(pos, pos+w-1)`,
    * ≤ w rows per flagged window, then distinct), a hash LEFT ANTI join
    * of the posexploded tokens against them, and the per-doc
    * reassembly, which rides [[graft.functions.SortedMultiConcat]] (the
    * q52 allocation discipline: one exactly-sized buffer per doc, no
    * collect_list → sort_array garbage). Nothing quadratic; every join
    * is a hash equi-join keyed by (doc_id, position) or the window
    * hash. The `lpad`-ed position key reproduces integer order under
    * the aggregate's binary-collation sort, so the DuckDB oracle's
    * `string_agg(tok, ' ' ORDER BY p)` replays byte-exact. */
  def dupSpanExcise(documents: DataFrame, w: Int = 10): DataFrame = {
    val (toks, flagged) = dupFlaggedWindows(documents, w)
    exciseFlagged(toks, flagged, w)
  }

  /** Shared back half of the excision pair ([[dupSpanExcise]],
    * [[decontaminateExcise]]): covered positions → anti-join → per-doc
    * reassembly through [[graft.functions.SortedMultiConcat]] (the q52
    * allocation discipline). `toks` = (doc_id, n_tokens, tk); `flagged`
    * = the (doc_id, pos) window starts to remove. */
  private def exciseFlagged(toks: DataFrame, flagged: DataFrame,
      w: Int): DataFrame = {
    val cov = flagged
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${w - 1}L)")).as("p"))
      .distinct()
    val tokens = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1L).cast("long").as("p"), col("tok"))
    val rebuilt = tokens.join(cov, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("kept_tokens"),
        expr("substring(sorted_multi_concat(lpad(cast(p AS string), 10, '0')," +
          " concat(' ', tok)).c0, 2)").as("text_clean"))
    toks.select("doc_id", "n_tokens")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("dropped_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Decontamination by EXCISION — the act [[decontaminate]]'s census
    * reads out for (the GPT-3/Pile decontamination step: REMOVE the
    * contaminated spans, keep the rest of the document — dropping whole
    * documents over one leaked quote wastes the corpus): every token of
    * a corpus document covered by a `w`-token window that appears
    * ANYWHERE in the probe/benchmark set is excised and the document
    * re-assembled. Unlike [[dupSpanExcise]] there is NO canonical-copy
    * exemption — contaminated text has no right to survive anywhere in
    * the training corpus.
    *
    * Shape at 100 TB: the probe side collapses to DISTINCT window
    * hashes — bounded by the benchmark suite, broadcast (the q62
    * contract; swap in [[bloomDecontaminate]]'s bitset prefilter when
    * the suite outgrows a broadcast) — so flagging is a per-row
    * semi-join the corpus streams through; the excision tail is
    * [[dupSpanExcise]]'s (position explode bounded by w per flagged
    * window, hash anti-join, doc-keyed [[graft.functions.SortedMultiConcat]]
    * reassembly). Nothing quadratic, no corpus self-join at all. */
  def decontaminateExcise(corpus: DataFrame, probes: DataFrame,
      w: Int = 10): DataFrame = {
    val (toks, wins) = hashedWindows(corpus, w)
    val probeH = hashedWindows(probes, w)._2.select("h").distinct()
    val flagged = wins
      .join(broadcast(probeH), Seq("h"), "left_semi")
      .select("doc_id", "pos")
    exciseFlagged(toks, flagged, w)
  }

  /** Near-dup pair EVIDENCE — the explainability readout for a dedup
    * decision: for every verified near-dup pair, its `topK` RAREST
    * shared shingles (lowest corpus document-frequency first). A
    * reviewer auditing "why were these two merged?" reads the shared
    * rare n-grams, not a bare Jaccard number — common stop-grams shared
    * by half the corpus explain nothing, the df ordering surfaces the
    * distinctive overlap (the same rarest-is-most-informative principle
    * PPJoin's prefix filter and q69's rare-term salience build on).
    *
    * Output: one row per (pair, rank ≤ topK): the shingle text and its
    * corpus df. Rank ties break by the shingle's h60 — never by string
    * collation (engine-dependent).
    *
    * Shape at 100 TB: pairs are the BOUNDED near-dup set; each pair
    * fans out to its a-side doc's shingles (doc-sized, the audit's
    * inherent cost) and semi-joins the b side; the df census is
    * SEMI-JOINED to the pair-shared shingles BEFORE it aggregates
    * (round-12 verdict item 7) — each surviving count is still the full
    * corpus df for that shingle, but only the bounded shared-shingle
    * groups are counted at all, so the audit's cost tracks the near-dup
    * population, not the corpus. The rank window partitions by pair —
    * bounded rows per partition, no corpus-wide window. `shared` is
    * localCheckpointed because it now fans into two consumers (the
    * census prefilter and the final evidence join) and it is
    * pair-bounded, unlike the corpus-sized explode the q86/q146
    * reasoning refuses to checkpoint. */
  def pairEvidence(documents: DataFrame, jaccardMin: Double = 0.5,
      topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // the verified near-dup pairs are BOUNDED by construction — checkpoint
    // once (consumed by the broadcast join and the b-doc set below)
    val pairs = minhashCandidatePairs(documents)
      .filter(col("jaccard") >= jaccardMin).select("a", "b")
      .localCheckpoint()
    val rows = TextOps.shingleRows(documents)
    // The corpus-sized shingle explode reduces map-side BEFORE any
    // exchange: ONE scan semi-joins the broadcast pair-doc set down to
    // the pair docs' shingles (`pd`, bounded by the near-dup
    // population, so checkpointing it is cheap — unlike the corpus
    // explode the q86/q146 reasoning refuses to checkpoint); the a-side
    // join and the (b, g) semi-join both derive from `pd`, so every
    // exchange tracks the near-dup population, not the corpus
    // (round-13: the original corpus-keyed shuffles were 10x the pair
    // volume at the 10x smoke).
    val pairDocs = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id"))).distinct()
    val pd = rows.join(broadcast(pairDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val shared = pd.select(col("doc_id").as("a"), col("g"))
      .join(broadcast(pairs), Seq("a"))
      .join(pd.select(col("doc_id").as("b"), col("g")), Seq("b", "g"),
        "left_semi")
    val sharedG = shared.select("g").distinct()
    val dfc = rows.join(broadcast(sharedG), Seq("g"), "left_semi")
      .groupBy("g").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("a", "b")
      .orderBy(col("df").asc, col("h").asc)
    shared
      .join(dfc, Seq("g"))
      .withColumn("h", expr(h60x("g")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("a"), col("b"), col("rank"), col("g").as("shingle"),
        col("df"))
  }

  /** Character-level near-duplicate pairs by blocked Levenshtein — the
    * ENTITY-RESOLUTION member of the near-dup family: token Jaccard
    * (q38) and MinHash (q36) miss pairs that differ by in-word edits
    * (OCR noise, typo variants, templated IDs), which edit distance
    * catches. All-pairs Levenshtein is O(N²·L²) — never viable — so
    * candidates gate through the standard ER blocking key: the first
    * `prefixTokens` tokens joined (near-dups by high char similarity
    * share their prefix) AND a length window (edit distance ≥ length
    * difference, so |Δlen| > (1−θ)·maxLen rows cannot clear the
    * similarity floor anyway — the window is a cheap sound-ish
    * pre-filter made exact by the final sim test). Similarity is the
    * exact integer `((maxLen − lev) · 1e6) div maxLen`. Cross-engine
    * contract: both `levenshtein` and `length` must count CODEPOINTS
    * (not bytes) on multi-byte UTF-8 — Spark's UTF8String does; the
    * sf-corpus hash match only exercises ASCII, so the multi-byte pin
    * lives in `Round13FamiliesSpec` ("unicode pin"), which checks the
    * Spark result against an independent JVM codepoint DP.
    *
    * Shape at 100 TB: one equi-join (shuffle on the block key) whose
    * fan-out is per-block, not per-corpus — the q38 blocking shape; the
    * O(L²) DP runs only on surviving candidates. Prefix blocking is the
    * documented candidate CONTRACT (same as every blocked op here): a
    * near-dup pair differing inside its first `prefixTokens` tokens is
    * out of scope for this detector — MinHash banding (q36) covers that
    * half of the matrix. A degenerate hot block (a boilerplate prefix
    * millions of docs share) is the same failure mode as a hot LSH
    * bucket: AQE's skew-join split handles moderate skew (the
    * planted-hot-bucket spec proves the mechanism on this suite), and a
    * caller facing template-heavy corpora should raise `prefixTokens` —
    * the standard ER response of sharpening the blocking key. */
  /** Single source of truth for [[levNearDupPairs]]'s defaults — the
    * q171 oracle interpolates the same values (the q161 lockstep
    * discipline). */
  val LevPrefixTokens: Int = 3
  val LevLenWindow: Int = 8
  val LevSimMinPpm: Long = 900000L

  def levNearDupPairs(documents: DataFrame,
      prefixTokens: Int = LevPrefixTokens,
      lenWindow: Int = LevLenWindow,
      simMinPpm: Long = LevSimMinPpm): DataFrame = {
    require(prefixTokens >= 1, s"prefixTokens must be >= 1, got $prefixTokens")
    require(lenWindow >= 0 && simMinPpm >= 0, s"bad $lenWindow/$simMinPpm")
    val tk = split(coalesce(col("text"), lit("")), " ")
    val t = documents
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        tk.as("tk"))
      .filter(size(col("tk")) >= prefixTokens)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"),
        array_join(slice(col("tk"), 1, prefixTokens), "|").as("blk"))
    levNearDupPairsFrom(t, lenWindow, simMinPpm)
  }

  /** [[levNearDupPairs]] over a pre-built `(doc_id, text, len, blk)`
    * block table — the [[nearDupFusion]] shared-scan seam. */
  private[graft] def levNearDupPairsFrom(t: DataFrame, lenWindow: Int,
      simMinPpm: Long): DataFrame = {
    val a = t.select(col("blk"), col("doc_id").as("a_id"),
      col("text").as("a_text"), col("len").as("a_len"))
    val b = t.select(col("blk"), col("doc_id").as("b_id"),
      col("text").as("b_text"), col("len").as("b_len"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id") &&
        abs(col("a_len") - col("b_len")) <= lenWindow)
      .withColumn("max_len", greatest(col("a_len"), col("b_len")))
      .withColumn("lev",
        levenshtein(col("a_text"), col("b_text")).cast("long"))
      .withColumn("sim_ppm",
        expr("((max_len - lev) * 1000000L) div max_len"))
      .filter(col("sim_ppm") >= simMinPpm)
      .select("a_id", "b_id", "lev", "max_len", "sim_ppm")
  }

  /** Multi-signal near-dup pair ledger — production dedup runs SEVERAL
    * detectors because each has a blind spot (MinHash token-set overlap
    * misses in-word edits; SimHash is a global-similarity sketch that
    * misses local containment; char-level Levenshtein only sees inside
    * its blocking key), and the MERGE decision wants the union with
    * provenance: which detectors agree on each pair. One row per
    * detected pair with a signal bitmask (1 = MinHash-verified Jaccard,
    * 2 = SimHash Hamming, 4 = blocked Levenshtein) and the agreement
    * count — the evidence table a closure pass ([[componentKeepers]],
    * q57) or an audit (q165) consumes downstream.
    *
    * Shape at 100 TB: the plain union of the three PROVEN bucketed
    * detectors (q36 LSH bands, q59 Hamming bands, q171 prefix blocks)
    * feeding one pair-keyed idempotent agg. A shared-scan variant — the
    * tokenize/shingle front computed once into a per-doc localCheckpoint
    * feeding all three members — was BUILT AND MEASURED in round 14 and
    * rejected on the numbers: the checkpoint is corpus-sized by
    * construction (the shingle-set column alone is ~3× the text volume;
    * ~2.4 GB at the 10× smoke, heap-scale at 100×), its per-run
    * materialization degraded repeated executions monotonically
    * (10× reps 5.0 → 9.6 s within one session) and bought nothing at
    * 100× (all variants within noise once the real q59 bottleneck — the
    * pre-filter distinct, fixed in [[hammingCandidatePairs]] — was
    * removed). The members' tokenize scans stay ON-PLAN: codegen'd,
    * pipelined, no state — the q69/q172 "never materialize a corpus
    * copy" discipline, re-confirmed by measurement (BENCH_NOTES r14). */
  def nearDupFusion(documents: DataFrame, jaccardMin: Double = 0.5,
      maxHamming: Int = 3, levMinPpm: Long = LevSimMinPpm): DataFrame = {
    val mh = minhashCandidatePairs(documents)
      .filter(col("jaccard") >= jaccardMin)
      .select(col("a"), col("b"), lit(1L).as("signal"))
    val sp = simhashCandidatePairs(documents, maxHamming)
      .select(col("a"), col("b"), lit(2L).as("signal"))
    val lv = levNearDupPairs(documents, simMinPpm = levMinPpm)
      .select(col("a_id").as("a"), col("b_id").as("b"),
        lit(4L).as("signal"))
    // bit_or, not sum: each branch emits distinct pairs today
    // (q36/q59 candidate chains distinct, q171 one-block-key-per-doc),
    // but a future multi-key blocking change (e.g. several prefix keys
    // for recall) would make sum() silently double-count a signal and
    // corrupt the mask — bit_or is idempotent, so the mask (and
    // bit_count for the agreement count) survives duplicates.
    mh.union(sp).union(lv)
      .groupBy("a", "b")
      .agg(expr("bit_or(signal)").cast("long").as("signal_mask"))
      .withColumn("n_signals",
        expr("CAST(bit_count(signal_mask) AS BIGINT)"))
  }
}
