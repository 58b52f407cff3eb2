package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SimOps, TextOps}

class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"

  test("minhash LSH finds a planted near-duplicate and not the unrelated doc") {
    val nearDup = base.replace("sigma", "sygma") // one token changed
    val unrelated = (1 to 20).map(i => s"word$i").mkString(" ")
    val pairs = DedupOps.minhashCandidatePairs(
      docs(1L -> base, 2L -> nearDup, 3L -> unrelated))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.7 },
      s"expected (1,2) candidate, got ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("short docs (no shingles) never enter LSH banding or candidate pairs") {
    // Docs with < 3 tokens all share the identical -1 sentinel signature;
    // if banded they'd bucket together in EVERY band and explode into
    // O(m²) candidate pairs with 0/0 Jaccard. They must be excluded.
    val shorts = (10L to 14L).map(i => i -> s"tok$i") // 1 token each → no 3-grams
    val d = docs((Seq(1L -> base, 2L -> base.replace("sigma", "sygma")) ++ shorts): _*)
    val banded = DedupOps.lshBanded(d)
      .filter(col("doc_id") >= 10L).count()
    assert(banded === 0L, "sentinel-signature docs must not be banded")
    val pairs = DedupOps.minhashCandidatePairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)),
      s"only the real near-dup pair should survive, got ${pairs.toSeq}")
  }

  test("identical documents have identical minhash signatures") {
    val sigs = DedupOps.minhashSigned(docs(1L -> base, 2L -> base, 3L -> "x y z a b c"))
      .selectExpr("doc_id", "array_join(transform(sig, x -> cast(x AS string)), ',') AS s")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("exact dedup groups by key with first-occurrence keeper") {
    val groups = DedupOps.exactDupGroups(
      docs(5L -> "same text here", 9L -> "same text here", 7L -> "different text entirely"),
      "md5(text)")
      .orderBy("keeper_doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(groups.toSeq === Seq((5L, 2L), (7L, 1L)))
  }

  test("simhash of near-identical docs differs in few bits") {
    val sh = TextOps.simhashed(docs(1L -> base, 2L -> base.replace("sigma", "sygma"),
        3L -> (1 to 20).map(i => s"zzz$i").mkString(" ")))
      .select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
  }

  test("cosine top-k ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to query 0
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close
      (3L, Array(0.0f, 0.0f, 1.0f)))   // orthogonal
      .toDF("vec_id", "embedding")
    val top = SimOps.cosineTopK(vecs, nQueries = 1, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(top.head._1 === 1L && math.abs(top.head._3 - 1.0) < 1e-12)
    assert(top(1)._1 === 2L)
    assert(top(2)._1 === 3L && math.abs(top(2)._3) < 1e-12)
  }

  test("hard negatives skip same-label vectors however close they sit") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(1.0f, 0.0f, 0.0f), 1),   // identical but SAME label — never a negative
      (2L, Array(0.9f, 0.1f, 0.0f), 2),   // close, other label → the hardest negative
      (3L, Array(0.0f, 1.0f, 0.0f), 2),   // orthogonal, other label
      (4L, Array(0.8f, 0.2f, 0.0f), 1))   // close, same label — excluded
      .toDF("vec_id", "embedding", "label")
    val out = SimOps.hardNegatives(vecs, nQueries = 1, m = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(out.length === 2)
    assert(out(0) === ((2L, 2, 1L)), "hardest negative = closest other-label")
    assert(out(1) === ((3L, 2, 2L)))
  }

  test("hyperplane buckets are deterministic and colocate identical vectors") {
    val vecs = Seq(
      (0L, Array.fill(8)(0.5f)),
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val b1 = SimOps.hyperplaneBuckets(vecs, nBits = 8, dim = 8)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = SimOps.hyperplaneBuckets(vecs, nBits = 8, dim = 8)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2)
    assert(b1(0L) === b1(1L))
  }

  test("simhash banding pairs duplicate docs and skips unrelated ones") {
    // identical docs have Hamming 0 — the pigeonhole guarantee applies
    // at any radius, so the pair MUST surface through the 15-bit bands
    val unrelated = (1 to 20).map(i => s"qqq$i").mkString(" ")
    val pairs = DedupOps.simhashCandidatePairs(
      docs(1L -> base, 2L -> base, 3L -> unrelated))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L },
      s"expected (1,2) simhash pair, got ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b, _) => a == 3L || b == 3L })
  }

  test("simhash banding rejects a radius beyond the pigeonhole guarantee") {
    // 4 bands guarantee recall only for Hamming <= 3; a larger radius
    // must throw instead of silently returning incomplete pairs
    val e = intercept[IllegalArgumentException] {
      DedupOps.simhashCandidatePairs(docs(1L -> base), maxHamming = 6)
    }
    assert(e.getMessage.contains("maxHamming"))
  }

  test("geometric blocking finds exactly the pairs brute-force Jaccard finds") {
    import spark.implicits._
    // seeded corpus engineered around the t=0.2 boundary: supersets up
    // to ~5× the base size (ratio ≈ t — the pairs the old n_chars ±1
    // linear blocking could place >1 bucket apart and silently miss),
    // plus unrelated noise docs. Ground truth = brute-force all-pairs
    // Jaccard over the SAME shingle sets; the blocked variant must
    // reproduce it exactly — both recall and precision.
    val rnd = new scala.util.Random(42)
    val rows = (1L to 12L).flatMap { i =>
      val m = 8 + rnd.nextInt(25)
      val baseToks = (1 to m).map(k => s"w${i}_$k")
      val growth = 1.0 + rnd.nextDouble() * 4.4 // partner 1×..5.4× the base
      val extra = (1 to (m * growth).toInt - m).map(k => s"x${i}_$k")
      Seq(i -> baseToks.mkString(" "),
        (100L + i) -> (baseToks ++ extra).mkString(" "))
    } ++ (200L to 206L).map(i => i -> (1 to 20).map(k => s"n${i}_$k").mkString(" "))
    val d = docs(rows: _*)
    val sh = graft.operators.TextOps.shingled(d).select(col("doc_id"), col("sh"))
    val brute = sh.as("x").join(sh.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("""CAST(size(array_intersect(x.sh, y.sh)) AS DOUBLE)
               | / size(array_distinct(concat(x.sh, y.sh)))""".stripMargin).as("j"))
      .filter(col("j") >= 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = DedupOps.blockedJaccardPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must produce threshold-straddling pairs")
    assert(blocked === brute,
      s"missed=${(brute -- blocked).toSeq.sorted} spurious=${(blocked -- brute).toSeq.sorted}")
  }

  test("df-cap prune: a loose cap is a no-op; a hot shingle stops pairing docs") {
    // docs 1/2 are near-dups on REAL content; docs 3/4 share ONLY the
    // stop phrase (every doc carries it, so its shingles have df = 4)
    val stop = "click here to subscribe now"
    val d = docs(
      1L -> s"$base $stop",
      2L -> s"${base.replace("sigma", "sygma")} $stop",
      3L -> s"one two three four five six seven $stop",
      4L -> s"red orange yellow green blue indigo violet $stop")
    def pairSet(cap: Option[Long]) =
      DedupOps.blockedJaccardPairs(d, minJaccard = 0.1, maxShingleDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cap ≥ n_docs: df > 4 never fires — bit-identical to the exact form
    val exact = pairSet(None)
    assert(pairSet(Some(4L)) === exact)
    // uncapped, the stop phrase alone pairs 3/4; capped at df > 2 the
    // ubiquitous shingles carry no signal and 3/4 drop out, while the
    // real near-dup 1/2 survives on its content shingles
    assert(exact.contains((3L, 4L)), s"stop-phrase pair expected uncapped: $exact")
    val capped = pairSet(Some(2L))
    assert(capped.contains((1L, 2L)), s"real near-dup must survive the cap: $capped")
    assert(!capped.contains((3L, 4L)), s"stop-phrase-only pair must be pruned: $capped")
  }

  test("13-gram decontamination hits only verbatim spans; 3-gram over-fires") {
    // published practice (e.g. 13-gram overlap rules) uses long shingles
    // so only verbatim quotes hit. The corpus doc shares a 13-token
    // verbatim span with probe 1, and merely common SHORT phrasing with
    // probe 2 — at n=13 only the verbatim span is contamination.
    val span = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val probes = docs(
      100L -> s"$span and some trailing probe text here",
      101L -> "totally different words with the quick brown fox phrase")
    val verbatim = docs(1L -> s"leading corpus text then $span closes it")
    val phrasing = docs(2L -> "unrelated doc reusing the quick brown fox only")
    val corpus = verbatim.unionByName(phrasing)
    val at13 = DedupOps.decontaminate(corpus, probes, n = 13)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(at13(1L) === true, "verbatim 13-gram span must flag")
    assert(at13(2L) === false, "shared short phrasing must NOT flag at n=13")
    val at3 = DedupOps.decontaminate(corpus, probes, n = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(at3(2L) === true, "at n=3 the shared trigram fires — the over-trigger n=13 exists to avoid")
  }

  test("bloomDecontaminate: bit-identical to decontaminate, even when every bloom bit collides") {
    val span = "one two three four five six seven eight nine ten"
    val probes = docs(
      100L -> s"$span with probe-only continuation words",
      101L -> "entirely disjoint probe content nothing shared anywhere")
    val corpus = docs(
      1L -> s"corpus doc quoting $span verbatim in the middle",
      2L -> "clean corpus doc sharing no trigram with any probe at all",
      3L -> s"another hit because $span appears here too")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val exact = rows(DedupOps.decontaminate(corpus, probes))
    assert(exact.exists(_._3) && exact.exists(!_._3), "fixture must mix hits and misses")
    // production sizing: bloom prunes, verify confirms — identical output
    assert(rows(DedupOps.bloomDecontaminate(corpus, probes)) === exact)
    // degenerate 64-bit bloom: nearly every shingle collides into the
    // same few words, so the prefilter passes almost everything —
    // results must STILL be exact because the verify join kills the fps
    assert(rows(DedupOps.bloomDecontaminate(corpus, probes, bloomBits = 64L,
      bloomHashes = 2)) === exact)
  }

  test("cdcSegmentDedup: content-defined boundaries survive a head insertion; fixed-width ones don't") {
    // doc 2 = doc 1 with ONE token prepended. CDC boundaries re-align
    // after the first surviving content boundary, so doc 2 re-dedups
    // most of its segments against doc 1; fixed-width segmentation
    // shifts every 8-token frame and keeps everything.
    val body = (1 to 64).map(i => s"tok${i % 23}_${i % 7}").mkString(" ")
    val d = docs(1L -> body, 2L -> s"INSERTED $body")
    val cdc = DedupOps.cdcSegmentDedup(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (n1, k1) = cdc(1L)
    val (n2, k2) = cdc(2L)
    assert(n1 >= 2L, s"divisor 8 over 64 tokens must cut several segments, got $n1")
    assert(k1 === n1, "first doc keeps everything")
    assert(k2 < n2, s"shifted copy must re-dedup some tail segments: kept $k2 of $n2")
    val fixed = DedupOps.segmentDedup(d, segTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed(2L) === 9L, "fixed-width keeps ALL 9 shifted frames — the failure CDC exists to fix")
    // determinism + identity: running on the single doc alone keeps all
    val solo = DedupOps.cdcSegmentDedup(docs(1L -> body)).collect().head
    assert(solo.getLong(1) === n1 && solo.getLong(2) === n1
      && solo.getString(3) === body, "reassembly must be lossless")
  }

  test("cdc_boundaries native expression is bit-identical to the interpreted HOF form") {
    val winHash = graft.operators.TextOps.h60x(
      "array_join(slice(tk, CAST(i - 4 + 1 AS INT), 4), ' ')")
    val d = docs(
      1L -> base,
      2L -> base.replace("sigma", "sygma"),
      3L -> "a b",                        // n < window → empty
      4L -> (1 to 200).map(i => s"t$i").mkString(" "))
      .withColumn("tk", org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " "))
      .withColumn("n", org.apache.spark.sql.functions.expr(
        "CAST(size(tk) AS BIGINT)"))
    val hof = d.selectExpr("doc_id",
      s"""CASE WHEN n >= 4L THEN
         |  filter(sequence(4L, n), i -> pmod($winHash, 8L) = 0L)
         |ELSE CAST(array() AS ARRAY<BIGINT>) END AS bnd""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = d.selectExpr("doc_id", "cdc_boundaries(tk, 4, 8L) AS bnd")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native === hof)
    assert(native(3L) === Seq.empty[Long])
    assert(native(4L).nonEmpty, "200 tokens at divisor 8 must cut somewhere")
  }

  test("winnowStats: density near 2/(w+1), short docs select nothing, identity is exact") {
    import graft.operators.DedupOps
    val words = (1 to 400).map(i => s"w${i % 97}x$i").mkString(" ")
    val out = DedupOps.winnowStats(docs(
        (1L, words),
        (2L, words),            // identical → identical census
        (3L, "a b c"),          // 1 k-gram < w windows → nothing selected
        (4L, "a b")))           // no k-gram at all
      .orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getLong(1) === 398L)
    // the paper's expected density is 2/(w+1) = 0.4 at w=4; allow slack
    assert(r1.getLong(6) > 250000L && r1.getLong(6) < 550000L,
      s"density ${r1.getLong(6)} ppm far from the winnowing expectation")
    assert(r1.toSeq.drop(1) === out(1).toSeq.drop(1), "identical docs, identical census")
    assert(out(2).getLong(2) === 0L && out(2).isNullAt(5), "sub-window doc selects nothing")
    assert(out(3).getLong(1) === 0L && out(3).getLong(6) === 0L)
  }

  test("winnowStats guarantee: a shared >= k+w-1 token run shares a fingerprint") {
    import graft.operators.{DedupOps, TextOps}
    // two documents with entirely different text EXCEPT a planted shared
    // run of k+w-1 = 6 tokens: winnowing must select at least one common
    // fingerprint from inside the run (the SIGMOD'03 guarantee), which
    // is what makes fingerprints joinable for partial-overlap detection.
    val shared = "the quick brown fox jumps high"
    val d = docs(
      (1L, s"alpha beta gamma delta $shared epsilon zeta eta theta"),
      (2L, s"one two three four five six seven $shared eight nine ten"))
    val fps = TextOps.tokenized(d)
      .selectExpr("doc_id", "explode(winnow_fingerprints(tk, 3, 4)) AS h")
      .collect().groupBy(_.getLong(0)).map { case (k2, rs) => k2 -> rs.map(_.getLong(1)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "shared 6-token run must contribute a common fingerprint")
  }

  test("winnowContainmentPairs: a quoted doc scores ~1e6 on its own side, low on the host's") {
    import graft.operators.DedupOps
    val quote = (1 to 30).map(i => s"q${i}token").mkString(" ")
    val host = (1 to 200).map(i => s"h${i}word").mkString(" ") + " " + quote +
      " " + (201 to 400).map(i => s"h${i}word").mkString(" ")
    val other = (1 to 100).map(i => s"z${i}item").mkString(" ")
    val out = DedupOps.winnowContainmentPairs(docs(
        (1L, quote), (2L, host), (3L, other)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(5), r.getLong(6))).toMap
    assert(out.keySet === Set((1L, 2L)), s"only the quote pair pairs, got $out")
    val (shared, contA, contB) = out((1L, 2L))
    assert(shared >= 2L)
    // the quote's fingerprints nearly all reappear inside the host; the
    // host's mostly don't appear in the quote — the asymmetry IS the signal
    assert(contA > 700000L, s"quote-side containment low: $contA")
    assert(contB < 300000L, s"host-side containment suspiciously high: $contB")
    assert(contA > 3 * contB)
  }

  test("winnowContainmentPairs: the df-cap prune stops a boilerplate fingerprint from pairing everyone") {
    import graft.operators.DedupOps
    // every doc shares one long boilerplate run; pairwise, nothing else.
    val bp = (1 to 20).map(i => s"bp${i}x").mkString(" ")
    val d = docs((1 to 6).map(i =>
      (i.toLong, s"$bp " + (1 to 40).map(j => s"u${i}_$j").mkString(" "))): _*)
    val exact = DedupOps.winnowContainmentPairs(d).collect()
    assert(exact.length === 6 * 5 / 2, "boilerplate pairs all C(6,2) docs")
    // capping hashes present in >50% of docs removes the boilerplate
    // fingerprints; no residual pair reaches minShared
    val capped = DedupOps.winnowContainmentPairs(d, maxHashDocFrac = 0.5).collect()
    assert(capped.isEmpty, s"df-capped run must drop the boilerplate pairs, got ${capped.length}")
  }

  test("bandingPlanner: rates bounded, monotone in band count, exact on a pure-dup corpus") {
    // identical docs: every candidate pair has jaccard 1.0 → s-curve
    // midpoint s = 1 → p_detect = 1 for EVERY config, so
    // expected_detected = n_pairs exactly and rate = 1.0
    val dups = docs(1L -> base, 2L -> base, 3L -> base)
    val pure = DedupOps.bandingPlanner(dups).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(pure.length === 5, "one row per default config")
    pure.foreach { case (_, _, n, ed, rate) =>
      assert(n === 3L && ed === 3.0 && rate === 1.0)
    }
    // mixed corpus: rates stay in [0,1] and detection is monotone in
    // the band count at fixed total hashes (more bands = more chances)
    val mixed = docs(1L -> base, 2L -> base.replace("sigma", "sygma"),
      3L -> "completely different text entirely here now")
    val rows = DedupOps.bandingPlanner(mixed).collect()
      .map(r => (r.getInt(0), r.getDouble(4))).toMap
    assert(rows.values.forall(r => r >= 0.0 && r <= 1.0))
    assert(rows(16) >= rows(8) && rows(8) >= rows(4)
      && rows(4) >= rows(2) && rows(2) >= rows(1),
      s"detection must be monotone in bands: $rows")
  }

  test("lshBucketStats: integer invariants tie out against the banding") {
    val nearDup = base.replace("sigma", "sygma")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> "completely different text entirely here now")
    val stats = DedupOps.lshBucketStats(d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(stats.length === 4, "one row per band")
    stats.foreach { case (_, nBuckets, nDocs, maxB, pairs) =>
      assert(nDocs === 3L, "every banded doc counted once per band")
      assert(nBuckets >= 1L && maxB >= 1L && maxB <= 3L)
      // pair identity: sum c(c-1)/2 with 3 docs is 0, 1, or 3
      assert(Set(0L, 1L, 3L).contains(pairs))
    }
    // near-dups 1/2 share at least one bucket in some band
    assert(stats.exists(_._4 >= 2L), "near-dups must collide somewhere")
  }

  test("blocked Jaccard rejects thresholds below the digit-count radix cap") {
    // conv()/to_base() cap at radix 36 in both engines and return NULL
    // beyond it, which would silently empty the block join — the guard
    // must throw instead
    val e = intercept[IllegalArgumentException] {
      DedupOps.blockedJaccardPairs(docs(1L -> base), minJaccard = 0.02)
    }
    assert(e.getMessage.contains("1/36"))
  }

  test("long path graph converges in logarithmic rounds, not diameter") {
    import spark.implicits._
    // path 1-2-…-33: diameter 32. Plain min-label propagation needs 32
    // rounds (more than the default budget); large-star/small-star
    // contraction halves depth per alternation — ≤ ~2·log₂(32) rounds.
    val pairs = (1L until 33L).map(i => (i, i + 1)).toDF("a", "b")
    // one probe ACTION per round (round-3 verdict item 5): count SQL
    // executions, not scheduler jobs — AQE fans one action out into a
    // job per materialized stage, so job counts measure plan shape, not
    // driver round-trips. Per round: 1 checkpoint + 1 stats agg; plus
    // setup (ONE checkpoint since round 14 — nodes and the initial edges
    // derive from a single normalized-pair materialization) and ONE
    // exceptAll verify on the convergence round.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            jobs.incrementAndGet()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val (labels, rounds) =
      try DedupOps.componentKeepersWithRounds(pairs)
      finally {
        // listener events post asynchronously; settle before reading
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(listener)
      }
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 33L).map(_ -> 1L).toMap)
    assert(rounds <= 10, s"expected O(log d) convergence, took $rounds rounds")
    assert(jobs.get() <= 3 + 2 * rounds + 1,
      s"fixpoint launched ${jobs.get()} jobs over $rounds rounds — " +
        "expected one probe job per round plus checkpoints")
  }

  test("component keepers collapse a chain that single-hop would leave split") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3) + separate pair 10-11: single-hop min
    // would give 3->2, 4->3; the closure must give every chain node -> 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val labels = DedupOps.componentKeepers(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("component keepers label self-pair nodes (every node in pairs, r14 single-materialization)") {
    import spark.implicits._
    // (5,5) contributes node 5 but no edge — the contract ("returns
    // (id, label) for every node APPEARING IN pairs") must survive the
    // round-14 reshape that derives nodes and edges from ONE checkpointed
    // normalized-pair frame instead of two independent `pairs` scans.
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("a", "b")
    val labels = DedupOps.componentKeepers(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
  }

  test("IVF assignment puts every vector in its max-cosine centroid cell") {
    // centroids = vec_id < 2; vectors 2,3 align with centroid 0 and 1
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // → cell 0
      (3L, Array(0.1f, 0.9f, 0.0f, 0.0f)))  // → cell 1
      .toDF("vec_id", "embedding")
    val cells = SimOps.ivfAssign(vecs, k = 2)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells === Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L))
    // single-probe search finds the in-cell neighbor first
    val top = SimOps.ivfNeighbors(vecs, k = 2, nQueries = 4, topK = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top(2L) === 0L && top(3L) === 1L)
  }

  test("cosine near-dup keepers: identical vectors collapse to the min id") {
    val vecs = Seq(
      (10L, Array.fill(8)(0.5f)),
      (11L, Array.fill(8)(0.5f)),                                  // dup of 10
      (12L, Array.fill(8)(0.5f)),                                  // dup of 10
      (20L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f))) // unrelated
      .toDF("vec_id", "embedding")
    val keepers = SimOps.cosineNearDupKeepers(vecs, minCosine = 0.95, nBits = 8) // dim auto-derived
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(keepers.toSeq === Seq(
      (10L, 10L, 2L), (11L, 10L, 2L), (12L, 10L, 2L), (20L, 20L, 0L)))
  }

  test("blocked jaccard finds near-dups straddling a size-bucket boundary") {
    // 20 chars (bucket 0) vs 26 chars (bucket 1): exact-bucket equality
    // would never compare them; adjacent-bucket joining must.
    val t1 = "aa bb cc dd ee ff gg"         // 5 shingles
    val t2 = t1 + " hh zz"                  // 7 shingles, 5 common → j = 5/7
    val pairs = DedupOps.blockedJaccardPairs(docs(1L -> t1, 2L -> t2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length === 1)
    assert(pairs.head._1 === 1L && pairs.head._2 === 2L)
    assert(math.abs(pairs.head._3 - 5.0 / 7.0) < 1e-12)
  }

  test("blocked jaccard respects the language block boundary") {
    val d = Seq(
      (1L, base, "en"), (2L, base, "en"), (3L, base, "zh"))
      .toDF("doc_id", "text", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val pairs = DedupOps.blockedJaccardPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L))) // cross-lang pair never compared
  }

  test("randomProjection: exact integer coordinates matching a JVM reference") {
    val vecs = Seq(
      (0L, Array(0.5f, -0.25f, 1.0f, 0.125f)),
      (1L, Array(-1.0f, 0.75f, 0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val out = SimOps.randomProjection(vecs, dim = 4, outDim = 2)
      .orderBy("vec_id").collect()
    val signs = SimOps.jlSigns(4, 2)
    Seq(Array(0.5, -0.25, 1.0, 0.125), Array(-1.0, 0.75, 0.0, 2.0))
      .zip(out).foreach { case (emb, row) =>
        val m = emb.map(x => math.floor(x * 1000000.0 + 0.5).toLong)
        (0 until 2).foreach { j =>
          val expect = m.indices.map(i => signs(j)(i) * m(i)).sum
          assert(row.getAs[Long](s"p$j") === expect)
        }
        assert(row.getAs[Long]("orig2") === m.map(x => x * x).sum)
      }
  }

  test("jlRecallAtK: integer invariants tie out; full-rank projection scores 1.0") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    // outDim = dim: the ±1 mix preserves MORE than the JL bound needs;
    // recall still need not be exactly 1 (the matrix may lose rank), so
    // pin only the invariants plus a sanity floor on the mean.
    val out = SimOps.jlRecallAtK(vecs, nQueries = 10, k = 3, dim = 8, outDim = 8)
      .orderBy("q_id").collect()
    assert(out.length === 10)
    out.foreach { r =>
      assert(r.getAs[Long]("n_truth") === 3L)
      assert(r.getAs[Long]("n_hits") <= 3L)
      assert(r.getAs[Double]("recall") ===
        r.getAs[Long]("n_hits").toDouble / 3.0)
    }
    val mean = out.map(_.getAs[Double]("recall")).sum / 10.0
    assert(mean >= 0.5, s"full-width projection recall mean $mean suspiciously low")
  }

  test("randomProjection: norm_ratio concentrates near 1 on a random-ish corpus") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 64L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val ratios = SimOps.randomProjection(vecs, dim = 64, outDim = 8)
      .select("norm_ratio").collect().map(_.getDouble(0))
    // E[ratio] = 1; var = 2/outDim per vector. The MEAN over 64 vectors
    // must land close; individual vectors stay within a loose 3-sigma.
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.25, s"mean ratio $mean far from 1")
    assert(ratios.forall(r => r > 0.05 && r < 4.0),
      s"ratio outside loose JL bounds: ${ratios.min} .. ${ratios.max}")
  }

  test("ppjoinPairs: exactly the brute-force pairs >= t (prefix-filter completeness)") {
    // deterministic pseudo-random corpus: hash-drawn token sequences so
    // some shingle-set pairs land above t=0.5 and most below
    val vocab = ('a' to 'j').map(_.toString)
    val fixture = (0L until 14L).map { i =>
      // 8 tokens drawn from a 10-token vocab; 5 base sequences, so the
      // corpus contains exact-dup pairs (J = 1) and unrelated ones
      val toks = (0 until 8).map(p =>
        vocab((graft.functions.Scalars.h60Jvm(s"pp:${i % 5}:$p") % 10L).toInt))
      (i, toks.mkString(" "))
    } ++ Seq(
      (100L, "aa bb cc dd ee"), (101L, "aa bb cc dd ff"), // shingle J = 2/4 ≥ 0.5
      (102L, "zz yy xx ww vv uu"))                        // disjoint
    val df = docs(fixture: _*)
    val got = DedupOps.ppjoinPairs(df, tPpm = 500000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("jaccard_ppm"))
      .toMap
    // driver-side brute force over ALL pairs of 3-gram shingle sets
    val sets = fixture.map { case (id, t) =>
      id -> t.split(" ").toSeq.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size.toLong
      union = (sa | sb).size.toLong
      if inter * 1000000L >= 500000L * union
    } yield (a, b) -> inter * 1000000L / union).toMap
    assert(got === expected,
      "prefix filtering must be lossless: exactly the brute-force pairs")
    assert(got.contains((100L, 101L)), "planted J=0.5 pair found")
    assert(expected.nonEmpty)
  }

  test("rrfFuseTopK: integer RRF fuses the two rankings, absent list contributes 0") {
    // lexical: doc 1 carries two query terms (top), doc 2 one; doc 3 none.
    // semantic vs probe vec 0 = [1,0,0]: doc 2 identical (rank 1),
    // doc 3 close (rank 2), doc 1 orthogonal (rank 3).
    val documents = docs(
      1L -> "hash merge vector hash plus filler words here",
      2L -> "hash with otherwise unrelated filler words here",
      3L -> "no query terms at all in this document text")
    val embeddings = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), // probe
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = SimOps.rrfFuseTopK(documents, embeddings,
        Seq("hash", "merge", "vector"), kList = 10, k = 4)
      .orderBy("rank").collect()
    // rrf(c=60): doc2 = 1e6/62 + 1e6/61; doc1 = 1e6/61 + 1e6/63;
    // doc3 = 0 + 1e6/62 (absent from the lexical list)
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 1L, 3L))
    assert(out(0).getLong(2) === 1000000L / 62 + 1000000L / 61)
    assert(out(1).getLong(2) === 1000000L / 61 + 1000000L / 63)
    assert(out(2).getLong(2) === 1000000L / 62)
    assert(out(2).isNullAt(3), "doc 3 is absent from the lexical list")
    assert(out(0).getLong(3) === 2L && out(0).getLong(4) === 1L)
  }

  test("pairEvidence: the rare shared shingle outranks corpus-wide boilerplate") {
    // docs 1/2 are near-identical (one verified pair) and share BOTH a
    // distinctive phrase (df=2, only them) and a boilerplate prefix
    // that every doc carries (df=5) — the evidence ranking must lead
    // with the distinctive phrase, which is the whole point of the df
    // ordering.
    val boiler = "standard corpus header line repeated across documents"
    val distinct1 = "zanzibar quartz flamingo paradox umbrella nine"
    val docs = (Seq(
      1L -> s"$boiler $distinct1 tail one",
      2L -> s"$boiler $distinct1 tail two") ++
      (3L to 5L).map(i => i -> s"$boiler unique$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")
      ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = DedupOps.pairEvidence(docs)
      .orderBy("a", "b", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(out.nonEmpty, "the planted pair must verify")
    assert(out.forall(r => r._1 == 1L && r._2 == 2L), "only the planted pair")
    // every ranked shingle is pair-exclusive (df 2) — boilerplate
    // shingles (df 5) exist in the shared set but lose the ranking
    assert(out.forall(_._5 == 2L),
      s"boilerplate must not reach the top-3 evidence: $out")
    assert(out.map(_._3).toSeq === (1L to out.length.toLong))
  }

  test("truncationRecall: prefix ranking loses exactly the tail-dim neighbor") {
    // v2's similarity to the probe lives in dim 3 — a 2-dim prefix sees
    // cosine 1.0 for it (direction [0.5, 0] normalizes away the cut) and
    // promotes it PAST the genuine full-dim rank-2 neighbor v3; the
    // full-width row is the identity control.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.5f, 0.0f, 0.86f, 0.0f)),
      (3L, Array(0.6f, 0.8f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = SimOps.truncationRecall(vecs, dims = Seq(2, 4), nQueries = 1, k = 2)
      .orderBy("trunc_dim").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(2L) === ((1L, 500000L)),
      "2-dim prefix keeps only the identical neighbor of the full top-2")
    assert(out(4L) === ((2L, 1000000L)), "full-width truncation is the identity")
  }

  test("marginMiningPairs: a mutual-nearest pair outranks a hub partner") {
    // b10 pairs exclusively with a1 (mutual nearest, isolated);
    // b11 is a HUB — the nearest partner of BOTH a2 and a3 — so its
    // high neighborhood average depresses every margin through it.
    // That asymmetry is the entire point of the ratio-margin criterion
    // over a raw cosine threshold.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0L),
      (2L, Array(0.0f, 1.0f, 0.0f), 0L),
      (3L, Array(0.0f, 0.9f, 0.44f), 0L),
      (10L, Array(0.99f, 0.14f, 0.0f), 1L),
      (11L, Array(0.5f, 0.5f, 0.7f), 1L))
      .toDF("vec_id", "embedding", "label")
    val out = SimOps.marginMiningPairs(vecs)
      .orderBy("a_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out.keySet === Set(1L, 2L, 3L), "one row per label-A vector")
    assert(out(1L)._1 === 10L, "a1's best partner is its near-twin")
    assert(out(1L)._3, "the mutual-nearest pair clears the threshold")
    assert(out(2L)._1 === 11L, "a2's best raw cosine IS the hub")
    assert(!out(2L)._3, "…but the hub's neighborhood average kills the margin")
    assert(out(1L)._2 > out(2L)._2, "mutual pair margin > hub pair margin")
  }

  test("marginMiningPairsGated ≡ ungated when matches share cells") {
    // Two orthogonal clusters, one per sampled centroid (vec_id 0 / 1):
    // X lives in span{e1,e2}, Y in span{e3,e4}, so every cross-cluster
    // cosine is exactly 0 (ppm 0, margin 0) and every vector's true
    // top-km partners share its cell — the IVF recall premise under
    // which gating is lossless. Each cluster holds 2 A's and 2 B's so
    // km=2 neighborhoods are identical ungated vs gated.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0L),   // centroid X, pop A
      (1L, Array(0.0f, 0.0f, 1.0f, 0.0f), 0L),   // centroid Y, pop A
      (2L, Array(0.8f, 0.6f, 0.0f, 0.0f), 0L),
      (3L, Array(0.0f, 0.0f, 0.7f, 0.7f), 0L),
      (4L, Array(0.95f, 0.31f, 0.0f, 0.0f), 1L),
      (5L, Array(0.6f, 0.8f, 0.0f, 0.0f), 1L),
      (6L, Array(0.0f, 0.0f, 0.9f, 0.44f), 1L),
      (7L, Array(0.0f, 0.0f, 0.5f, 0.87f), 1L))
      .toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSeq
    val ungated = rows(SimOps.marginMiningPairs(vecs, km = 2))
    val gated = rows(SimOps.marginMiningPairsGated(vecs, km = 2, kCells = 2))
    assert(gated === ungated,
      "cell-gated candidates reproduce the exact ungated margins + winners")
  }

  test("marginMiningPairsGated: an A whose cell has no B partner is absent") {
    // Cluster Y holds only population-A vectors: ungated still emits its
    // a's (best cross-cluster partner at cos 0), the gated variant has
    // no same-cell candidate for them — the documented recall trade.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0L),
      (1L, Array(0.0f, 0.0f, 1.0f, 0.0f), 0L),
      (2L, Array(0.8f, 0.6f, 0.0f, 0.0f), 0L),
      (3L, Array(0.0f, 0.0f, 0.7f, 0.7f), 0L),
      (4L, Array(0.95f, 0.31f, 0.0f, 0.0f), 1L),
      (5L, Array(0.6f, 0.8f, 0.0f, 0.0f), 1L))
      .toDF("vec_id", "embedding", "label")
    val ungatedAs = SimOps.marginMiningPairs(vecs, km = 2)
      .select("a_id").collect().map(_.getLong(0)).toSet
    val gatedAs = SimOps.marginMiningPairsGated(vecs, km = 2, kCells = 2)
      .select("a_id").collect().map(_.getLong(0)).toSet
    assert(ungatedAs === Set(0L, 1L, 2L, 3L), "ungated emits every A")
    assert(gatedAs === Set(0L, 2L), "gated emits only cell-partnered A's")
  }
}
