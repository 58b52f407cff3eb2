package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Behavioural pins for the round-7 text-curation additions: script-census
  * CJK lang-ID ([[TextOps.scriptLangId]]), CCNet-style boilerplate line
  * removal ([[TextOps.stripBoilerplateLines]] / [[TextOps.linesOf]]), and
  * seed-centroid retrieval ([[TextOps.seedCentroidTopK]]). Cross-engine
  * bit-equality is q109/q110/q111's oracle job; this spec pins the
  * semantics on constructed fixtures. */
class CurationTextSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- q109

  test("scriptLangId: Hangul\u2192ko, Kana\u2192ja, Han\u2192zh, Latin falls back to function words") {
    val docs = Seq(
      (1L, "\ub370\uc774\ud130 \ucc98\ub9ac \uc5d4\uc9c4 \uc2e4\ud589"), // Korean
      (2L, "\u30c7\u30fc\u30bf\u51e6\u7406\u30a8\u30f3\u30b8\u30f3\u3067\u3059"), // Japanese (Kana + Kanji)
      (3L, "\u6570\u636e\u5904\u7406\u5f15\u64ce\u8fd0\u884c\u8ba1\u5212"), // Chinese (Han only)
      (4L, "the cat sat on the mat and the dog"), // English function words
      (5L, "zzz qqq xxx www") // no evidence at all
    ).toDF("doc_id", "text")
    val out = TextOps.scriptLangId(docs).orderBy("doc_id")
      .select("doc_id", "lang_guess").as[(Long, String)].collect().toMap
    assert(out(1L) == "ko")
    assert(out(2L) == "ja")
    assert(out(3L) == "zh")
    assert(out(4L) == "en")
    assert(out(5L) == "und")
  }

  test("scriptLangId: Japanese with Kanji majority still answers ja (Kana checked before Han)") {
    // 6 Kanji + 4 Kana: a Han-first ladder would misclassify zh
    val docs = Seq((1L, "\u5927\u898f\u6a21\u96c6\u7fa4\u8a08\u3067\u3059\u304b\u3089"))
      .toDF("doc_id", "text")
    val r = TextOps.scriptLangId(docs).select("n_han", "n_kana", "lang_guess")
      .as[(Long, Long, String)].head()
    assert(r._1 == 6L && r._2 == 4L, s"census read $r")
    assert(r._3 == "ja")
  }

  test("scriptLangId: a stray quoted ideograph does not flip a Latin document") {
    val docs = Seq(
      (1L, "the word \u6c34 means water in the text of the book")
    ).toDF("doc_id", "text")
    val r = TextOps.scriptLangId(docs).select("n_han", "lang_guess")
      .as[(Long, String)].head()
    assert(r._1 == 1L)
    assert(r._2 == "en", "below minScriptChars the function-word vote decides")
  }

  // ---------------------------------------------------------------- q110

  test("linesOf: fixed token windows, short tail kept, empty text yields zero lines") {
    val docs = Seq(
      (1L, "a b c d e f g"), // 7 tokens at width 3 \u2192 [a b c][d e f][g]
      (2L, "")
    ).toDF("doc_id", "text")
    val out = TextOps.linesOf(docs, lineTokens = 3).orderBy("doc_id")
      .select("lines").as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "d e f", "g"))
    // "" splits to [""] (one empty token) under the split contract, so one
    // line of the empty string \u2014 NOT a crash and NOT [0, -1] from a
    // descending sequence()
    assert(out(1) == Seq(""))
  }

  test("stripBoilerplateLines: df >= minDf lines drop everywhere, order survives, all-boilerplate doc empties") {
    val mk = (id: Long, lines: Seq[String]) => (id, lines)
    val docLines = Seq(
      mk(1L, Seq("unique one", "COOKIE BANNER", "unique two")),
      mk(2L, Seq("COOKIE BANNER", "only here")),
      mk(3L, Seq("another original", "COOKIE BANNER")),
      mk(4L, Seq("COOKIE BANNER")), // nothing survives
      // duplicate line WITHIN one doc: df counts distinct docs, so a
      // twice-repeated line in a single doc is NOT boilerplate
      mk(5L, Seq("twice here", "twice here"))
    ).toDF("doc_id", "lines")
    val out = TextOps.stripBoilerplateLines(docLines, minDf = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "n_dropped", "clean_text")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 3L, 2L, 1L, "unique one\nunique two")),
      "kept lines must keep their original relative order")
    assert(out(1) == ((2L, 2L, 1L, 1L, "only here")))
    assert(out(2) == ((3L, 2L, 1L, 1L, "another original")))
    assert(out(3) == ((4L, 1L, 0L, 1L, "")), "all-boilerplate doc must still appear")
    assert(out(4) == ((5L, 2L, 2L, 0L, "twice here\ntwice here")),
      "within-doc repetition is not cross-doc boilerplate")
  }

  test("stripBoilerplateLines: the boilerplate join is not pinned broadcast") {
    val docLines = Seq((1L, Seq("x y", "z"))).toDF("doc_id", "lines")
    val plan = TextOps.stripBoilerplateLines(docLines, minDf = 2)
      .queryExecution.optimizedPlan.toString
    // the df>=minDf set is data-dependent (arbitrarily large on a crawl):
    // a ResolvedHint would pin a 100 TB broadcast; AQE must keep the choice
    assert(!plan.contains("ResolvedHint"), s"unexpected broadcast hint in:\n$plan")
  }

  // ---------------------------------------------------------------- q111

  test("seedCentroidTopK: ranks seed-like documents first, excludes seeds, exact ranks") {
    // seeds (doc_id % 3 == 0) talk about apples; doc 1 is apple-like,
    // doc 2 is unrelated vocabulary
    val docs = Seq(
      (0L, "apple orchard apple harvest apple"),
      (3L, "apple pie apple cider"),
      (1L, "apple apple orchard harvest"),
      (2L, "quantum flux capacitor array"),
      (4L, "apple orchard")
    ).toDF("doc_id", "text")
    val out = TextOps.seedCentroidTopK(docs, seedMod = 3, dim = 8, k = 10)
      .select("rank", "doc_id", "affinity").as[(Long, Long, Long)].collect()
    assert(!out.map(_._2).exists(id => id % 3 == 0), "seeds must not be ranked")
    assert(out.map(_._1).toSeq == (1L to out.length.toLong).toSeq)
    assert(out.head._2 == 1L, s"most seed-like doc first, got ${out.toSeq}")
    val affs = out.map(_._3)
    assert(affs.zip(affs.tail).forall { case (a, b) => a >= b }, "descending affinity")
    assert(out.find(_._2 == 2L).get._3 < out.find(_._2 == 1L).get._3)
  }

  test("seedCentroidTopK: centroid equals the exact sum of seed vectors (identity check)") {
    // one seed, one probe with IDENTICAL text: the probe's affinity is the
    // seed vector's exact self dot product \u2014 reproducible from
    // hashedDocVector's published vec_str
    val docs = Seq(
      (0L, "alpha beta gamma delta alpha"),
      (1L, "alpha beta gamma delta alpha")
    ).toDF("doc_id", "text")
    val vec = TextOps.hashedDocVector(docs.filter(col("doc_id") === 0L), dim = 8)
      .select("vec_str").as[String].head().split(",").map(_.toLong)
    val expected = vec.map(v => v * v).sum
    val aff = TextOps.seedCentroidTopK(docs, seedMod = 17, dim = 8, k = 5)
      .filter(col("doc_id") === 1L).select("affinity").as[Long].head()
    assert(aff == expected, s"affinity $aff != exact self-dot $expected")
  }

  // ---------------------------------------------------------------- q138

  /** The classifier's weight formula, replayed driver-side: the spec's
    * brute-force scorer must derive the model the same way the plan and
    * the DuckDB oracle do. */
  private def weightOf(j: Long): Long =
    java.lang.Math.floorMod(
      graft.functions.Scalars.h60Jvm(s"w_$j"), 1000001L) - 500000L

  test("qualityClassifier: logit equals the brute-force per-token weight sum") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "delta"),
      (3L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val out = TextOps.qualityClassifier(docs, dim = 32)
      .select("doc_id", "n_tokens", "logit")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    for ((id, text) <- Seq(1L -> "alpha beta gamma alpha", 2L -> "delta",
        3L -> "the quick brown fox jumps over the lazy dog")) {
      val toks = text.split(" ")
      val expected = toks.map(t =>
        weightOf(java.lang.Math.floorMod(
          graft.functions.Scalars.h60Jvm(t), 32L))).sum
      assert(out(id) == ((toks.length.toLong, expected)),
        s"doc $id read ${out(id)}, brute force (${toks.length}, $expected)")
    }
  }

  test("qualityClassifier: kept is exactly logit > 0 and the scorer is partition-invariant") {
    val docs = (1L to 40L)
      .map(i => (i, s"tok${i % 7} tok${i % 11} tok${i % 13} shared common"))
      .toDF("doc_id", "text")
    val once = TextOps.qualityClassifier(docs, dim = 64)
      .orderBy("doc_id").collect()
    val again = TextOps.qualityClassifier(docs.repartition(7), dim = 64)
      .orderBy("doc_id").collect()
    assert(once.sameElements(again), "scores must not depend on partitioning")
    once.foreach { r =>
      assert(r.getBoolean(3) == (r.getLong(2) > 0L), s"kept/logit skew on $r")
    }
    val kept = once.count(_.getBoolean(3))
    assert(kept > 0 && kept < once.length,
      s"classifier is degenerate: $kept/${once.length} kept")
  }

  test("qualityClassifier: weights are bounded micro-units over the full bucket range") {
    (0L until 256L).foreach { j =>
      val w = weightOf(j)
      assert(w >= -500000L && w <= 500000L, s"weight $w out of range at bucket $j")
    }
  }

  // ---------------------------------------------------------------- q142

  test("bm25TopK: tf raises, length normalizes, rarity dominates, k bounds") {
    val docs = Seq(
      (1L, "hash hash hash pad pad pad pad pad"),   // tf=3, len 8
      (2L, "hash pad pad pad pad pad pad pad"),     // tf=1, len 8
      (3L, "hash hash hash " + ("pad " * 37).trim), // tf=3, len 40 (penalized)
      (4L, "rare pad pad pad pad pad pad pad"),     // df(rare)=1 beats df(hash)=3
      (5L, "pad pad pad pad pad pad pad pad")       // no query term: absent
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq("hash", "rare"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 4, "docs without query terms never rank")
    assert(!out.exists(_._2 == 5L))
    val byDoc = out.map(r => r._2 -> r._3).toMap
    assert(byDoc(1L) > byDoc(3L), "same tf, longer doc scores lower")
    assert(byDoc(1L) > byDoc(2L), "higher tf scores higher at equal length")
    assert(byDoc(4L) > byDoc(1L), "rarer term outranks common-term tf")
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L), "dense ranks in score order")
    val scores = out.sortBy(_._1).map(_._3).toSeq
    assert(scores === scores.sorted.reverse, "scores descend with rank")
    // k genuinely bounds: asking for 2 returns the top 2 of the same order
    val top2 = TextOps.bm25TopK(docs, Seq("hash", "rare"), k = 2)
      .collect().map(_.getLong(1)).toSeq
    assert(top2 === out.sortBy(_._1).take(2).map(_._2).toSeq)
  }

  // ---------------------------------------------------------------- q141

  test("unicodeNormalized: composes combining marks, keeps non-composable ones, flags changes") {
    val docs = Seq(
      (1L, "cafe\u0301 nai\u0308ve"),   // decomposed -> composes
      (2L, "caf\u00e9 na\u00efve"),     // already NFC -> unchanged
      (3L, "co\u030Ald"),               // o + ring: NO composed form exists
      (4L, "plain ascii text")
    ).toDF("doc_id", "text")
    val out = TextOps.unicodeNormalized(docs).orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((true, 10L, "caf\u00e9 na\u00efve")))
    assert(out(2L) === ((false, 10L, "caf\u00e9 na\u00efve")))
    assert(out(3L) === ((false, 5L, "co\u030Ald")),
      "a mark with no composed form must survive unchanged")
    assert(out(4L)._1 === false)
    // idempotence: normalizing the normalized output changes nothing
    val again = TextOps.unicodeNormalized(
      TextOps.unicodeNormalized(docs).select(col("doc_id"),
        col("text_nfc").as("text")))
    assert(again.filter(col("changed")).count() === 0L)
  }

  // ---------------------------------------------------------------- q140

  test("lengthQuantiles: exact ceil-rank quantiles on a constructed ladder") {
    // source A: one doc per length 1..10 -> p50 = 5 (cum 5 of 10),
    // p90 = 9, p99 = 10; source B: three docs of length 4 -> all 4
    val docs = ((1 to 10).map(n => ("A", (1 to n).map(_ => "w").mkString(" "))) ++
      (1 to 3).map(_ => ("B", "w w w w")))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val got = TextOps.lengthQuantiles(docs).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got === Array(("A", 10L, 5L, 9L, 10L), ("B", 3L, 4L, 4L, 4L)))
  }

  // ---------------------------------------------------------------- q153

  test("perceptronTrain: 3-epoch weight trajectory equals a driver-side replay") {
    val docs = Seq(
      (1L, "the of the and data", "en"),
      (2L, "der und der die photo", "de"),
      (3L, "the the of engine", "en"),
      (4L, "die und das der", "de"),
      (5L, "of and the", "en"),
      (6L, "la de el la", "es")
    ).toDF("doc_id", "text", "lang")
    val got = TextOps.perceptronTrain(docs, buckets = 64, epochs = 3)
      .orderBy("bucket").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // replay with the SAME feature derivation (h60 via the registered
    // expression so the bucket assignment cannot skew), then fold the
    // batch-perceptron rule in plain Scala
    val fy = docs
      .selectExpr("doc_id",
        "CASE WHEN lang = 'en' THEN 1L ELSE -1L END AS y",
        "explode(split(text, ' ')) AS t")
      .selectExpr("doc_id", "y", "h60(t) % 64L AS bucket")
      .groupBy("doc_id", "y", "bucket").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def step(w: Map[Long, Long]): Map[Long, Long] = {
      val margins = fy.groupBy(_._1).map { case (_, rows) =>
        val y = rows.head._2
        (y, rows, y * rows.map { case (_, _, b, c) => c * w.getOrElse(b, 0L) }.sum)
      }
      val mis = margins.filter(_._3 <= 0L)
      val delta = mis.toSeq.flatMap { case (y, rows, _) =>
        rows.map { case (_, _, b, c) => b -> y * c } }
        .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
      (w.keySet ++ delta.keySet).map(b =>
        b -> (w.getOrElse(b, 0L) + delta.getOrElse(b, 0L))).toMap
    }
    val w1 = step(Map.empty) // w0 = 0: every margin ties at 0, all update
    val w2 = step(w1)
    val w3 = step(w2)
    val want = w1.keySet.map(b =>
      b -> ((w1(b), w2.getOrElse(b, 0L), w3.getOrElse(b, 0L)))).toMap
    assert(got === want)
    // epoch-1 closed form: w1 = sum of y*cnt per bucket over ALL docs
    val closed = fy.groupBy(_._3).map { case (b, xs) =>
      b -> xs.map(r => r._2 * r._4).sum }
    assert(got.map { case (b, t) => b -> t._1 } === closed)
    // the en/de/es split is h60-bucket-separable here, so training must
    // actually move: some epoch-2 weight differs from epoch 1
    assert(got.exists { case (_, (a, b2, _)) => a != b2 })
  }

  test("bm25MaxPassageTopK: a buried passage wins its doc and outranks a weaker short doc") {
    // doc 1: the query terms live ONLY past token 100 — whole-document
    // scoring would dilute them across 103 tokens; max-passage finds
    // the short trailing chunk (start 96 → chunk_idx 2) that carries
    // all three terms densely. doc 2 is short but matches one term.
    val longFiller = (1 to 100).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, s"$longFiller hash merge vector"),
      (2L, "hash plus nine other words of plain filler text")
    ).toDF("doc_id", "text")
    val out = TextOps.bm25MaxPassageTopK(docs, Seq("hash", "merge", "vector"))
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 2)
    assert(out(0) === ((1L, 1L, 2L)),
      "the 3-term trailing chunk wins doc 1 and doc 1 ranks first")
    assert(out(1)._2 === 2L)
  }

  test("classifierCalibration: confusion cells equal the brute-force replay and partition the corpus") {
    val docs = Seq(
      // varied tokens → high TTR → label 1; repeated spam → label 0
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (2L, "spam spam spam spam spam spam spam spam spam spam"),
      (3L, "the quick brown fox jumps over a lazy dog tonight"),
      (4L, "word word word word word other other other other other")
    ).toDF("doc_id", "text")
    val taus = Seq(-2000000L, 0L, 2000000L)
    val out = TextOps.classifierCalibration(docs, dim = 32, thresholds = taus)
      .orderBy("threshold").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // driver-side replay of both scores
    val ref = Seq(
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel india",
      2L -> "spam spam spam spam spam spam spam spam spam spam",
      3L -> "the quick brown fox jumps over a lazy dog tonight",
      4L -> "word word word word word other other other other other"
    ).map { case (_, text) =>
      val toks = text.split(" ")
      val logit = toks.map(t => weightOf(java.lang.Math.floorMod(
        graft.functions.Scalars.h60Jvm(t), 32L))).sum
      val q = 0.5 * toks.distinct.length.toDouble / toks.length +
        0.3 * (1.0 - toks.count(Set("the", "a", "of", "and")).toDouble / toks.length) +
        0.2 * math.min(toks.map(_.length).sum.toDouble / toks.length / 8.0, 1.0)
      (logit, if (q >= 0.625) 1L else 0L)
    }
    for (tau <- taus) {
      val tp = ref.count { case (l, y) => l > tau && y == 1L }.toLong
      val fp = ref.count { case (l, y) => l > tau && y == 0L }.toLong
      val fn = ref.count { case (l, y) => l <= tau && y == 1L }.toLong
      val tn = ref.count { case (l, y) => l <= tau && y == 0L }.toLong
      def ppm(n: Long, d: Long) = if (d == 0) 0L else n * 1000000L / d
      assert(out(tau) === ((tp, fp, fn, tn, ppm(tp, tp + fp), ppm(tp, tp + fn))),
        s"confusion mismatch at tau=$tau")
      assert(tp + fp + fn + tn === 4L, "every doc lands in exactly one cell")
    }
    // the fixture must exercise both labels or the sweep proves nothing
    assert(ref.exists(_._2 == 1L) && ref.exists(_._2 == 0L))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("piiScan: detectors count, Luhn gates cards, the rewrite is pinned") {
    val docs = Seq(
      (1L, "mail alice.smith@example.org or bob@test.io now"),
      (2L, "card 4532015112830366 works"),   // Luhn-valid
      (3L, "card 4532015112830367 is a typo"), // Luhn-invalid
      (4L, "call 555-867-5309 from 192.168.10.1"),
      (5L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val out = TextOps.piiScan(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(7)))).toMap
    assert(out(1L)._1 === 2L, "both emails counted")
    assert(out(1L)._6 === md5Hex("mail <EMAIL> or <EMAIL> now"))
    assert(out(2L)._4 === 1L && out(2L)._5 === 1L, "valid card: candidate + Luhn")
    assert(out(3L)._4 === 1L && out(3L)._5 === 0L, "typo card: candidate only")
    assert(out(2L)._6 === md5Hex("card <CC> works"),
      "candidates redact regardless of checksum — privacy errs conservative")
    assert(out(4L)._2 === 1L && out(4L)._3 === 1L, "phone + IP")
    assert(out(4L)._6 === md5Hex("call <PHONE> from <IP>"))
    assert(out(5L) === ((0L, 0L, 0L, 0L, 0L, md5Hex("nothing sensitive here at all"))),
      "clean text passes through byte-identical")
  }

  test("fimExamples: non-empty three-way split, deterministic, short docs pass") {
    val long = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, long), (2L, "too short to split")).toDF("doc_id", "text")
    def run() = TextOps.fimExamples(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getString(6)))
    val out = run()
    val (_, n, s1, s2, fim, _, h) = out(0)
    assert(fim && n === 12L)
    assert(s1 >= 1L && s1 <= n - 2, "prefix and a non-empty remainder")
    assert(s2 >= s1 + 1 && s2 <= n - 1, "middle and suffix both non-empty")
    val toks = long.split(" ")
    val psm = "<PRE>" + toks.take(s1.toInt).mkString(" ") +
      "<SUF>" + toks.drop(s2.toInt).mkString(" ") +
      "<MID>" + toks.slice(s1.toInt, s2.toInt).mkString(" ")
    assert(h === md5Hex(psm), "PSM serialization matches the driver-side replay")
    assert(out(1) === ((2L, 4L, 0L, 0L, false, 18L, md5Hex("too short to split"))),
      "short doc passes through unsplit")
    assert(run().toSeq === out.toSeq, "split points are deterministic")
  }
}
