package graft

/** The native-function catalog: [[GraftExtensions]] is listed as a
  * `SparkSessionExtensionsProvider` service, so a session from the
  * builder's `getOrCreate()` (the shared [[SparkSpec]] one, from
  * [[GraftSession.local]]) resolves every row of
  * [[GraftExtensions.functions]] with no per-session call. `--conf spark.sql.extensions=graft.GraftExtensions`
  * names the same class. */
class GraftExtensionsSpec extends SparkSpec {

  test("the catalog holds exactly 20 distinct native functions") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.size === 20)
    assert(names.distinct.size === 20, s"duplicate names in $names")
  }

  test("every catalog row resolves through spark.sql to its expression class") {
    GraftExtensions.functions.foreach { case (name, cls, _) =>
      val described = spark.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(described.contains(s"Class: ${cls.getName}"),
        s"$name did not resolve to ${cls.getName}: ${described.mkString("; ")}")
    }
  }

  test("all native functions resolve through SparkSessionExtensions") {
    val row = spark.sql(
      """SELECT
        |  ngram_shingles(array('a', 'b', 'c', 'd'), 3) AS sh,
        |  dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |              array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        |  simhash_bits(array(5L, 9L), 4) AS sim
        |""".stripMargin).head
    assert(row.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(row.getDouble(1) === 11.0)
    // bits of 5 (0101) and 9 (1001): bit0 +2 → set; bit1 −2 → clear;
    // bits 2 and 3 each split +1/−1 → 0 ≥ 0 → set. 1 + 4 + 8 = 13.
    assert(row.getLong(2) === 13L)
    val agg = spark.range(100)
      .selectExpr("hll_sketch(CAST(id AS STRING)) AS sk")
      .selectExpr("sk.v_zero", "sk.mmax", "sk.num").head
    assert(agg.getLong(0) >= 0L && agg.getLong(2) > 0L)
    // the round-5/6 expressions ship through the same deployment path
    val row2 = spark.sql(
      """SELECT
        |  poly_fingerprint(array('a', 'b')) AS fp,
        |  int8_quant(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT))).qscale AS qs,
        |  lang_scores(array('the', 'el', 'zzz')) AS ls
        |""".stripMargin).head
    assert(row2.getLong(0) > 0L)
    assert(row2.getDouble(1) > 0.0)
    // one slot per profile, in LangScores.profiles order: 'the' scores
    // en, 'el' scores es, 'zzz' nothing (profile count derived, not
    // hardcoded — round 8 extended the profiles to pt/nl/sv)
    assert(row2.getSeq[Long](2) ===
      graft.functions.LangScores.profiles.map { case (_, ws) =>
        Seq("the", "el", "zzz").count(ws.contains).toLong
      })
    // cdc_boundaries: n < window → empty; divisor 1 → every position
    val row3 = spark.sql(
      """SELECT
        |  cdc_boundaries(array('a'), 4, 8L) AS short,
        |  cdc_boundaries(array('a', 'b', 'c'), 2, 1L) AS all_pos
        |""".stripMargin).head
    assert(row3.getSeq[Long](0) === Seq.empty[Long])
    assert(row3.getSeq[Long](1) === Seq(2L, 3L))
    // cms_sketch: counter table sums to D * n_values
    val cms = spark.range(10)
      .selectExpr("cms_sketch(CAST(id AS STRING)) AS cms").head.getSeq[Long](0)
    assert(cms.length === graft.functions.CmsSketch.D * graft.functions.CmsSketch.W)
    assert(cms.sum === graft.functions.CmsSketch.D * 10L)
    // round-9 expressions: h60_array element-maps h60; sorted_multi_concat
    // joins values in key order with the aggregate, not a chain
    val row4 = spark.sql("SELECT h60_array(array('a', 'b')) AS ha").head
    assert(row4.getSeq[Long](0) ===
      Seq("a", "b").map(s => graft.functions.PolyFingerprint.h60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))))
    val smc = spark.createDataFrame(Seq((1, "b", "Y"), (1, "a", "X")))
      .toDF("g", "k", "v")
      .selectExpr("g", "k", "v")
      .groupBy("g").agg(org.apache.spark.sql.functions.expr(
        "sorted_multi_concat(k, v).c0").as("s")).head
    assert(smc.getString(1) === "XY")
    // round-10 expression: minhash_sig equals the coefficient formula
    val ms = spark.sql("SELECT minhash_sig(array('a b c'), 4) AS s").head
      .getSeq[Long](0)
    val h = graft.functions.PolyFingerprint.h60(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c")) % 1000000007L
    assert(ms === graft.functions.MinhashSig.coefficients(4).toSeq
      .map { case (a, b) => (a * h + b) % 1000000007L })
    assert(spark.sql(
      "SELECT minhash_sig(CAST(array() AS ARRAY<STRING>), 4) AS s").head
      .getSeq[Long](0) === Seq.fill(4)(-1L), "empty array yields the sentinel")
    assert(spark.sql("SELECT nfc_normalize('cafe\u0301')").head.getString(0)
      === "caf\u00e9", "nfc_normalize resolves and composes through extensions")
    // h60 agrees with h60_array element-wise; l2_sq is the exact integer
    // squared distance
    val row5 = spark.sql(
      "SELECT h60('a') AS h, l2_sq(array(1L, 2L), array(4L, 6L)) AS d").head
    assert(row5.getLong(0) === graft.functions.PolyFingerprint.h60(
      org.apache.spark.unsafe.types.UTF8String.fromString("a")))
    assert(row5.getLong(1) === 25L)
  }
}
