package graft

import org.apache.spark.sql.functions._

class NgramShinglesSpec extends SparkSpec {
  import spark.implicits._

  private def shingles(text: String, n: Int = 3): Seq[String] = {
    Seq(text).toDF("text")
      .selectExpr(s"ngram_shingles(split(text, ' '), $n) AS sh")
      .as[Seq[String]].head()
  }

  test("3-gram shingles over a token stream") {
    assert(shingles("a b c d e") === Seq("a b c", "b c d", "c d e"))
  }

  test("short inputs yield empty array, exact-length yields one") {
    assert(shingles("a b") === Seq.empty)
    assert(shingles("a b c") === Seq("a b c"))
  }

  test("n parameter works (bigrams, unigrams)") {
    assert(shingles("a b c", 2) === Seq("a b", "b c"))
    assert(shingles("a b c", 1) === Seq("a", "b", "c"))
  }

  test("interpreted eval and codegen agree") {
    val df = graft.sources.Tables(spark, sf("sf0.001"), "documents")
      .selectExpr("doc_id", "ngram_shingles(split(text, ' ')) AS sh")
    val codegen = df.withColumn("h", hash(col("sh"))).agg(sum("h")).head.getLong(0)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interpreted = df.withColumn("h", hash(col("sh"))).agg(sum("h")).head.getLong(0)
      assert(interpreted === codegen)
    }
  }

  test("matches the higher-order-function formulation on real data") {
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
    val native = docs.selectExpr("doc_id",
      "ngram_shingles(split(text, ' '), 3) AS sh")
    val hof = docs.selectExpr("doc_id",
      """CASE WHEN size(split(text, ' ')) >= 3 THEN
        |  transform(sequence(1, size(split(text, ' ')) - 2), i ->
        |    concat_ws(' ', element_at(split(text, ' '), i),
        |      element_at(split(text, ' '), i + 1),
        |      element_at(split(text, ' '), i + 2)))
        |ELSE array() END AS sh""".stripMargin)
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

}
