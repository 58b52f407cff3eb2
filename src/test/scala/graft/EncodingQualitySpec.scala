package graft

import graft.operators.TextOps

class EncodingQualitySpec extends SparkSpec {
  import spark.implicits._

  private def row(text: String) =
    TextOps.encodingQuality(Seq((1L, text)).toDF("doc_id", "text")).head

  test("clean ASCII text keeps: zero flags, sane ratios") {
    val r = row("a clean doc with 3 digits 42")
    assert(r.getAs[Long]("repl_chars") === 0L)
    assert(r.getAs[Long]("ctrl_chars") === 0L)
    assert(r.getAs[Long]("mojibake_hits") === 0L)
    assert(r.getAs[Long]("non_ascii") === 0L)
    assert(r.getAs[Double]("digit_ratio") === 3.0 / 28.0)
    assert(r.getAs[Boolean]("keep"))
  }

  test("U+FFFD replacement characters are counted and gate keep") {
    val r = row("bad � decode � here")
    assert(r.getAs[Long]("repl_chars") === 2L)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("C0 control characters flag binary contamination; tab/newline do not") {
    val dirty = row("a\u0001b\u0007c")
    assert(dirty.getAs[Long]("ctrl_chars") === 2L)
    assert(!dirty.getAs[Boolean]("keep"))
    val legit = row("a\tb\nc\rd")
    assert(legit.getAs[Long]("ctrl_chars") === 0L)
    assert(legit.getAs[Boolean]("keep"))
  }

  test("mojibake signatures: UTF-8-as-Latin-1 lead bytes and mangled punctuation") {
    // "café" double-decoded reads "cafÃ©"; a right single quote U+2019
    // double-decoded reads "â€™" — both must trip the gate
    val r = row("cafÃ© said â€™hello")
    assert(r.getAs[Long]("mojibake_hits") === 2L)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("legitimate non-Latin text is NOT flagged as mojibake, ratio gates extremes") {
    // real Cyrillic: no Ã/â€ signatures, no controls — only the
    // non-ASCII ratio gate applies (here > 0.5 → drop, by design the
    // conservative ASCII-corpus default)
    val r = row("привет мир")
    assert(r.getAs[Long]("mojibake_hits") === 0L)
    assert(r.getAs[Long]("ctrl_chars") === 0L)
    assert(r.getAs[Long]("non_ascii") === 9L)
    assert(!r.getAs[Boolean]("keep"))
    // mostly-ASCII with a few accents passes
    val ok = row("a naive cafe facade with one é only here")
    assert(ok.getAs[Boolean]("keep"))
  }

  test("ws and digit ratios divide as doubles") {
    val r = row("ab 12")
    assert(r.getAs[Double]("ws_ratio") === 1.0 / 5.0)
    assert(r.getAs[Double]("digit_ratio") === 2.0 / 5.0)
    assert(r.getAs[Long]("n_chars_text") === 5L)
  }

  /** The regex/length-replace formulation encoding_stats replaced; must
    * replay counter-for-counter (the DuckDB oracle keeps this form). */
  private def sqlFormulation(df: org.apache.spark.sql.DataFrame) = {
    val n = "CAST(length(text) AS BIGINT)"
    val repl = s"$n - CAST(length(replace(text, '�', '')) AS BIGINT)"
    val moji =
      s"($n - CAST(length(replace(text, 'Ã', '')) AS BIGINT))" +
        s" + ($n - CAST(length(replace(text, 'â€', '')) AS BIGINT)) / 2"
    val ctrl = s"CAST(regexp_count(text, '[${TextOps.ctrlClass}]') AS BIGINT)"
    val nonAscii = s"CAST(regexp_count(text, '[^${TextOps.asciiClass}]') AS BIGINT)"
    val digits = s"CAST(regexp_count(text, '[0-9]') AS BIGINT)"
    val spaces = s"$n - CAST(length(replace(text, ' ', '')) AS BIGINT)"
    df.selectExpr("doc_id", s"$n AS n", s"$repl AS repl", s"$ctrl AS ctrl",
      s"CAST($moji AS BIGINT) AS moji", s"$nonAscii AS non_ascii",
      s"$digits AS digits", s"$spaces AS spaces")
  }

  test("native encoding_stats replays the regex formulation on the real corpus") {
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
    val native = docs.selectExpr("doc_id", "encoding_stats(text) AS es")
      .selectExpr("doc_id", "es.n AS n", "es.repl AS repl", "es.ctrl AS ctrl",
        "es.moji AS moji", "es.non_ascii AS non_ascii",
        "es.digits AS digits", "es.spaces AS spaces")
    val sql = sqlFormulation(docs)
    assert(native.exceptAll(sql).count() === 0)
    assert(sql.exceptAll(native).count() === 0)
  }

  test("native encoding_stats edge cases: astral chars, adjacent mojibake, NULL") {
    val rows = Seq(
      (1L, "music 𝄞 clef"),     // U+1D11E: ONE code point, non-ASCII once
      (2L, "Ã Ã â€â€ x"),                  // adjacent pairs count non-overlapping
      (3L, "â x â€ y ââ€"),                // lone 'â' is not a pair; 'ââ€' pairs once
      (4L, ""),                            // empty: all zero
      (5L, null.asInstanceOf[String]))     // NULL poisons
      .toDF("doc_id", "text")
    val native = rows.selectExpr("doc_id", "encoding_stats(text) AS es")
      .selectExpr("doc_id", "es.n AS n", "es.repl AS repl", "es.ctrl AS ctrl",
        "es.moji AS moji", "es.non_ascii AS non_ascii",
        "es.digits AS digits", "es.spaces AS spaces")
    val sql = sqlFormulation(rows)
    assert(native.exceptAll(sql).count() === 0)
    assert(sql.exceptAll(native).count() === 0)
    val m = native.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(1) === 12L, "astral char counts one code point")
    assert(m(2L).getLong(4) === 4L, "two lone Ã + two â€ pairs")
    assert(m(5L).isNullAt(1), "NULL text yields NULL counters")
  }

  test("encoding_stats interpreted eval and codegen agree") {
    val df = graft.sources.Tables(spark, sf("sf0.001"), "documents")
      .selectExpr("doc_id", "encoding_stats(text) AS es")
      .selectExpr("doc_id", "es.*")
    val codegen = df.collect()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.collect() === codegen)
    }
  }
}
