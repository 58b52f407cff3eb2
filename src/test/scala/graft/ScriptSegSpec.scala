package graft

import graft.operators.TextOps

/** Script-aware segmentation (round-5 verdict item 6): non-Latin corpora
  * must stop silently mis-tokenizing — CJK text segments per codepoint
  * instead of forming one giant "word", space-delimited non-Latin
  * scripts keep whitespace tokens, and lang-ID leaves scripts outside
  * its function-word profiles undetermined. */
class ScriptSegSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  private def tokens(texts: (Long, String)*): Map[Long, Seq[String]] =
    TextOps.tokenized(docs(texts: _*))
      .select("doc_id", "tk").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap

  test("CJK text segments per codepoint; mixed text splits around Latin words") {
    val got = tokens(
      1L -> "人工智能技术发展",            // zh: no spaces at all
      2L -> "これはテスト文です",          // ja: kana + han, no spaces
      3L -> "GPU 加速 computing")          // mixed: Latin words survive whole
    assert(got(1L) === "人工智能技术发展".map(_.toString))
    assert(got(2L) === "これはテスト文です".map(_.toString))
    assert(got(3L) === Seq("GPU", "加", "速", "computing"))
  }

  test("space-delimited scripts keep whitespace tokens (incl. Korean and Arabic)") {
    val got = tokens(
      10L -> "이것은 한국어 텍스트 입니다",   // ko: Hangul IS space-delimited
      11L -> "هذا نص عربي قصير",            // ar
      12L -> "это русский текст")            // ru
    assert(got(10L).length === 4)
    assert(got(11L).length === 4)
    assert(got(12L).length === 3)
  }

  test("Latin path is bit-for-bit the plain split — empty tokens and all") {
    // double space yields an empty token under split(text, ' '); the
    // script-aware route must preserve that exactly (every oracle
    // replays the plain split)
    val got = tokens(20L -> "a  b", 21L -> "", 22L -> "the cat sat")
    assert(got(20L) === Seq("a", "", "b"))
    assert(got(21L) === Seq(""))
    assert(got(22L) === Seq("the", "cat", "sat"))
  }

  test("lang-ID classifies on-profile scripts only") {
    val fixture = docs(
      30L -> "人工智能技术快速发展着",
      31L -> "هذا نص عربي قصير جدا",
      32L -> "это русский текст здесь",
      33L -> "the cat sat on the mat",
      34L -> "GPU 加速")                     // mixed Latin + CJK
    val langs = TextOps.langScored(fixture)
      .select("doc_id", "lang_guess").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // round 12: Russian is ON-profile (q156's uk/ru pair) — «это» is a
    // ru function word, so the Cyrillic doc now classifies instead of
    // falling through to 'und'; CJK and Arabic stay off-profile here
    // (q109's script layer handles zh/ja/ko)
    assert(langs(30L) === "und" && langs(31L) === "und" && langs(32L) === "ru")
    assert(langs(33L) === "en")
  }

  test("gopherStats mean word length is sane on segmented CJK") {
    // pre-fix, a CJK doc was ONE token of length n_chars — the
    // mean-word-length junk flag mis-fired by construction; segmented,
    // the mean is 1.0 per codepoint
    val out = graft.operators.TextOps.gopherStats(
      docs(40L -> "人工智能技术快速发展"))
      .select("mean_word_len").head.getDouble(0)
    assert(out === 1.0)
  }
}
