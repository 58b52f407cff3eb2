package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, shingling, language-ID heuristic, quality scoring,
  * document fingerprinting.
  *
  * All expressions are Catalyst built-ins / higher-order functions (no
  * UDFs): they stay inside whole-stage codegen and are embarrassingly
  * parallel — per-document narrow transforms, no shuffle, so they scale
  * linearly with input splits at 100 TB.
  *
  * The HOF-heavy expressions are written as Spark SQL expression strings
  * (still the DataFrame API via `expr`) so each has a structurally
  * identical DuckDB oracle; the deterministic-hash discipline comes from
  * [[graft.functions.Scalars]] (md5-based h60).
  */
object TextOps {

  /** Spark SQL fragment: 60-bit md5 hash of expression `x` — the native
    * [[graft.functions.H60Hash]] expression (round 7; bit-identical to
    * the former CONV(SUBSTRING(MD5..)) chain, which allocated three
    * strings and parsed two per hash). */
  def h60x(x: String): String = s"h60($x)"

  /** DuckDB fragment equivalent to [[h60x]]. */
  def h60d(x: String): String = s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** Unicode ranges of the scripts that write WITHOUT word spaces —
    * Han (+ ext A), Hiragana, Katakana. Hangul is deliberately NOT here:
    * Korean separates words with spaces, so the whitespace path is the
    * correct segmentation for it. */
  private val cjkNoSpaceClass =
    "[\u4e00-\u9fff\u3400-\u4dbf\u3040-\u30ff]"

  /** documents + `tk` (token array). Script-aware (round-5 verdict item
    * 6): Latin/space-delimited text takes the whitespace path BIT-FOR-BIT
    * unchanged (the reference's texts are single-space separated, and
    * every oracle replays `split(text, ' ')`); text containing
    * no-word-space CJK codepoints (Han/Kana) falls back to per-codepoint
    * segments for those codepoints — the standard character-unigram
    * segmentation dedup/LM pipelines use when no tokenizer model ships —
    * so token counts, shingles, and Gopher-style stats stop treating a
    * CJK document as one giant "word". The per-element lambda in the
    * CJK branch is interpreted, but only CJK documents pay it; the hot
    * Latin path stays one codegen'd split. */
  def tokenized(documents: DataFrame): DataFrame =
    documents.withColumn("tk",
      when(col("text").rlike(cjkNoSpaceClass),
        expr(s"""filter(split(regexp_replace(text, '($cjkNoSpaceClass)', ' $$1 '), ' +'), t -> t != '')"""))
        .otherwise(split(col("text"), " ")))

  /** documents + `sh`: the DISTINCT n-gram shingle set as an array column,
    * built by the native [[graft.functions.NgramShingles]] expression —
    * per-row, codegen'd, shuffle-free (see its scaladoc for why both
    * built-in formulations lose: interpreted HOF lambdas vs a corpus-wide
    * window shuffle). Docs with < n tokens get an empty array. */
  def shingled(documents: DataFrame, n: Int = 3): DataFrame = {
    tokenized(documents)
      .withColumn("sh", expr(s"array_distinct(ngram_shingles(tk, $n))"))
      .drop("tk")
  }

  /** One row per DISTINCT (doc_id, shingle): a plain explode of
    * [[shingled]] — distinctness is already local (array_distinct), so
    * this adds no shuffle. */
  def shingleRows(documents: DataFrame, n: Int = 3): DataFrame =
    shingled(documents, n)
      .select(col("doc_id"), explode(col("sh")).as("g"))

  /** Function-word profiles for the stopword-vote language classifier —
    * the top ~20 most frequent function words per language (public
    * knowledge: any frequency list of English/Spanish/German/French/
    * Italian yields these). Overlapping forms (es/fr `de`, es/fr/it
    * `la`/`un`, en/it `in`, fr/it `le`) are REAL cross-language ambiguity;
    * the per-profile counts accumulate them all and the argmax ladder
    * resolves by total evidence, tie-broken in profile order. A document
    * matching NO profile word classifies as `und` (ISO 639-3
    * undetermined) rather than defaulting to the first language. */
  val langProfiles: Seq[(String, Seq[String])] =
    graft.functions.LangScores.profiles

  /** The deterministic argmax over the `s_<lang>` score columns, as a SQL
    * CASE ladder whose text is valid in BOTH Spark and DuckDB (the oracle
    * embeds the same string): all-zero scores → 'und'; otherwise the
    * first profile (in [[langProfiles]] order) whose score is >= every
    * later one. */
  def langGuessSql: String = {
    val langs = langProfiles.map(_._1)
    val allZero = s"greatest(${langs.map(l => s"s_$l").mkString(", ")}) = 0"
    val ladder = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      s"WHEN ${rest.map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
    }
    s"CASE WHEN $allZero THEN 'und' ${ladder.mkString(" ")} ELSE '${langs.last}' END"
  }

  /** Per-document language scores + argmax guess. The per-profile
    * scores run in the native [[graft.functions.LangScores]] expression —
    * one fused token loop with five hash-set probes per token (round-5
    * verdict item 3: the previous five separate
    * `size(filter(tk, t -> array_contains(...)))` passes were interpreted
    * per-element lambdas, the same trap fixed natively for SimHash and
    * poly_fingerprint). Still no shuffle: per-row, scales as a scan. */
  def langScored(documents: DataFrame): DataFrame = {
    val withScores = tokenized(documents).withColumn("ls", expr("lang_scores(tk)"))
    // all s_<lang> extractions in ONE projection (round 14): the former
    // per-language withColumn fold stacked 21 Projects, each a fresh
    // analyzer pass over the whole growing plan — pure driver-side cost
    // paid on every bench rep (plans re-analyze per run)
    val sCols = langProfiles.map(_._1).zipWithIndex.map { case (l, i) =>
      expr(s"element_at(ls, ${i + 1})").as(s"s_$l")
    }
    val scored = withScores.select(
      withScores.columns.filterNot(_ == "ls").map(col) ++ sCols: _*)
    scored.withColumn("lang_guess", expr(langGuessSql))
  }

  /** Discriminative character-n-gram patterns for the da/nb orthography
    * tie-break (round-8 verdict item 6, the §8.10 residual): Danish and
    * Norwegian Bokmål share 18 of their top-20 function words, so the
    * stopword vote dead-ties whenever a document happens not to contain
    * af/av/sig/seg — but the ORTHOGRAPHY diverges systematically across
    * the whole vocabulary (public knowledge, any da/nb orthography
    * comparison): da spells `-tion` where nb spells `-sjon`
    * (station/stasjon), da `ej`/`øj` where nb `ei`/`øy`
    * (vej/vei, arbejde/arbeide, løj/løy), da `-nnem-` where nb `-nnom-`
    * (gennem/gjennom), da `af`/`sig` where nb `av`/`seg`. Patterns carry
    * their own word-boundary spaces where the signal is a whole word. */
  val daNbOrtho: Seq[(String, Seq[String])] = Seq(
    "da" -> Seq(" af ", "ej", "øj", "tion", "nnem", " sig "),
    "nb" -> Seq(" av ", "ei", "øy", "sjon", "nnom", " seg "))

  /** Second inseparable pair (round 9): Galician vs Portuguese share 13
    * of their top-20 function words verbatim, but the orthographies
    * diverge systematically (public knowledge, pt/gl orthography
    * comparison): pt keeps `ç` (Galician has none at all), `lh`/`nh`
    * digraphs where gl writes `ll`/`ñ` (filho/fillo, vinho/viño), and
    * `-ão` where gl writes `-ón`/`-án` (coração/corazón, verão/verán).
    * The gl `llo` spelling (not bare `ll`) keeps English base text
    * ("small", "all") out of the census. */
  val ptGlOrtho: Seq[(String, Seq[String])] = Seq(
    "pt" -> Seq("ç", "lh", "nh", "ão"),
    "gl" -> Seq("ñ", "llo", "ón", "án"))

  /** Third inseparable pair (round 10): Croatian vs Serbian in Latin
    * script share the entire function-word skeleton, but the yat reflex
    * diverges systematically across the whole vocabulary (public
    * knowledge, any hr/sr orthography comparison): hr is ijekavian —
    * rijeka/uvijek/lijep/vrijeme/mlijeko — where sr standard is ekavian
    * — reka/uvek/lep/vreme/mleko. `ijek`/`ijep` cover the productive
    * reflex families without matching the shared `nije` (both
    * languages); the ekavian side has no positive CHARACTER signal (it
    * is the absence of ije), so sr patterns are word-bounded ekavian
    * reflexes plus the hleb/kruh lexical split — boundary spaces keep
    * English base text ("elephant", "telepathy" would otherwise feed
    * the lep census) out of it; " lep"/" mlek" are word-INITIAL so the
    * inflected forms (lepa/lepo/lepi, mleka/mleko) all count. */
  val hrSrOrtho: Seq[(String, Seq[String])] = Seq(
    "hr" -> Seq("ijek", "ijep", "vrijem", "mlijek", " tko ", " kruh "),
    "sr" -> Seq(" reka ", " lep", " vreme ", " uvek ", " mlek", " hleb "))

  /** Fourth inseparable pair (round 10): Malay vs Indonesian share the
    * function-word skeleton nearly verbatim, but the LOANWORD strata
    * diverge systematically (public knowledge, any ms/id comparison):
    * English-derived `-ty` nouns take ms `-iti` (universiti, aktiviti,
    * kualiti) where id inherits Dutch `-itas` (universitas, aktivitas,
    * kualitas); English `-tion` gives ms `-syen` (televisyen,
    * konvensyen); and the core lexicon splits on kerana/karena,
    * wang/uang (money), sahaja/saja (only), mahu/mau (want). Word-final
    * spaces on `iti `/`itas ` keep mid-word hits out; " saja " cannot
    * match inside " sahaja " (no space before the s) and " mau " cannot
    * match inside " mahu ", so each census is blind to the other side's
    * forms. Known residual ambiguity: `teliti`-family words (shared by
    * both languages) feed `iti ` — the same accumulate-for-all-claimants
    * semantics as the shared function words, resolved by total
    * evidence. */
  val msIdOrtho: Seq[(String, Seq[String])] = Seq(
    "ms" -> Seq("kerana", "iti ", "syen", " wang ", " sahaja ", " mahu "),
    "id" -> Seq("karena", "itas ", " uang ", " saja ", " mau ", " bisa "))

  /** cs/sk census: the strongest possible orthography signal — letters
    * the OTHER orthography simply does not have (ř/ě/ů exist only in
    * Czech; ľ/ô/ä only in Slovak). Single-character patterns, counted
    * by the same replace-chain as every other pair. */
  val csSkOrtho: Seq[(String, Seq[String])] = Seq(
    "cs" -> Seq("ř", "ě", "ů"),
    "sk" -> Seq("ľ", "ô", "ä"))

  /** bg/mk census (round 12, the first Cyrillic pair): the cs/sk
    * construction — letters the OTHER alphabet simply does not have.
    * The Bulgarian alphabet has ъ (a full vowel), щ, ю, я; the
    * Macedonian alphabet dropped all four and instead has the six
    * letters ќ, ѓ, љ, њ, џ, ѕ, none of which Bulgarian uses (public
    * knowledge: the two alphabets' letter inventories). Single
    * Cyrillic codepoints, counted by the same replace-chain as every
    * other pair — and immune to Latin base text by script alone. */
  val bgMkOrtho: Seq[(String, Seq[String])] = Seq(
    "bg" -> Seq("ъ", "щ", "ю", "я"),
    "mk" -> Seq("ќ", "ѓ", "љ", "њ", "џ", "ѕ"))

  /** uk/ru census (round 12, the seventh pair and second Cyrillic one):
    * the cs/sk construction again — letters the OTHER alphabet simply
    * does not have. Ukrainian has і/ї/є/ґ, none of which the Russian
    * alphabet contains; Russian has ы/э/ъ/ё, none of which Ukrainian
    * contains (public knowledge: the two alphabets' letter
    * inventories). uk «і» is U+0456 — a distinct codepoint from Latin
    * `i`, so Latin base text cannot feed the census; ru «ъ» is shared
    * with Bulgarian, which is harmless because a pair's fallback
    * engages only when the argmax already landed on that pair. */
  val ukRuOrtho: Seq[(String, Seq[String])] = Seq(
    "uk" -> Seq("і", "ї", "є", "ґ"),
    "ru" -> Seq("ы", "э", "ъ", "ё"))

  /** nl/af census (round 12, the eighth pair): systematic RESPELLINGS
    * rather than exclusive letters — Afrikaans replaced the Dutch `ij`
    * digraph with `y` (zijn→syn, wijn→wyn) and `z` with `s` (zee→see,
    * zon→son), so `ij` and `z` are Dutch-side evidence that native
    * Afrikaans text essentially never carries (public knowledge: any
    * af orthography reference); the Afrikaans side counts the
    * circumflex vowels ê/ô Dutch does not use natively (sê, wêreld,
    * môre) and the word-bounded double-negation marker " nie " /
    * pronoun " jy " (Dutch: niet / jij — the trailing space keeps
    * "niet" from feeding " nie "). French loans in Dutch (enquête) and
    * loanword z in Afrikaans (Zoeloe) are rare stray counts the
    * accumulate-and-compare semantics absorbs, same as every other
    * pair's residual ambiguity. */
  val nlAfOrtho: Seq[(String, Seq[String])] = Seq(
    "nl" -> Seq("ij", "z", " een ", " niet "),
    "af" -> Seq("ê", "ô", " nie ", " jy "))

  /** es/ca census (round 12, the ninth pair): Spanish ñ and the
    * standalone conjunction « y » (Catalan writes « i ») against
    * Catalan ç and the interpunct geminate l·l (U+00B7) — ñ and ·
    * are codepoints the other orthography simply does not use, the
    * cs/sk construction; the word-bounded " els "/" amb " markers add
    * real-document evidence (they are ca profile words too — more
    * census signal on genuine text, deliberately absent from the
    * planted dead-tie snippets). " y " is an es PROFILE word, so a
    * snippet carrying it pays one vote of margin — inside the ≤2-vote
    * gate by construction. */
  val esCaOrtho: Seq[(String, Seq[String])] = Seq(
    "es" -> Seq("ñ", " y "),
    "ca" -> Seq("ç", "l·l", " els ", " amb "))

  /** The margin-gated orthography pairs [[langScoredOrtho]] applies, in
    * application order. Each entry: (langA, patternsA, langB, patternsB)
    * with A the earlier profile (the tie-break winner the fallback
    * corrects). */
  val orthoPairs: Seq[(Seq[(String, Seq[String])])] =
    Seq(daNbOrtho, ptGlOrtho, hrSrOrtho, msIdOrtho, csSkOrtho, bgMkOrtho,
      ukRuOrtho, nlAfOrtho, esCaOrtho)

  /** DuckDB CTE chain applying EVERY registered pair rewrite in
    * [[orthoPairs]] order — the oracle-side mirror of
    * [[langScoredOrtho]]'s fold, so a new registered pair updates every
    * ortho oracle in lockstep (q134/q135 share this text). Input: a CTE
    * named `g` holding `lang_guess` + all `s_`/`t_` columns. Returns
    * (cteListSql, finalCteName); the caller appends the fragments after
    * `g` and selects from the final name. */
  private[graft] def orthoRewriteCtes(margin: Int): (String, String) = {
    val names = "g" +: (0 until orthoPairs.size).map(i => s"g${i + 2}")
    val ctes = orthoPairs.zipWithIndex.map { case (pair, i) =>
      s"""${names(i + 1)} AS (SELECT * REPLACE (
         |  ${pairFallbackSql(pair.head._1, pair(1)._1, margin)} AS lang_guess)
         |  FROM ${names(i)})""".stripMargin
    }
    (ctes.mkString(",\n"), names.last)
  }

  /** Occurrence-count sum of `pats` inside the SQL string expression
    * `src`, phrased so Spark and DuckDB execute it identically:
    * per-pattern `(length − length(replace)) / patternLength`, each an
    * exact integer (the char-diff is always a multiple of the pattern
    * length), summed as BIGINT. No regex, no UDF — codegen'd replace
    * chains, scan-only. */
  private[graft] def orthoCountSql(src: String, pats: Seq[String]): String =
    pats.map { p =>
      s"CAST((length($src) - length(replace($src, '$p', ''))) / ${p.length} AS BIGINT)"
    }.mkString(" + ")

  /** The Spark-side native form of [[orthoCountSql]] —
    * `substr_census(src, 'p1', …)` ([[graft.functions.SubstrCensus]]):
    * identical greedy non-overlapping counts in one allocation-free byte
    * scan per pattern, replacing the replace-chain's ~N full-text copies
    * per row (round 14; the DuckDB oracles keep the replace-chain text
    * verbatim — cross-engine equality is the expression's spec'd
    * contract plus the ortho oracle rows). */
  private[graft] def orthoCensusExpr(src: String, pats: Seq[String]): String =
    s"substr_census($src, ${pats.map(p => s"'$p'").mkString(", ")})"

  /** The margin-gated fallback ladder over [[langScoredNordic]]'s
    * columns — engaged ONLY when the function-word argmax landed on the
    * da/nb pair with a vote margin at or below `margin` AND the
    * orthography census found any evidence; everything else keeps the
    * vote's answer, so the eight earlier profiles' behavior is
    * bit-untouched. Trigram ties resolve to da — the same profile-order
    * tie-break the vote ladder uses. Same text in Spark and DuckDB. */
  private[graft] def pairFallbackSql(a: String, b: String, margin: Int): String =
    // no bigint literal suffixes: this exact text also runs in DuckDB
    // (the q31/q133 shared-text discipline)
    s"""CASE WHEN lang_guess IN ('$a', '$b') AND abs(s_$a - s_$b) <= $margin
       | AND t_$a + t_$b > 0
       |THEN CASE WHEN t_$a >= t_$b THEN '$a' ELSE '$b' END
       |ELSE lang_guess END""".stripMargin

  private[graft] def nordicFallbackSql(margin: Int): String =
    pairFallbackSql("da", "nb", margin)

  /** [[langScored]] + the da/nb orthographic tie-break: adds `t_da` /
    * `t_nb` (discriminative char-n-gram occurrence counts over the
    * lower-cased text, [[daNbOrtho]]) and rewrites `lang_guess` through
    * [[nordicFallbackSql]]. A document the function-word vote cannot
    * separate (identical shared-stopword evidence) classifies by how its
    * CONTENT words are spelled. Scale shape: unchanged from
    * [[langScored]] — per-row codegen'd replace chains, shuffle-free
    * scan. */
  def langScoredNordic(documents: DataFrame, margin: Int = 2): DataFrame = {
    require(margin >= 0, s"margin must be >= 0, got $margin")
    // single leading/trailing space so word-boundary patterns match at
    // the ends of the text too (same trick both engines replay)
    val low = "concat(' ', lower(coalesce(text, '')), ' ')"
    langScored(documents)
      .withColumn("t_da", expr(orthoCensusExpr(low, daNbOrtho.head._2)))
      .withColumn("t_nb", expr(orthoCensusExpr(low, daNbOrtho(1)._2)))
      .withColumn("lang_guess", expr(nordicFallbackSql(margin)))
  }

  /** [[langScored]] + EVERY registered orthography pair
    * ([[orthoPairs]]: da/nb, pt/gl, hr/sr, ms/id): one `t_<lang>` census column per
    * pair member, then the margin-gated [[pairFallbackSql]] rewrites
    * applied in sequence — the pairs are disjoint on guesses, so the
    * rewrites compose without interaction and every non-pair language's
    * behavior stays bit-untouched. The fully-general form of
    * [[langScoredNordic]]; same shuffle-free scan shape. */
  def langScoredOrtho(documents: DataFrame, margin: Int = 2): DataFrame = {
    require(margin >= 0, s"margin must be >= 0, got $margin")
    // round 14, measured on the nine ortho lang-ID rows (~1.8 s wall on
    // ~1.2 task-seconds each): three restructures, result-identical —
    //  1. all 18 censuses in ONE projection over a lowered-text column
    //     computed ONCE (the fold inlined the lower() chain ~2× per
    //     pattern and stacked 18 analyzer passes);
    //  2. ONE flat margin-gated fallback CASE instead of nine chained
    //     lang_guess rewrites: the pairs are DISJOINT on guesses, so at
    //     most one branch can fire per row — the sequential fold and the
    //     flat ladder are row-identical (a rewrite only fires when the
    //     argmax landed on its own pair, and its output stays inside
    //     that pair, so no later rewrite can see a changed guess);
    //  3. the censuses run in the native one-scan substr_census
    //     ([[graft.functions.SubstrCensus]]) — the replace-chain form
    //     allocated a full text copy per pattern (~90/row), halving to
    //     0.65 task-s serial once removed.
    // A `Tables.spread` post-scan repartition was ALSO tried here (the
    // single-split local scan runs the census serially) and REVERTED on
    // the numbers: wall 1.0 → 0.87 but task-seconds 0.7 → 7–12 — the
    // 32-task stage pays ~0.15 s/task of fixed overhead TWICE (the
    // trailing total order's range-sampling pass re-executes the
    // projection chain), a 10× real-CPU regression for a 0.1 s wall win.
    // A/B (QTime steady reps, sf0.1): q134 1.70→0.97 wall,
    // task 1.2→0.62; q156 2.01→1.16 wall, 1.3→0.70 task; oracle text
    // unchanged, selfcheck green.
    val base = langScored(documents)
    val low = "concat(' ', lower(coalesce(text, '')), ' ')"
    val withLow = base.withColumn("ortho_low", expr(low))
    val censusCols = orthoPairs.flatten.map { case (lang, pats) =>
      expr(orthoCensusExpr("ortho_low", pats)).as(s"t_$lang")
    }
    val withCensus = withLow
      .select(withLow.columns.map(col) ++ censusCols: _*)
      .drop("ortho_low")
    val branches = orthoPairs.map { pair =>
      val (a, b) = (pair.head._1, pair(1)._1)
      s"""WHEN lang_guess IN ('$a', '$b') AND abs(s_$a - s_$b) <= $margin
         | AND t_$a + t_$b > 0
         |THEN CASE WHEN t_$a >= t_$b THEN '$a' ELSE '$b' END""".stripMargin
    }
    withCensus.withColumn("lang_guess",
      expr(s"CASE ${branches.mkString(" ")} ELSE lang_guess END"))
  }

  /** Unicode character classes for the three CJK script censuses —
    * BMP-only ranges, so Spark (codepoint `length`) and DuckDB
    * (codepoint `length`) count identically. Han covers the unified
    * ideographs + extension A; Kana covers Hiragana + Katakana
    * (including prolonged-sound marks); Hangul covers the precomposed
    * syllables block. */
  private[graft] val hanClass = "[\u4e00-\u9fff\u3400-\u4dbf]"
  private[graft] val kanaClass = "[\u3040-\u30ff]"
  private[graft] val hangulClass = "[\uac00-\ud7af]"

  /** [[langScored]] extended with a script census so CJK documents stop
    * classifying `und` (SURVEY §8.10 known limit): counts of Han, Kana
    * and Hangul codepoints per document, then a script ladder that the
    * function-word vote backstops —
    *
    *   - Hangul ≥ minScriptChars → `ko` (Hangul is unique to Korean);
    *   - else Kana ≥ minScriptChars → `ja` (Kana is unique to Japanese;
    *     checked BEFORE Han because Japanese text mixes Kanji freely);
    *   - else Han ≥ minScriptChars → `zh` (Han without any Kana);
    *   - else the five-profile function-word argmax (Latin scripts),
    *     `und` when no evidence at all.
    *
    * The threshold keeps a stray quoted ideograph inside a Latin
    * document from flipping it. The script counts are per-row
    * codegen'd regexp scans (`length(text) − length(regexp_replace)`),
    * so like [[langScored]] the whole operator is a shuffle-free scan.
    * Function-word scores are unaffected by the CJK branch of
    * [[tokenized]]: per-codepoint CJK segments can never equal a Latin
    * profile word, so `s_*` stay bit-identical to the plain-split
    * oracle phrasing. */
  def scriptLangId(documents: DataFrame, minScriptChars: Int = 4): DataFrame = {
    require(minScriptChars >= 1, s"minScriptChars must be >= 1, got $minScriptChars")
    def census(cls: String) = expr(
      s"CAST(length(text) - length(regexp_replace(text, '$cls', '')) AS BIGINT)")
    langScored(documents)
      .withColumn("n_han", census(hanClass))
      .withColumn("n_kana", census(kanaClass))
      .withColumn("n_hangul", census(hangulClass))
      .withColumn("lang_guess", expr(
        s"""CASE WHEN n_hangul >= ${minScriptChars}L THEN 'ko'
           |     WHEN n_kana >= ${minScriptChars}L THEN 'ja'
           |     WHEN n_han >= ${minScriptChars}L THEN 'zh'
           |     ELSE lang_guess END""".stripMargin))
  }

  /** The pre-round-6 interpreted-HOF formulation of [[langScored]]'s
    * score columns, kept as the bit-identity oracle for the native
    * expression (`LangIdSpec` proves column-for-column equality). */
  private[graft] def langScoredHof(documents: DataFrame): DataFrame = {
    val scored = langProfiles.foldLeft(tokenized(documents)) {
      case (df, (lang, words)) =>
        df.withColumn(s"s_$lang", expr(
          s"CAST(size(filter(tk, t -> array_contains(array(${words.map(w => s"'$w'").mkString(",")}), t))) AS BIGINT)"))
    }
    scored.withColumn("lang_guess", expr(langGuessSql))
  }

  /** Quality score in [0,1]: type-token ratio, stopword penalty, mean
    * token length — the length/punct/stopword-ratio family of heuristics.
    * Fixed evaluation order so the doubles match the oracle bit-for-bit. */
  def qualityScored(documents: DataFrame): DataFrame =
    tokenized(documents)
      .withColumn("n_tokens", expr("CAST(size(tk) AS BIGINT)"))
      .withColumn("n_distinct", expr("CAST(size(array_distinct(tk)) AS BIGINT)"))
      .withColumn("n_stop", expr(
        "CAST(size(filter(tk, t -> array_contains(array('the','a','of','and'), t))) AS BIGINT)"))
      .withColumn("sum_len", expr(
        "aggregate(tk, 0L, (acc, t) -> acc + CAST(length(t) AS BIGINT))"))
      .withColumn("ttr", expr("CAST(n_distinct AS DOUBLE) / n_tokens"))
      .withColumn("stop_ratio", expr("CAST(n_stop AS DOUBLE) / n_tokens"))
      .withColumn("mean_len", expr("CAST(sum_len AS DOUBLE) / n_tokens"))
      .withColumn("quality", expr(
        "0.5 * ttr + 0.3 * (1.0 - stop_ratio) + 0.2 * least(mean_len / 8.0, 1.0)"))

  /** Threshold-calibration sweep for the [[qualityScored]] filter — the
    * q77 pair-calibration discipline applied to quality filtering: for
    * each candidate cutoff τ ∈ {0.0, 0.1, …, (steps−1)/10}, how many
    * documents and tokens survive `quality >= τ`, absolutely and in ppm
    * of the corpus. A curator reads the cutoff off the volume it prunes
    * BEFORE committing a filter — never from a guess.
    *
    * Shape at 100 TB: one corpus scan fans each document out ×`steps`
    * (narrow), then a ≤`steps`-key partial agg; totals ride a 1-row
    * broadcast. The τ column is `step/10.0` computed identically in
    * both engines, and the ppm rates are integer `div`s — no
    * cross-engine float drift anywhere. */
  /** BM25 ranked retrieval (Robertson/Spärck Jones) for a LITERAL query
    * — the standard IR scorer a corpus-curation team runs to pull
    * topical slices ("give me the docs about X") where
    * [[seedCentroidTopK]] retrieves by example and [[targetAffinity]]
    * by distribution. Classic BM25 with two house disciplines: the IDF
    * is the log-free rational form `(N − df + 0.5)/(df + 0.5)` (ln is
    * not cross-engine exact; the q117 precedent), and each per-term
    * double score FLOORS to BIGINT micro-units BEFORE the cross-term
    * sum, so the total is an order-free integer sum (FP addition is
    * non-associative; a 3-term double sum can differ between engines
    * by summation order alone).
    *
    * Shape at 100 TB: the query-term filter prunes the exploded corpus
    * AT THE SCAN (3 terms of a literal IN list); df and totals are a
    * 3-row and a 1-row broadcast; the only corpus-keyed work is the
    * (doc, term) tf partial agg and one doc-keyed length join; top-k
    * plans TakeOrderedAndProject — no global sort. */
  def bm25TopK(documents: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val inList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    val tk = tokenized(documents)
    val lens = tk.select(col("doc_id"),
      expr("CAST(size(tk) AS BIGINT)").as("len"))
    val toks = tk.select(col("doc_id"), explode(col("tk")).as("term"))
      .filter(expr(s"term IN ($inList)"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val totals = lens.agg(count(lit(1)).as("n_docs"),
      sum(col("len")).as("total_len"))
    tf
      .join(broadcast(df), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("score_ppm", expr(
        s"""CAST(floor(
           |  ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
           |    / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
           |  * (CAST(tf AS DOUBLE) * (CAST($k1 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
           |  / (CAST(tf AS DOUBLE) + CAST($k1 AS DOUBLE)
           |     * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)
           |        + CAST($b AS DOUBLE) * (CAST(len AS DOUBLE)
           |          / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
           |  * CAST(1000000.0 AS DOUBLE)) AS BIGINT)""".stripMargin))
      .groupBy("doc_id")
      .agg(sum(col("score_ppm")).as("score_ppm"),
        max(col("len")).as("n_tokens"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.Scalars.constPartitionKey(col("doc_id")))
          .orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "score_ppm", "n_tokens")
  }

  /** Unicode NFC normalization census — the ftfy-class encoding-hygiene
    * pass (CCNet/FineWeb run it before anything hashes text, because a
    * decomposed `e + U+0301` and a composed `é` are different strings
    * to every dedup hash and shingle in this engine). Pure per-row
    * scan: the native `nfc_normalize` (ASCII fast path — the identity
    * for most of a web corpus) plus the changed flag and normalized
    * length. Emitting the full normalized text makes the oracle
    * comparison total: a single differing codepoint anywhere fails the
    * hash. Zero shuffles before the caller's ordering. */
  def unicodeNormalized(documents: DataFrame): DataFrame = {
    documents
      .withColumn("text_nfc", expr("nfc_normalize(text)"))
      .select(col("doc_id"),
        (col("text_nfc") =!= col("text")).as("changed"),
        length(col("text_nfc")).cast("long").as("n_chars_nfc"),
        col("text_nfc"))
  }

  /** Per-source EXACT token-length quantiles — the corpus-datasheet
    * numbers (p50/p90/p99 document length per source) every dataset
    * card publishes, computed exactly instead of via
    * `percentile_approx`'s float sketch: quantile p = the smallest
    * length whose cumulative doc count reaches ⌈p·N/100⌉ within the
    * source, decided by the all-integer compare `cum·100 ≥ N·p` (no
    * division, no doubles — bit-exact cross-engine).
    *
    * Shape at 100 TB: the corpus collapses map-side into (source,
    * length) counts — bounded by |sources| × |distinct lengths|, NOT
    * corpus-scale — before the per-source cumulative window and final
    * fold run on those bounded rows. Exactness costs nothing here
    * because the value domain (document lengths) is small; the sketch
    * is only needed when it isn't. */
  def lengthQuantiles(documents: DataFrame,
      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in [1,100], got $pcts")
    val lens = tokenized(documents)
      .select(col("source"), expr("CAST(size(tk) AS BIGINT)").as("len"))
      .groupBy("source", "len").agg(count(lit(1)).as("c"))
    val cum = lens
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("source").orderBy("len")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_docs", sum(col("c")).over(Window.partitionBy("source")))
    val qcols = pcts.map { p =>
      min(when(col("cum") * lit(100L) >= col("n_docs") * lit(p.toLong),
        col("len"))).as(s"p$p")
    }
    val aggCols = max(col("n_docs")).as("n_docs") +: qcols
    cum.groupBy("source").agg(aggCols.head, aggCols.tail: _*)
  }

  def qualityThresholdSweep(documents: DataFrame, steps: Int = 10): DataFrame = {
    require(steps >= 1 && steps <= 11, s"steps must be in [1,11], got $steps")
    val q = qualityScored(documents)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val totals = q.agg(count(lit(1)).as("total_docs"),
      sum(col("n_tokens")).as("total_tokens"))
    q.select(col("n_tokens"), col("quality"),
        explode(expr(s"sequence(0L, ${steps - 1}L)")).as("step"))
      .withColumn("tau", expr("CAST(step AS DOUBLE) / 10.0"))
      .groupBy("tau")
      .agg(sum(when(col("quality") >= col("tau"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("quality") >= col("tau"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("tau"), col("kept_docs"), col("kept_tokens"),
        expr("kept_docs * 1000000L div total_docs").as("docs_ppm"),
        expr("kept_tokens * 1000000L div total_tokens").as("tokens_ppm"))
      .orderBy("tau")
  }

  /** Gopher-style repetition rules (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", 2021, §A1.1):
    * documents dominated by a repeated token or n-gram are boilerplate /
    * spam, and mean-word-length outliers are junk encodings. Four
    * published-rule analogues over the whitespace token stream:
    * duplicate-word fraction (1 − distinct/total), top-word share,
    * top-bigram share, mean word length — plus the conjunctive keep flag.
    *
    * Shape at 100 TB: the narrow stats (counts, lengths) are per-row
    * HOFs; the two mode searches (top word / top bigram) are each a
    * two-level partial aggregation — `groupBy(doc, term).count` collapses
    * map-side, then `groupBy(doc).max` — never a corpus-wide window on a
    * raw term key (the q69 lesson). Every ratio is a single division of
    * two exact longs, so the doubles replay bit-for-bit in the oracle. */
  def gopherStats(documents: DataFrame): DataFrame = {
    val base = tokenized(documents)
      .select(col("doc_id"), col("tk"),
        expr("CAST(size(tk) AS BIGINT)").as("n_tokens"),
        expr("CAST(size(array_distinct(tk)) AS BIGINT)").as("n_distinct"),
        expr("aggregate(tk, 0L, (acc, t) -> acc + CAST(length(t) AS BIGINT))")
          .as("sum_len"))
    val topWord = base.select(col("doc_id"), explode(col("tk")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_w"))
    val topBigram = base
      .select(col("doc_id"), explode(expr("ngram_shingles(tk, 2)")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_b"))
    base.join(topWord, Seq("doc_id"))
      .join(topBigram, Seq("doc_id"), "left") // 1-token docs have no bigram
      .withColumn("top_b", coalesce(col("top_b"), lit(0L)))
      .withColumn("dup_word_frac", expr(
        "CAST(1.0 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)"))
      .withColumn("top_word_share", expr(
        "CAST(top_w AS DOUBLE) / CAST(n_tokens AS DOUBLE)"))
      .withColumn("top_bigram_share", expr(
        "CASE WHEN n_tokens > 1 THEN CAST(top_b AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE) " +
          "ELSE CAST(0.0 AS DOUBLE) END"))
      .withColumn("mean_word_len", expr(
        "CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)"))
      .withColumn("keep", expr(
        "mean_word_len >= CAST(3.0 AS DOUBLE) AND mean_word_len <= CAST(10.0 AS DOUBLE) " +
          "AND dup_word_frac <= CAST(0.6 AS DOUBLE) " +
          "AND top_word_share <= CAST(0.125 AS DOUBLE) " +
          "AND top_bigram_share <= CAST(0.06 AS DOUBLE)"))
      .select("doc_id", "n_tokens", "dup_word_frac", "top_word_share",
        "top_bigram_share", "mean_word_len", "keep")
  }

  /** Per-stratum length-window filter: keep documents whose `n_chars`
    * lies within the [pLo, pHi] exact interpolated percentiles of their
    * stratum — the outlier trim every corpus pipeline runs (truncated
    * fragments at the bottom, concatenation blobs at the top), with
    * cutoffs that adapt per language instead of one global constant.
    *
    * Shape at 100 TB: the cutoffs are one tiny per-stratum aggregate
    * (as many rows as strata) BROADCAST back over the corpus — the
    * corpus itself never shuffles; the filter is a per-row comparison.
    *
    * `approx = true` is the at-scale path (round-5 verdict item 7, now
    * exercised code, not a comment): exact `percentile` buffers and
    * sorts EVERY stratum value inside the aggregate — a hot stratum
    * ("en" at corpus scale) concentrates its whole length distribution
    * in one aggregation buffer — while `approx_percentile` keeps a
    * bounded quantile sketch (`accuracy` trades cutoff error for
    * memory; default 10000). Cutoffs shift within sketch tolerance;
    * memberships follow — `LengthWindowSpec` pins the drift on
    * fixtures. The oracle keeps replaying the exact form (DuckDB has no
    * matching sketch); approx is spec-checked only, by design. */
  def lengthWindowFilter(documents: DataFrame, strataCol: String = "lang",
      pLo: Double = 0.05, pHi: Double = 0.95, approx: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    // join through a NULL-coalesced key: an equi-join on the raw stratum
    // would silently DROP every NULL-stratum doc (NULL keys never match)
    // rather than trim it — NULL strata form their own window instead
    // (reviewed round 3)
    val key = coalesce(col(strataCol).cast("string"), lit("\u0000"))
    def cut(p: Double): org.apache.spark.sql.Column =
      if (approx) expr(s"CAST(approx_percentile(n_chars, ${p}D, $accuracy) AS DOUBLE)")
      else expr(s"percentile(n_chars, ${p}D)")
    val cuts = documents.groupBy(key.as("_stratum"))
      .agg(cut(pLo).as("len_lo"), cut(pHi).as("len_hi"))
    documents.withColumn("_stratum", key)
      .join(broadcast(cuts), Seq("_stratum"))
      .filter(col("n_chars") >= col("len_lo") && col("n_chars") <= col("len_hi"))
      .drop("_stratum")
  }

  /** Per-document top-token share — the repetition/boilerplate signal of
    * the Gopher-style quality filters (a doc whose most frequent token
    * dominates is list/boilerplate-shaped). Shape at 100 TB: explode →
    * two partial-agg groupBys on doc-bounded keys (no window, no
    * collect) — the (doc_id, token) fan-out shuffles once and reduces
    * map-side. */
  def topTokenShare(documents: DataFrame): DataFrame =
    tokenized(documents)
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max("c").as("top_cnt"),
        sum("c").as("n_tokens"))
      .withColumn("top_share", expr("CAST(top_cnt AS DOUBLE) / n_tokens"))
      .select("doc_id", "n_tokens", "top_cnt", "top_share")

  /** Per-document unigram-rarity score — the log-free surrogate for a
    * unigram LM perplexity filter (CCNet-style "does this look like
    * normal language" scoring without shipping a KenLM model):
    * `mean_df_rate = (Σ_t∈doc df(t)) / (n_tokens · N_docs)`, the mean
    * document-frequency RATE over the document's token occurrences.
    * High ⇒ common, fluent vocabulary; low ⇒ rare/garbled tokens. The
    * ratio is monotone in the mean unigram log-probability's argument
    * but needs no `ln`, so it stays cross-engine bit-exact (the q69
    * no-ln discipline): all-integer numerator, one double division.
    *
    * Shape at 100 TB: the q69 shape exactly — tf and df are two-level
    * partial aggregations on doc-bounded / vocab keys (never a window
    * on the raw term), the tf⋈df equi-join shuffles narrow rows, the
    * corpus count rides a 1-row broadcast. Every doc has ≥ 1 token
    * (the empty string tokenizes to [""]), so no join-back is needed
    * for completeness. */
  def unigramRarity(documents: DataFrame): DataFrame = {
    val tf = tokenized(documents)
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    tf.join(dft, Seq("t"))
      .groupBy("doc_id")
      .agg(sum(expr("tf * df")).as("sum_df"), sum(col("tf")).as("n_tokens"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("n_tokens"), col("sum_df"),
        expr("CAST(sum_df AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_docs AS DOUBLE))")
          .as("mean_df_rate"))
  }

  /** Per-document bigram-surprise score — the CONDITIONAL companion to
    * [[unigramRarity]]'s marginal rarity, and the log-free surrogate for
    * the bigram-LM perplexity filter (CCNet's KenLM scoring step without
    * shipping a model): for every bigram occurrence (w1, w2), surprise =
    * `(c1(w1) · 1e6) div c2(w1, w2)` — how much more often the first
    * word appears than this particular continuation (≥ 1e6; a
    * deterministic continuation of a word scores the floor, a one-off
    * continuation of a stop-word scores huge). The document score is the
    * integer mean over its bigram occurrences. All-BIGINT (the q69
    * no-ln discipline); exact while `c1 · 1e6 < 2^63`, i.e. below
    * ~9e12 corpus token occurrences of one word — flip the scale factor
    * down (or the sums to DOUBLE) beyond that.
    *
    * Shape at 100 TB: the q80 shape plus one key — bigram counts and
    * unigram counts are two-level partial aggregations on vocab-bounded
    * keys (never a window on the raw term); the scoring joins shuffle
    * narrow (doc_id, w1, w2) rows on (w1, w2) then w1; the per-doc mean
    * is a doc-keyed partial agg; docs with < 2 tokens come back via the
    * final left join with n_bigrams = 0. */
  def bigramSurprise(documents: DataFrame): DataFrame = {
    val toks = tokenized(documents)
    // bigrams as 'w1 w2' STRINGS via `||` (the q87 featureBucket form —
    // tokens are space-free by construction, so the join key is exact);
    // the struct-per-element `transform(..., i -> named_struct(...))`
    // formulation profiled at 2 × ~8 s single-task stages on sf0.1,
    // ~10× this form
    val bg = toks
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(tk) > 1
          | THEN transform(sequence(0, size(tk) - 2), i -> tk[i] || ' ' || tk[i + 1])
          | ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("b"))
    val c2 = bg.groupBy("b").agg(count(lit(1)).as("c2"))
    val c1 = toks.select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val ag = bg
      .join(c2, Seq("b"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .join(c1, col("w1") === c1("t"))
      .withColumn("s", expr("(c1 * 1000000L) div c2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("ss"))
    documents.select("doc_id")
      .join(ag, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0L, expr("ss div n_bigrams"))
          .otherwise(lit(0L)).as("surprise_fp"))
  }

  /** Per-source distribution drift — total-variation distance between
    * each source's unigram distribution and the corpus-wide one, in
    * floored micro-units: `tv_ppm = (Σ_t |p_fp(t) − q_fp(t)|) div 2`
    * with `p_fp = (st · 1e6) div S_s` (term share within the source) and
    * `q_fp = (ct · 1e6) div T` (corpus share). The governance readout
    * that flags a source whose vocabulary stopped looking like the rest
    * of the corpus (scraper drift, language shift, spam injection)
    * BEFORE it poisons mixing weights downstream (q79 consumes per-source
    * counts; this says whether the source still belongs).
    *
    * Vocabulary terms ABSENT from a source still contribute their full
    * corpus share to the distance; rather than materializing
    * |vocab| × |sources| rows, that tail is reconstructed as
    * `Q − Σ_{t∈source} q_fp` where `Q = Σ_vocab q_fp` is a corpus
    * constant (≤ 1e6) — the union-domain sum without the union-domain
    * join. Flooring makes every engine emit identical integers; the
    * ±|vocab∩source| ppm floor bias is part of the published contract.
    *
    * Shape at 100 TB: (source, t) and vocab counts are two-level partial
    * aggs; the one corpus-scale join keys on the vocab term; Q and T
    * ride a 1-row broadcast; output is |sources| rows. */
  def sourceDrift(documents: DataFrame): DataFrame = {
    // three consumers (vocab counts, source totals, the scoring join):
    // checkpoint the narrow (source, t) counts once — the q69 tf
    // discipline — so the corpus-scale tokenize+agg runs exactly once
    val st = tokenized(documents)
      .select(col("source"), explode(col("tk")).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("st"))
      .localCheckpoint()
    val ct = st.groupBy("t").agg(sum(col("st")).as("ct"))
    val totals = ct.agg(sum(col("ct")).as("tt"))
    // two consumers (the corpus constant Q and the scoring join):
    // checkpoint the narrow vocab-share table so the vocab agg runs once
    val qf = ct.crossJoin(broadcast(totals))
      .withColumn("q_fp", expr("(ct * 1000000L) div tt"))
      .localCheckpoint()
    val bigQ = broadcast(qf.agg(sum(col("q_fp")).as("qq")))
    val ss = st.groupBy("source").agg(sum(col("st")).as("s_tokens"))
    st.join(qf.select("t", "q_fp"), Seq("t"))
      .join(broadcast(ss), Seq("source"))
      .withColumn("p_fp", expr("(st * 1000000L) div s_tokens"))
      .groupBy("source")
      .agg(max(col("s_tokens")).as("n_tokens"),
        sum(expr("abs(p_fp - q_fp)")).as("sum_abs"),
        sum(col("q_fp")).as("sum_q"))
      .crossJoin(bigQ)
      .select(col("source"), col("n_tokens"),
        expr("(sum_abs + (qq - sum_q)) div 2").as("tv_ppm"))
  }

  /** Feature-hashed document vectors — the hashing trick (Weinberger et
    * al., "Feature Hashing for Large Scale Multitask Learning", ICML
    * 2009): every token occurrence lands in dimension `h60(t) mod dim`
    * with sign `1 − 2·(h60('s_' || t) mod 2)` (the unbiasing sign hash;
    * the salt keeps the two hashes independent pre-image), and the
    * document vector is the per-dimension signed occurrence sum — exact
    * BIGINT, no model required. This is the text→vector bridge: cast to
    * float and the whole ANN/clustering family (q39–q41, q73/q74, q81)
    * runs on corpora that never saw an embedding model.
    *
    * Output: `doc_id, n_tokens, vec_str` (the dim-length vector
    * comma-joined — the q35 array-stringify oracle convention).
    *
    * Shape at 100 TB: explode → (doc_id, dim) partial agg (≤ dim rows
    * per doc pre-shuffle thanks to map-side combine) → per-doc pack;
    * the dense fill is a dim-bounded per-row transform. No corpus-scale
    * join anywhere. */
  /** The sparse stage of [[hashedDocVector]]: one row per (doc, present
    * dimension) with the exact BIGINT signed sum `v` and occurrence
    * count `c` — shared with [[seedCentroidTopK]], which consumes the
    * sparse form directly instead of re-deriving it. */
  private[graft] def hashedDims(documents: DataFrame, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    tokenized(documents)
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .select(col("doc_id"),
        expr(s"pmod(${h60x("t")}, ${dim}L)").as("j"),
        expr(s"1L - 2L * pmod(${h60x("'s_' || t")}, 2L)").as("sgn"))
      .groupBy("doc_id", "j").agg(sum(col("sgn")).as("v"), count(lit(1)).as("c"))
  }

  /** Model-based quality filtering — the hashing-trick LINEAR-CLASSIFIER
    * inference step (the shape FineWeb-Edu / DCLM / phi-class pipelines
    * use to score every document with a small trained model, where the
    * Gopher rules of q75 are hand heuristics). Features are hashed
    * token counts over `dim` buckets (Weinberger et al., ICML'09 — the
    * same trick as [[hashedDocVector]]); the "trained" weights load as
    * a `(j, w)` TABLE exactly as a real pipeline loads a parameter
    * file — here each micro-unit weight derives deterministically from
    * the bucket id (`h60("w_" <> j) % 1000001 − 500000`, uniform over
    * ±0.5 in ppm units) so the DuckDB oracle replays the identical
    * model. Every document scores `logit = Σ_t w[h(t)]` and is kept
    * iff `logit > 0` (mean token weight above the midpoint). All
    * arithmetic is BIGINT micro-units end to end — bit-exact
    * cross-engine, no sigmoid needed (monotone in the logit).
    *
    * Shape at 100 TB: the weight table is `dim` rows — broadcast once;
    * the corpus tokenizes and per-token bucket scoring folds map-side
    * into ONE doc_id-keyed partial aggregate. A 2M-bucket production
    * model is still ~16 MB — comfortably inside the broadcast regime,
    * which is precisely why fastText-style scorers run at corpus scale
    * where a GPU cross-encoder cannot. */
  def qualityClassifier(documents: DataFrame, dim: Int = 256): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    val session = documents.sparkSession
    val weights = session.range(dim).select(col("id").as("j"),
      (expr(s"pmod(${h60x("concat('w_', CAST(id AS STRING))")}, 1000001L)")
        - lit(500000L)).as("w"))
    tokenized(documents)
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .select(col("doc_id"), expr(s"pmod(${h60x("t")}, ${dim}L)").as("j"))
      .join(broadcast(weights), Seq("j"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("logit"))
      .select(col("doc_id"), col("n_tokens"), col("logit"),
        (col("logit") > lit(0L)).as("kept"))
  }

  /** Classifier-vs-rules calibration sweep — the governance readout a
    * curation team runs before swapping the hand heuristics for the
    * cheap model: at each candidate logit threshold τ, the confusion
    * matrix of the [[qualityClassifier]] decision (`logit > τ`) against
    * the [[qualityScored]] rule label (`quality >= qualityCut`), plus
    * integer ppm precision/recall. The q77/q113 calibration discipline
    * applied to the model-vs-rules axis: read the operating point off
    * the curve BEFORE committing a classifier cutoff.
    *
    * Determinism: the label rides the q113-proven double compare; the
    * confusion counts and ppm ratios are pure BIGINT (numerators and
    * denominators non-negative, so Spark `div` ≡ DuckDB `//`).
    *
    * Shape at 100 TB: the label is a per-row formula computed in the
    * same scan that tokenizes for the classifier (NO doc-keyed
    * label⋈logit join — the label folds into the one doc_id partial
    * agg the classifier already does); the τ fan-out multiplies the
    * ALREADY-AGGREGATED doc rows (×|thresholds|, narrow), and the
    * confusion agg is a ≤|thresholds|-key partial agg. One corpus
    * scan, one doc-keyed exchange, one bounded-key exchange. */
  /** Single source of truth for classifierCalibration's defaults: the
    * q161 oracle SQL interpolates these same values, so a default change
    * moves both sides in lockstep (the q157/bm25Ctes discipline). */
  val CalibDim: Int = 256
  val CalibQualityCut: Double = 0.625
  val CalibThresholds: Seq[Long] = (-4L to 4L).map(_ * 1000000L)

  def classifierCalibration(documents: DataFrame, dim: Int = CalibDim,
      qualityCut: Double = CalibQualityCut,
      thresholds: Seq[Long] = CalibThresholds): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val session = documents.sparkSession
    val weights = session.range(dim).select(col("id").as("j"),
      (expr(s"pmod(${h60x("concat('w_', CAST(id AS STRING))")}, 1000001L)")
        - lit(500000L)).as("w"))
    val scored = qualityScored(documents)
      .select(col("doc_id"),
        when(col("quality") >= lit(qualityCut), 1L).otherwise(0L).as("label"),
        explode(col("tk")).as("t"))
      .select(col("doc_id"), col("label"),
        expr(s"pmod(${h60x("t")}, ${dim}L)").as("j"))
      .join(broadcast(weights), Seq("j"))
      .groupBy("doc_id")
      .agg(max(col("label")).as("label"), sum(col("w")).as("logit"))
    val taus = thresholds.map(t => s"${t}L").mkString(", ")
    scored
      .select(col("label"), col("logit"),
        explode(expr(s"array($taus)")).as("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("logit") > col("threshold") && col("label") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("logit") > col("threshold") && col("label") === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("logit") <= col("threshold") && col("label") === 1L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("logit") <= col("threshold") && col("label") === 0L, 1L)
          .otherwise(0L)).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN 0 ELSE (tp * 1000000) div (tp + fp) END")
          .cast("long").as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN 0 ELSE (tp * 1000000) div (tp + fn) END")
          .cast("long").as("recall_ppm"))
  }

  def hashedDocVector(documents: DataFrame, dim: Int = 16): DataFrame = {
    hashedDims(documents, dim)
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        map_from_entries(sort_array(collect_list(struct(col("j"), col("v")))))
          .as("m"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"""array_join(transform(sequence(0L, ${dim - 1}L),
                |  j -> CAST(coalesce(element_at(m, j), 0L) AS STRING)), ',')"""
          .stripMargin).as("vec_str"))
  }

  /** Seed-set expansion over the hashed doc vectors: given a seed
    * predicate (the handful of documents a curator already trusts —
    * here the deterministic `doc_id % seedMod = 0` gate so both engines
    * pick the identical set), sum the seeds' [[hashedDims]] vectors
    * into ONE exact BIGINT centroid and rank every non-seed document by
    * its dot product with it. This is the retrieval step of
    * targeted-corpus curation ("find me more documents like these")
    * with no embedding model required — the integer companion to the
    * DSIR affinity of [[targetAffinity]], selecting by vector direction
    * instead of hashed n-gram rates. All-integer end to end, so the
    * oracle is bit-exact.
    *
    * Shape at 100 TB: the centroid is ≤ `dim` rows regardless of seed
    * count (seeds aggregate distributively before the collect), rides
    * one broadcast; each non-seed document folds its own sparse dims
    * against it map-side (doc_id-keyed partial agg), and the final
    * top-k is TakeOrderedAndProject — no global sort materializes. The
    * rank window runs on the k collected survivors only. */
  def seedCentroidTopK(documents: DataFrame, seedMod: Int = 17,
      dim: Int = 16, k: Int = 20): DataFrame = {
    require(seedMod >= 2, s"seedMod must be >= 2, got $seedMod")
    require(k >= 1, s"k must be >= 1, got $k")
    val dims = hashedDims(documents, dim)
    val centroid = dims.filter(col("doc_id") % seedMod === 0)
      .groupBy("j").agg(sum(col("v")).as("cj"))
    val scored = dims.filter(col("doc_id") % seedMod =!= 0)
      .join(broadcast(centroid), Seq("j"), "left")
      .groupBy("doc_id")
      .agg(sum(col("v") * coalesce(col("cj"), lit(0L))).as("affinity"))
    val topK = scored
      .orderBy(col("affinity").desc, col("doc_id"))
      .limit(k)
    // constPartitionKey: the rank window runs on the k post-limit rows —
    // already a single partition, no exchange added; it only keeps
    // WindowExec's single-partition WARN out of the bench stdout (see
    // Scalars.constPartitionKey; the q128 shape).
    topK.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.Scalars.constPartitionKey(col("doc_id")))
          .orderBy(col("affinity").desc, col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "affinity")
      .orderBy("rank")
  }

  /** DSIR-style hashed-feature target affinity — data selection toward
    * a target domain (Xie et al., "Data Selection for Language Models
    * via Importance Resampling"): features are hashed unigram + bigram
    * occurrences (DSIR's hashed n-grams, n ≤ 2; bigrams contain a space
    * so the two feature kinds cannot collide pre-hash), and each corpus
    * document scores the RATIO of its mean feature rate under the
    * target sample vs under the raw corpus:
    * `affinity = (Σ_b c_b·t_b / T) / (Σ_b c_b·r_b / R)` — the log-free
    * monotone surrogate for the DSIR log-importance weight (q69/q80
    * no-ln discipline: all-integer sufficient statistics, one double
    * expression at the end, identical op order in both engines).
    * Resample/top-k on `affinity` to skew a corpus toward the target.
    *
    * Shape at 100 TB: the bucket tables are bounded by `numBuckets`
    * REGARDLESS of corpus size — both broadcast by construction; the
    * raw distribution reuses the per-doc bucket counts (a second-level
    * partial agg, no second corpus scan); totals ride a 1-row
    * broadcast; the only corpus-scale shuffles key on (doc_id, b) and
    * doc_id. `sum_ct`/`sum_cr` stay exact in BIGINT up to ~10^18
    * (per-bucket target counts × doc length); beyond that, flip the
    * sums to DOUBLE and accept last-ulp drift. */
  def targetAffinity(corpus: DataFrame, target: DataFrame,
      numBuckets: Int = 4096): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val featureBucket = // hashed unigram+bigram occurrences, one row each
      s"""transform(
         |  concat(tk, CASE WHEN size(tk) > 1
         |    THEN transform(sequence(0, size(tk) - 2), i -> tk[i] || ' ' || tk[i + 1])
         |    ELSE CAST(array() AS ARRAY<STRING>) END),
         |  f -> pmod(${h60x("f")}, ${numBuckets}L))""".stripMargin
    def bucketRows(documents: DataFrame): DataFrame =
      tokenized(documents)
        .select(col("doc_id"), explode(expr(featureBucket)).as("b"))
    val docBuckets = bucketRows(corpus)
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val rawBuckets = docBuckets.groupBy("b").agg(sum("c").as("r"))
    val tgtBuckets = bucketRows(target).groupBy("b").agg(count(lit(1)).as("t"))
    val totals = tgtBuckets.agg(sum("t").as("tot_t"))
      .crossJoin(rawBuckets.agg(sum("r").as("tot_r")))
    docBuckets
      .join(broadcast(tgtBuckets), Seq("b"), "left")
      .join(broadcast(rawBuckets), Seq("b")) // inner: raw derives from docBuckets
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * coalesce(col("t"), lit(0L))).as("sum_ct"),
        sum(col("c") * col("r")).as("sum_cr"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_feats"), col("sum_ct"), col("sum_cr"),
        ((col("sum_ct").cast("double") * col("tot_r").cast("double"))
          / (col("sum_cr").cast("double") * col("tot_t").cast("double")))
          .as("affinity"))
  }

  /** Per-document duplicated-n-gram fraction — the Gopher-style
    * repetition filter: the share of a document's n-gram OCCURRENCES
    * whose gram appears at least twice within the document (boilerplate,
    * chorus text, and degenerate generations score high). All-integer
    * counts plus one final double division, so both engines agree
    * bit-for-bit.
    *
    * Shape at 100 TB: explode all (non-distinct) n-grams → two
    * partial-agg groupBys on doc-bounded keys (same shape as
    * [[topTokenShare]]) → broadcast-free left join back to documents so
    * gram-less docs (< n tokens) still appear with zero counts. */
  def dupNgramStats(documents: DataFrame, n: Int = 3): DataFrame = {
    val agg = tokenized(documents)
      .select(col("doc_id"), explode(expr(s"ngram_shingles(tk, $n)")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("a_grams"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("a_dup"))
    documents.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("a_grams"), lit(0L)).as("n_grams"),
        coalesce(col("a_dup"), lit(0L)).as("n_dup_grams"),
        when(col("a_grams") > 0L,
          col("a_dup").cast("double") / col("a_grams")).as("dup_ratio"))
  }

  /** Per-document top-k rare-term salience — TF-IDF's ranking without
    * the logarithm (`ln` is not bit-stable cross-engine; the RANK under
    * tf·N/df equals the rank under tf·ln(N/df) whenever df ties break
    * the same way, and the score itself is one integer product and one
    * double division, both IEEE-exact). N is the corpus document count,
    * df the number of documents containing the term.
    *
    * Shape at 100 TB: (doc, term) tf groupBy, MATERIALIZED once
    * (`localCheckpoint`, the [[graft.operators.DedupOps.componentKeepers]]
    * precedent — Spark reuses no common subplans, so without it the df
    * pass would re-execute the whole explode+aggregate subtree). df is
    * then a partial-agg `groupBy(t).count()` joined back on the term
    * key. A COUNT window over the term key (the round-4 shape) put every
    * tf row of a term into ONE window partition — a stop-term ("the")
    * has df ≈ N_docs, billions of rows into a single partition, and AQE
    * cannot split skewed WINDOW partitions. The groupBy's map-side
    * combine collapses the hot term to one row per map partition, and
    * the join-back is an equi-join, which AQE skew-split CAN divide.
    * Then the 1-row corpus count broadcast (a bounded
    * BroadcastNestedLoopJoin by construction) and the per-doc top-k
    * window (doc_id is high-cardinality and WindowGroupLimit bounds it).
    * Ties break (score desc, term asc) — deterministic. */
  def rareTerms(documents: DataFrame, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = tokenized(documents)
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("t").asc)
    tf.join(df, "t")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select("doc_id", "rk", "t", "tf", "df", "score")
  }

  /** PII-pattern redaction: replace email addresses and long digit runs
    * (IDs, phone-ish numbers) with typed placeholders, counting each.
    * Pattern syntax is the Java≡RE2 common subset (greedy character
    * classes, no lookaround, no backreferences — the q58 discipline), so
    * the DuckDB oracle replays it exactly. The passes are ORDERED —
    * emails first — and each pattern's count is taken over the text THAT
    * PASS actually sees, so counts always equal placements (a digit run
    * inside an email is part of the email redaction, not a number).
    * Single-pass by design: pathological adjacent PII ('a@b.co@c.io')
    * can leave residual matchable text after the first replacement, the
    * standard regexp_replace resume-after-match semantic — a fixpoint
    * loop is a policy choice layered above, not this operator. Per-row,
    * codegen'd, shuffle-free. A real deployment swaps in its full
    * pattern battery; the contract (ordered passes, counts-as-seen,
    * placeholder text) is what the operator pins. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumRe = "[0-9]{6,}"

  def redacted(documents: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    // Column-API regexp_count: same count as size(regexp_extract_all)
    // without materializing every match string per row (reviewed round
    // 4); Column API also keeps the pattern's backslashes out of SQL
    // string-literal escaping
    documents
      .withColumn("n_emails", regexp_count(t, lit(EmailRe)).cast("long"))
      .withColumn("redacted_email", regexp_replace(t, EmailRe, "<EMAIL>"))
      .withColumn("n_long_numbers",
        regexp_count(col("redacted_email"), lit(LongNumRe)).cast("long"))
      .withColumn("redacted_text",
        regexp_replace(col("redacted_email"), LongNumRe, "<NUM>"))
      .drop("redacted_email")
  }

  /** Split each document's token stream into fixed-size chunks with a
    * fixed stride (overlap = chunkSize − stride) — the context-window
    * chunking step before tokenized training data is packed. One output
    * row per (doc, chunk). Per-row narrow fan-out (posexplode over the
    * arithmetic start sequence + slice), no shuffle — scales with input
    * splits. */
  def chunked(documents: DataFrame, chunkSize: Int = 64,
      stride: Int = 48): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    tokenized(documents)
      .select(col("doc_id"), col("tk"),
        posexplode(expr(s"sequence(0, greatest(size(tk) - 1, 0), $stride)"))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"slice(tk, start + 1, $chunkSize)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Max-passage BM25 retrieval — the RAG-stack refinement of
    * [[bm25TopK]]: long documents dilute whole-document BM25 (length
    * normalization punishes them even when one PASSAGE answers the
    * query), so production retrieval scores fixed token chunks
    * ([[chunked]]'s windows) and ranks each document by its BEST chunk
    * (the classic max-passage rule). Output: top-`k` documents with
    * the winning chunk index and its ppm score — the caller feeds
    * (doc, chunk) straight to a reader model.
    *
    * Determinism: the q142 discipline verbatim at chunk granularity —
    * rational log-free IDF over CHUNK document-frequency, per-term
    * scores floored to BIGINT ppm before the order-free cross-term
    * sum; the per-doc winner is a `max(struct(score, -chunk_idx))`
    * partial agg (best score, earliest chunk on ties).
    *
    * Shape at 100 TB: the stride explode is narrow (×len/stride rows
    * but only (doc, chunk, term-hits) survive the IN filter at the
    * scan); df and totals are |terms|-row and 1-row broadcasts; the
    * two corpus-keyed partial aggs ((chunk, term) tf and the per-doc
    * winner) both map-side combine; top-k plans TakeOrderedAndProject. */
  def bm25MaxPassageTopK(documents: DataFrame, terms: Seq[String],
      chunkSize: Int = 64, stride: Int = 48, k1: Double = 1.2,
      b: Double = 0.75, k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val inList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    val chunks = chunked(documents, chunkSize, stride)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        col("chunk_text"))
    val lens = chunks.select(col("doc_id"), col("chunk_idx"),
      col("n_chunk_tokens").as("len"))
    val toks = chunks
      .select(col("doc_id"), col("chunk_idx"),
        explode(split(col("chunk_text"), " ")).as("term"))
      .filter(expr(s"term IN ($inList)"))
    val tf = toks.groupBy("doc_id", "chunk_idx", "term")
      .agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "chunk_idx", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val totals = lens.agg(count(lit(1)).as("n_chunks"),
      sum(col("len")).as("total_len"))
    tf
      .join(broadcast(df), Seq("term"))
      .join(lens, Seq("doc_id", "chunk_idx"))
      .crossJoin(broadcast(totals))
      .withColumn("score_ppm", expr(
        s"""CAST(floor(
           |  ((CAST(n_chunks AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
           |    / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
           |  * (CAST(tf AS DOUBLE) * (CAST($k1 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
           |  / (CAST(tf AS DOUBLE) + CAST($k1 AS DOUBLE)
           |     * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)
           |        + CAST($b AS DOUBLE) * (CAST(len AS DOUBLE)
           |          / (CAST(total_len AS DOUBLE) / CAST(n_chunks AS DOUBLE)))))
           |  * CAST(1000000.0 AS DOUBLE)) AS BIGINT)""".stripMargin))
      .groupBy("doc_id", "chunk_idx")
      .agg(sum(col("score_ppm")).as("score_ppm"))
      .groupBy("doc_id")
      .agg(max(struct(col("score_ppm"), (-col("chunk_idx")).as("neg_ci"))).as("best"))
      .select(col("doc_id"), (-col("best.neg_ci")).as("chunk_idx"),
        col("best.score_ppm").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(graft.functions.Scalars.constPartitionKey(col("doc_id")))
          .orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "chunk_idx", "score_ppm")
  }

  /** (doc_id, lines) view of a corpus: each document's token stream cut
    * into consecutive `lineTokens`-token lines (the driver corpus ships
    * newline-free, so the "line" structure is the fixed token window —
    * callers with real newline-delimited text pass their own
    * `split(text, '\n')` frame straight to [[stripBoilerplateLines]]).
    * Per-row narrow transform, no shuffle. */
  def linesOf(documents: DataFrame, lineTokens: Int = 8,
      keep: Seq[String] = Nil): DataFrame = {
    require(lineTokens >= 1, s"lineTokens must be >= 1, got $lineTokens")
    tokenized(documents).select(col("doc_id") +: keep.map(col) :+ expr(
      s"""CASE WHEN size(tk) = 0 THEN CAST(array() AS ARRAY<STRING>)
         |ELSE transform(sequence(0, CAST(ceil(size(tk) / ${lineTokens}.0) AS INT) - 1),
         |  i -> array_join(slice(tk, i * $lineTokens + 1, $lineTokens), ' ')) END"""
        .stripMargin).as("lines"): _*)
  }

  /** CCNet-style boilerplate line removal (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * 2020 — the per-line dedup that strips navigation chrome, cookie
    * banners and share footers BEFORE document-level dedup ever sees
    * them): a line whose exact text occurs in at least `minDf` DISTINCT
    * documents is boilerplate; every occurrence is dropped and each
    * document is re-assembled from its surviving lines in original
    * order.
    *
    * Input: `(doc_id, lines array<string>)` (e.g. [[linesOf]], or a
    * real newline split). Output per document: `n_lines`, `n_kept`,
    * `n_dropped`, `clean_text` (kept lines '\n'-joined; empty string
    * when everything was boilerplate).
    *
    * Shape at 100 TB: posexplode → line-keyed partial-agg df census
    * (map-side combine collapses each line to one row per partition
    * before the shuffle) → left-anti join of the exploded lines against
    * the `df >= minDf` set → per-doc re-assembly keyed on doc_id. The
    * boilerplate set is DATA-DEPENDENT and can be huge on a crawl (every
    * shared footer on the web), so the anti-join is deliberately NOT
    * broadcast-hinted — AQE picks broadcast when the set is small and
    * falls back to a shuffled join when it is not (the q36/q77/q78
    * broadcast-trap lesson). Line equality joins on the line text
    * itself; at petabyte scale swap the join key for `h60(line)` to
    * thin the shuffle (the census is already per-line-distinct so the
    * collision risk is the usual 60-bit budget). */
  def stripBoilerplateLines(docLines: DataFrame, minDf: Int = 5): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    // posexplode_OUTER so a zero-line document survives to the output
    // (its null row counts as no line); ONE exploded derivation feeds
    // both the census and the rebuild — the first cut re-derived the
    // lines expression in three branches (base count, kept side, census)
    // and CollapseProject re-inlined it twice more into a pre-join
    // filter: 5 evaluations of the tokenize+chunk subtree per scan.
    val ex = docLines.select(col("doc_id"),
      posexplode_outer(col("lines")).as(Seq("pos", "line")))
    val boiler = ex.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("line"), lit(true).as("is_bp"))
    ex.join(boiler, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(count(col("pos")).as("n_lines"),
        sum(when(col("is_bp").isNull && col("pos").isNotNull, 1L)
          .otherwise(0L)).as("n_kept"),
        // collect_list skips nulls: boilerplate and the outer-explode
        // null row drop out, survivors sort by original position
        expr("""array_join(transform(
                |  array_sort(collect_list(CASE WHEN is_bp IS NULL AND pos IS NOT NULL
                |    THEN struct(pos, line) END)), s -> s.line), '\n')"""
          .stripMargin).as("clean_text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_dropped"), col("clean_text"))
  }

  /** Greedy sequence packing: stream each language's documents in
    * doc_id order and assign every document the training bin it starts
    * in, given a token budget per bin — the exclusive running token sum
    * divided by the budget (the standard concat-then-chunk packing:
    * documents may straddle bins; `bin_offset` says where each starts).
    *
    * Scale shape: ONE window per language partition (running sum over a
    * distributed partitioning — not a global single-partition window).
    * Parallelism is bounded by the stratum count; at corpus scale pass
    * `shardSpan` and packing runs over (lang, shard) sub-streams with
    * `shard = doc_id div shardSpan` — each shard is an independent
    * stream that packs into its own bins (exactly how distributed
    * packing jobs ship: a shard's result equals packing that shard's
    * documents alone, so shards never wait on each other and the window
    * parallelism becomes strata × shards). Integer-exact in both
    * engines. Output gains a `shard` column only in sharded mode; the
    * default single-stream output is unchanged. */
  def packSequences(documents: DataFrame, tokenBudget: Long = 512L,
      shardSpan: Option[Long] = None): DataFrame = {
    shardSpan.foreach(s => require(s >= 1L, s"shardSpan must be >= 1, got $s"))
    val partSpec = if (shardSpan.isDefined) "lang, shard" else "lang"
    val packed = tokenized(documents)
      .select(col("doc_id"), col("lang"), size(col("tk")).cast("long").as("n_tokens"))
      .withColumn("shard",
        shardSpan.map(s => expr(s"doc_id div ${s}L")).getOrElse(lit(0L)))
      .withColumn("cum_excl",
        expr(s"""sum(n_tokens) OVER (PARTITION BY $partSpec ORDER BY doc_id
                |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin))
      .withColumn("cum_excl", coalesce(col("cum_excl"), lit(0L)))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        expr(s"cum_excl div ${tokenBudget}L").as("bin"),
        expr(s"cum_excl % ${tokenBudget}L").as("bin_offset"))
    if (shardSpan.isDefined) packed else packed.drop("shard")
  }

  /** Packing-efficiency report over [[packSequences]]' greedy binning,
    * per language stream: bins consumed (exactly ceil(total/budget) —
    * greedy cum-sum packing is contiguous, so only the tail bin is
    * partial), fill rate, and the two numbers that decide whether
    * greedy is good enough: how many documents CROSS a bin boundary
    * (split cost at training time — a high fraction argues for
    * best-fit binning) and how many exceed the budget outright (must
    * be chunked first — see [[chunked]]). All-integer aggregates plus
    * one double division; ≤ |langs| output rows. */
  def packingReport(documents: DataFrame,
      tokenBudget: Long = 512L): DataFrame = {
    require(tokenBudget >= 1L, s"tokenBudget must be >= 1, got $tokenBudget")
    packSequences(documents, tokenBudget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_doc_tokens"),
        sum(expr(s"CASE WHEN bin_offset + n_tokens > ${tokenBudget}L THEN 1L ELSE 0L END"))
          .as("n_split_docs"),
        sum(expr(s"CASE WHEN n_tokens > ${tokenBudget}L THEN 1L ELSE 0L END"))
          .as("n_over_budget"))
      .withColumn("n_bins",
        expr(s"(total_tokens + ${tokenBudget - 1}L) div ${tokenBudget}L"))
      .withColumn("fill_rate", expr(
        s"CAST(total_tokens AS DOUBLE) / (CAST(n_bins AS DOUBLE) * CAST($tokenBudget AS DOUBLE))"))
  }

  /** Rolling polynomial fingerprint over the token stream (order-
    * sensitive, init 7, mod 1e9+7). Cross-engine-exact: all int64 ops.
    * Runs in the native [[graft.functions.PolyFingerprint]] expression —
    * one fused md5+fold loop per row; the previous
    * `aggregate(transform(tk, t -> h60 % 1000003), ...)` form hashed
    * every token through the interpreted HOF evaluator. */
  def fingerprinted(documents: DataFrame): DataFrame = {
    tokenized(documents).withColumn("fingerprint", expr("poly_fingerprint(tk)"))
  }

  /** SimHash over the distinct-token set: per bit, a ±1 vote from each
    * token's h60; bit set iff the vote sum is non-negative. `nBits` up to
    * 60 — the h60 token hash carries exactly 60 meaningful bits, so
    * every voted bit position can actually vary (bits ≥ 60 of a 64-bit
    * variant would be constant-0 dead weight).
    *
    * The bit-vote runs in the native codegen'd
    * [[graft.functions.SimHashBits]] expression (exact integer replay of
    * the nested-aggregate formulation the DuckDB oracle keeps). The
    * round-1 nested HOF was the worst query in the honest bench (~12 s at
    * sf0.1): interpreted lambdas, and CollapseProject re-inlined the `hs`
    * md5 column into all 32 bit lambdas — md5 × 32 per token. Here md5
    * runs once per distinct token and the nBits×n vote is a fused loop. */
  def simhashed(documents: DataFrame, nBits: Int = 32): DataFrame = {
    require(nBits >= 1 && nBits <= 60,
      s"nBits must be in [1,60] (h60 hashes have 60 meaningful bits), got $nBits")
    tokenized(documents)
      .withColumn("simhash", expr(
        s"simhash_bits(transform(array_distinct(tk), t -> ${h60x("t")}), $nBits)"))
  }

  /** Distributed BPE merge induction (Sennrich et al. 2016, the
    * word-level symbol variant): `rounds` iterations of
    * count-adjacent-pairs → argmax (count desc, pair asc) → merge every
    * greedy-leftmost occurrence corpus-wide. Returns the learned merge
    * table (round, lhs, rhs, cnt) — merged symbols join with `~`, so
    * later rounds' lhs/rhs expose the merge hierarchy. Character-level
    * BPE is this same loop after pre-splitting text to one codepoint per
    * token; the induction is representation-agnostic.
    *
    * Spark shape: each round is ONE partial-aggregable pair count (the
    * native codegen'd `ngram_shingles(tk, 2)` emits adjacent pairs with
    * no shuffle) + a 1-row argmax + a narrow per-doc merge pass with the
    * winning pair riding a 1-row broadcast (never a driver collect —
    * the k-means centroid discipline). The merge itself is plain
    * `replace` on a marker-wrapped form: each token is wrapped `·t·`, so
    * pair occurrences never share characters and both engines' leftmost
    * non-overlapping replace IS greedy BPE merging ("a a a" merges the
    * first two). Per-round `localCheckpoint` keeps plan depth flat.
    *
    * Precondition (spec-asserted, not scanned at scale): corpus text
    * must not contain the marker `·` (U+00B7) or joiner `~`. */
  def bpeMerges(documents: DataFrame, rounds: Int = 4): DataFrame =
    bpeRounds(documents, rounds, applyLast = false)._1.orderBy("round")

  /** The shared induction loop behind [[bpeMerges]] (merge table) and
    * [[bpeEncode]] (encoded corpus): returns (merges, rewritten text).
    * `applyLast` controls whether the final round's winning pair is
    * applied to the text — induction alone can skip that corpus pass. */
  private def bpeRounds(documents: DataFrame, rounds: Int,
      applyLast: Boolean): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 12,
      s"rounds must be in [1,12] (each round is a corpus pass), got $rounds")
    var text = documents.select(col("doc_id"), col("text"))
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val best = tokenized(text)
        .select(explode(expr("ngram_shingles(tk, 2)")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("cnt"))
        // tokens never contain spaces, so the 2-gram "lhs rhs" splits
        // back unambiguously even after earlier `~` merges
        .select(lit(r.toLong).as("round"),
          expr("split(g, ' ')[0]").as("lhs"),
          expr("split(g, ' ')[1]").as("rhs"), col("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .localCheckpoint()
      merges = if (merges == null) best else merges.unionByName(best)
      if (r < rounds || applyLast) {
        text = text
          .crossJoin(broadcast(best.select("lhs", "rhs")))
          .withColumn("text", expr(
            "replace(replace(concat('·', replace(text, ' ', '· ·'), '·'), " +
              "concat('·', lhs, '· ·', rhs, '·'), " +
              "concat('·', lhs, '~', rhs, '·')), '·', '')"))
          .select("doc_id", "text")
          .localCheckpoint()
      }
    }
    (merges, text)
  }

  /** BPE encode = [[bpeMerges]] induction plus the application pass the
    * tokenizer-training job ships with: every document rewritten with
    * ALL `rounds` learned merges (greedy-leftmost, the same
    * marker-wrapped replace), plus the readout a corpus owner checks
    * before committing a vocabulary — original whitespace token count,
    * post-merge symbol count, how many symbols are merged (contain the
    * `~` joiner), and the integer compression rate in ppm
    * (`n_symbols·10⁶ div n_tokens`; 1e6 = nothing merged).
    *
    * Scale shape: identical to [[bpeMerges]] — per round ONE
    * partial-agg pair count + a 1-row broadcast merge pass — plus one
    * final narrow per-row census of the encoded text. The `rounds ≤ 12`
    * bound is the corpus-pass budget, not a semantic limit. */
  def bpeEncode(documents: DataFrame, rounds: Int = 4): DataFrame = {
    val encoded = bpeRounds(documents, rounds, applyLast = true)._2
    encoded
      .withColumn("sp", split(col("text"), " "))
      .select(col("doc_id"),
        // each symbol "a~b~c" came from 3 original tokens (corpus text
        // never contains the joiner — bpeMerges' spec-pinned precondition)
        expr("aggregate(sp, 0L, (a, x) -> a + CAST(size(split(x, '~')) AS BIGINT))")
          .as("n_tokens"),
        expr("CAST(size(sp) AS BIGINT)").as("n_symbols"),
        expr("CAST(size(filter(sp, x -> contains(x, '~'))) AS BIGINT)")
          .as("n_merged"),
        col("text").as("encoded_text"))
      .withColumn("compression_ppm",
        expr("n_symbols * 1000000L div n_tokens"))
      .select("doc_id", "n_tokens", "n_symbols", "n_merged",
        "compression_ppm", "encoded_text")
  }

  /** Per-LANGUAGE tokenizer-efficiency rollup over [[bpeEncode]] — the
    * multilingual-fairness datasheet (the "tokenizer parity" readout in
    * multilingual tokenizer comparisons: which language pays more
    * symbols per byte under one shared vocabulary). Per language:
    * document/token/symbol/merge totals, `compression_ppm`
    * (Σ symbols · 10⁶ div Σ tokens — corpus-level, NOT the mean of
    * per-doc ratios) and `bytes_per_symbol_ppm` (UTF-8 bytes of the
    * ORIGINAL text per post-merge symbol — the cost a context window
    * actually pays).
    *
    * Scale shape: [[bpeEncode]]'s (per round one partial-agg pair count
    * + a 1-row broadcast merge, all inside localCheckpoint jobs) plus
    * ONE doc-keyed equi-join of two NARROW tables (the per-doc census
    * vs (doc_id, lang, n_bytes)) and a |langs|-key partial agg. */
  def bpeLangFertility(documents: DataFrame, rounds: Int = 4): DataFrame = {
    val enc = bpeEncode(documents, rounds)
      .select(col("doc_id"), col("n_tokens"), col("n_symbols"), col("n_merged"))
    val base = documents.select(col("doc_id"), col("lang"),
      octet_length(col("text")).cast("long").as("n_bytes"))
    enc.join(base, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_symbols")).as("n_symbols"),
        sum(col("n_merged")).as("n_merged"),
        sum(col("n_bytes")).as("n_bytes"))
      // zero guards (round-11 advice): a degenerate language partition of
      // symbol-free docs makes Spark's `div` yield NULL while the DuckDB
      // oracle's `//` errors — the explicit 0 branch keeps both engines on
      // one defined value (the ngramNovelty n_grams = 0 pattern).
      .withColumn("compression_ppm", expr(
        "CASE WHEN n_tokens = 0L THEN 0L ELSE n_symbols * 1000000L div n_tokens END"))
      .withColumn("bytes_per_symbol_ppm", expr(
        "CASE WHEN n_symbols = 0L THEN 0L ELSE n_bytes * 1000000L div n_symbols END"))
  }

  /** Encoding-quality flags: the byte-level hygiene pass a crawl corpus
    * runs BEFORE any tokenizer or LM sees the text — U+FFFD replacement
    * characters (a decoder already gave up), C0 control characters
    * (binary contamination), and the two classic UTF-8-read-as-Latin-1
    * mojibake signatures ('Ã' lead bytes: any non-ASCII Latin-1
    * codepoint double-decoded; 'â€' prefixes: mangled punctuation from
    * the U+2018–U+201D range), plus non-ASCII / whitespace / digit
    * ratios. `keep` is the conjunctive gate.
    *
    * All counts are `length`-difference or `regexp_count` over
    * LITERAL-character classes — the pattern strings are byte-identical
    * in the Spark plan and the DuckDB oracle (no escape-sequence
    * dialect to disagree on), every ratio divides explicitly-cast
    * DOUBLEs. Pure per-row narrow transforms: no shuffle, scales
    * linearly with input splits. */
  def encodingQuality(documents: DataFrame): DataFrame = {
    // all seven counters in ONE native code-point walk (round 7: the
    // nine-pass form — four length(replace) diffs + three regexp_count
    // runs — was q104's whole cost and the worst wall ratio in the 10×
    // smoke); the ratio/keep arithmetic below is unchanged, so results
    // stay bit-identical to the regex form the DuckDB oracle keeps
    // (spec-pinned per counter, including astral chars)
    def ratio(c: String) =
      s"CASE WHEN es.n > 0 THEN CAST($c AS DOUBLE) / CAST(es.n AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
    documents
      .withColumn("es", expr("encoding_stats(text)"))
      .select(
        col("doc_id"),
        expr("es.n").as("n_chars_text"),
        expr("es.repl").as("repl_chars"),
        expr("es.ctrl").as("ctrl_chars"),
        expr("es.moji").as("mojibake_hits"),
        expr("es.non_ascii").as("non_ascii"),
        expr(ratio("es.non_ascii")).as("non_ascii_ratio"),
        expr(ratio("es.spaces")).as("ws_ratio"),
        expr(ratio("es.digits")).as("digit_ratio"),
        expr("es.repl = 0 AND es.ctrl = 0 AND es.moji = 0" +
          s" AND ${ratio("es.non_ascii")} <= CAST(0.5 AS DOUBLE)").as("keep"))
  }

  /** C0 controls minus HT/LF/CR (legitimate whitespace): as literal
    * characters, so the class is escape-dialect-free in both engines. */
  private[graft] val ctrlClass: String =
    "\u0001-\u0008\u000b\u000c\u000e-\u001f"

  /** U+0001-U+007F, the complement of the non-ASCII count (NUL excluded
    * so the literal class stays regex-safe in both engines). */
  private[graft] val asciiClass: String = "\u0001-\u007f"

  /** Count-Min heavy-hitter census: the exact token top-`topK` joined
    * against the [[graft.functions.CmsSketch]] point estimates, with
    * the measured overcount — the calibration a pipeline reads before
    * trusting the 8-KiB sketch as its frequency oracle (df-cap shingle
    * pruning, stop-word discovery, heavy-hitter gates).
    *
    * Spark shape: the corpus-wide sketch is ONE partial-aggregable
    * `cms_sketch` pass — per-partition buffers merge map-side and a
    * single fixed-size array crosses the shuffle; the exact top-k
    * plans as TakeOrderedAndProject (per-partition heaps, never a
    * global sort); the 1-row sketch rides a broadcast nested-loop
    * join bounded by construction (topK × 1). Estimates are plain
    * `element_at`/`least` over the counter array — identical
    * arithmetic to the oracle's GROUP-BY replay. At 100 TB the exact
    * top-k side is the expensive half (it shuffles the vocabulary);
    * the census exists to certify the sketch so later passes can skip
    * exactly that shuffle. */
  def cmsTokenCensus(documents: DataFrame, topK: Int = 20): DataFrame = {
    import graft.functions.CmsSketch
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // ONE corpus scan (round-6 verdict item 5): both the sketch and the
    // exact top-k derive from the same exact (token, count) aggregate.
    // The weighted update cms_sketch(t, c) over grouped counts is
    // IDENTICAL to unit updates over the raw token stream (buckets
    // depend only on the token; += c ≡ c unit increments), and the two
    // consumers share the groupBy's shuffle via ReuseExchange — the
    // tokenize+explode subtree executes once instead of twice (13.9 s →
    // the vocabulary-sized tail). At 100 TB the sketch side now reads
    // the vocabulary, not the corpus.
    val counts = tokenized(documents).select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("exact_c"))
    val sketch = counts.agg(expr("cms_sketch(t, exact_c)").as("cms"))
    val top = counts
      .orderBy(col("exact_c").desc, col("t").asc)
      .limit(topK)
    top.crossJoin(broadcast(sketch))
      .select(col("t"), col("exact_c"),
        CmsSketch.estimateCol(col("cms"), col("t")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("exact_c"))
      .orderBy(col("exact_c").desc, col("t").asc)
  }

  /** Corpus-datasheet frequency spectrum — the Zipf/Heaps health readout
    * a curator checks before trusting token statistics at all: how many
    * distinct types sit in each ⌊log₂(frequency)⌋ bucket, and what token
    * mass each bucket carries. A natural-language corpus shows the Zipf
    * signature (types per bucket falling ~geometrically, mass spread
    * across buckets); template/boilerplate spam collapses the spectrum
    * into few buckets, and OCR noise inflates the f=1 bucket. The Heaps
    * point (`total_types` vs `total_tokens`, constant on every row)
    * tracks vocabulary growth across corpus snapshots.
    *
    * All-integer by design (the q69 no-ln discipline): the log₂ bucket
    * is `length(bin(c)) - 1` — the binary digit count, EXACT in both
    * engines, never a floating log that could flip at a power-of-two
    * boundary.
    *
    * Shape at 100 TB: token counts are a vocab-keyed two-level partial
    * aggregation (map-side combine); the spectrum re-aggregates the
    * VOCABULARY (≪ corpus) into ≤ 64 bucket rows. The corpus totals are
    * derived FROM those 64 rows (Σ n_occ, Σ n_types) — never from a
    * second corpus pass — so the plan reads the corpus exactly once;
    * the 64-row spectrum is localCheckpointed for its two consumers
    * (without it each one re-runs the corpus tokenize+agg — the q69 tf
    * discipline, at 1/10⁶ the materialized size). */
  def zipfSpectrum(documents: DataFrame): DataFrame = {
    val spec = tokenized(documents).select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .select((length(bin(col("c"))) - 1).cast("long").as("bucket"), col("c"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_occ"))
      .localCheckpoint()
    val tot = spec.agg(sum(col("n_occ")).as("total_tokens"),
      sum(col("n_types")).as("total_types"))
    spec.crossJoin(broadcast(tot))
      .withColumn("occ_share_ppm", expr("n_occ * 1000000L div total_tokens"))
      .select("bucket", "n_types", "n_occ", "total_tokens", "total_types",
        "occ_share_ppm")
  }

  /** Per-document n-gram NOVELTY in corpus order — what fraction of a
    * document's distinct n-grams appear here for the FIRST time (no
    * earlier doc_id contains them). The curriculum/ordering readout: a
    * freshness curve that decays as the corpus saturates, and a per-doc
    * redundancy signal that, unlike pairwise dedup, charges a document
    * for content spread across MANY earlier documents (a mosaic of
    * copied fragments scores near-zero novelty yet pairs with nobody).
    * [[graft.operators.DedupOps]]'s pair detectors answer "which two
    * docs match"; this answers "what does each doc add".
    *
    * Output per document: `n_grams` (distinct), `n_novel` (first-seen
    * here), `novelty_ppm` (integer ppm; 0 for gram-less docs).
    *
    * Shape at 100 TB: `n_grams` is `size(sh)` — PER-ROW, no explode, no
    * shuffle (the first cut aggregated the exploded rows back by doc_id,
    * a whole second corpus-wide shuffle for a number the array already
    * knows; its 10× smoke read 8.4×). First-occurrence attribution is
    * `min(doc_id)` per gram — a gram-keyed PARTIAL aggregation
    * (map-side combine, skew-proof: a million-occurrence boilerplate
    * gram collapses per-partition before the shuffle) over `h60(gram)`
    * LONGS, not ~25-byte gram strings (the q38 hashed-shingle lesson —
    * same 60-bit collision budget, both engines hash identically so the
    * oracle replays bit-exact). The winner census re-aggregates by its
    * OWN winner column — no gram-level join back to the corpus. */
  def ngramNovelty(documents: DataFrame, n: Int = 3): DataFrame = {
    val sh = shingled(documents, n)
    val nG = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
    val rows = sh.select(col("doc_id"), explode(col("sh")).as("g0"))
      .select(col("doc_id"), expr("h60(g0)").as("g"))
    val nN = rows.groupBy("g").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    nG.join(nN, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr(
        "CASE WHEN n_grams = 0 THEN 0L ELSE n_novel * 1000000L div n_grams END"))
  }

  /** Quality-classifier TRAINING — the half of the fastText/DCLM
    * model-based filter the registry did not yet cover (inference is
    * q138's hashed linear scorer): a BATCH perceptron over
    * hashed bag-of-words features, all-integer, so the full weight
    * TRAJECTORY replays bit-exact in the oracle as unrolled CTE rounds
    * (the q102/q112 iterative-algorithm discipline). Features are
    * h60(token) mod `buckets` counts (the hashing trick, q99/q138's
    * feature space); the label is `lang = 'en'` → +1 else −1 (a real,
    * learnable signal: English function words concentrate in a few
    * buckets). Per epoch: score every document against the CURRENT
    * weights, and add `y·x` of every misclassified document (margin
    * y·⟨w,x⟩ ≤ 0, ties update) to the weights — batch subgradient
    * descent on the perceptron loss with unit rate, the parallel form
    * of the classic sequential rule (deterministic: updates sum, order
    * cannot matter). Epoch 1 needs no scoring join: w₀ = 0 means every
    * margin is 0, so w₁ is simply Σ y·x over the corpus.
    *
    * Output: one row per OCCUPIED bucket with the weight after each
    * epoch (`w1 … w<epochs>`) — the trajectory, not just the fixed
    * point, so the oracle pins every round.
    *
    * Shape at 100 TB: per epoch ONE doc-keyed aggregation (the scoring
    * pass — the feature table joins the ≤`buckets`-row weight table by
    * BROADCAST, then combines map-side) + one ≤`buckets`-key partial
    * agg for the update + one corpus semi-join on doc_id for the
    * misclassified filter; weights never exceed `buckets` rows, and
    * epochs are a fixed small constant. The feature table is built
    * ONCE and localCheckpointed (the q112/q150 post-checkpoint
    * discipline): it is the compact post-agg form — ≤ `buckets` rows
    * of four longs per document, a small fraction of the text it
    * summarizes, NOT a corpus-sized explode — and every epoch's
    * lineage would otherwise re-embed the whole build (5 logical
    * references planned 15 subtrees before the checkpoint). No
    * collect: weights stay DataFrames end to end. */
  def perceptronTrain(documents: DataFrame, buckets: Int = 64,
      epochs: Int = 3): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(epochs >= 1 && epochs <= 8, s"epochs must be in [1, 8], got $epochs")
    // plain space-split (not [[tokenized]]'s CJK shim) — the oracle
    // replays string_split verbatim, the q138 tokenize contract
    val fy = documents
      .select(col("doc_id"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(-1L)).as("y"),
        explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), col("y"), expr(s"h60(t) % ${buckets}L").as("bucket"))
      .groupBy("doc_id", "y", "bucket").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // each epoch's weights checkpoint too (≤ buckets rows — trivial jobs,
    // the q112 per-round pattern): epoch e's lineage would otherwise
    // re-embed every earlier epoch's scoring pass on each reference
    var w = fy.groupBy("bucket").agg(sum(col("y") * col("cnt")).as("w"))
      .localCheckpoint()
    var out = w.select(col("bucket"), col("w").as("w1"))
    for (e <- 2 to epochs) {
      val scored = fy.join(broadcast(w), Seq("bucket"))
        .groupBy("doc_id")
        .agg(max(col("y")).as("y"), sum(col("cnt") * col("w")).as("s"))
      val mis = scored.filter(col("y") * col("s") <= 0L).select("doc_id")
      val delta = fy.join(mis, Seq("doc_id"), "left_semi")
        .groupBy("bucket").agg(sum(col("y") * col("cnt")).as("dw"))
      w = w.join(broadcast(delta), Seq("bucket"), "left")
        .select(col("bucket"), (col("w") + coalesce(col("dw"), lit(0L))).as("w"))
        .localCheckpoint()
      out = out.join(broadcast(w.select(col("bucket"), col("w").as(s"w$e"))),
        Seq("bucket"))
    }
    out
  }

  /** PII patterns shared verbatim by [[piiScan]] and the q168 oracle —
    * RE2-compatible (DuckDB) AND java.util.regex-compatible (Spark):
    * character classes, bounded repetition, `\b` anchors only. The
    * card pattern deliberately catches CANDIDATES (any 16-digit run);
    * the Luhn checksum — exact integer arithmetic, replayed in SQL on
    * both engines — separates real card shapes from arbitrary digits,
    * the standard two-stage PII rule (pattern recall, checksum
    * precision). */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val PiiIpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PiiCcRe = "\\b[0-9]{16}\\b"

  /** Luhn checksum over a digit-string column — doubling every second
    * digit from the right, exact BIGINT arithmetic (identical
    * formulation in the oracle's `list_transform`). */
  private def luhnOk(c: Column): Column = {
    val total = aggregate(
      sequence(lit(1), length(c)),
      lit(0L),
      (acc, i) => {
        val d = c.substr(i, lit(1)).cast("long")
        acc + when(((length(c) - i) % 2) === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    total % 10 === 0
  }

  /** PII detection + redaction — the curation stage every public corpus
    * pipeline runs before release (C4 removed pages on bad-word lists;
    * Dolma and BigCode's StarCoder pipeline mask emails/IPs/keys as a
    * per-document rewrite). Four detector families over the raw text:
    * emails, NANP-shaped phone numbers, IPv4 literals, and 16-digit
    * card CANDIDATES split into Luhn-valid vs not. The redacted text
    * replaces every match with a typed mask token (card candidates mask
    * unconditionally — redaction errs conservative even where the
    * checksum says the digits are not a real card). Output is one
    * narrow row per document: counts, the redacted length, and the md5
    * of the redacted text, so the oracle hash-pins the REWRITE itself,
    * not just the tallies.
    *
    * Shape at 100 TB: pure per-row regex work (codegen'd string
    * expressions), no shuffle but the final sort — the q141 scan
    * shape. */
  def piiScan(documents: DataFrame): DataFrame = {
    val text = coalesce(col("text"), lit(""))
    // Each pattern runs ONCE (the redaction pass); counts derive from
    // the mask tokens afterwards — running detection and redaction as
    // separate regex passes doubled the dominant cost at the 10x smoke.
    // The email pattern additionally gates on a cheap contains('@')
    // scan: its broad character class is the backtracking-heaviest of
    // the four, and '@'-free documents (most of any corpus) skip it
    // entirely. Card candidates extract from the EMAIL-REDACTED
    // intermediate (so the candidate population is exactly the <CC>
    // mask population, never digits hidden inside an address) and only
    // when a mask is present.
    val redEmail = when(text.contains("@"),
      regexp_replace(text, lit(PiiEmailRe), lit("<EMAIL>"))).otherwise(text)
    val stage = documents.select(col("doc_id"), text.as("t0"),
      redEmail.as("t1"))
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(col("t1"), lit(PiiCcRe), lit("<CC>")),
        lit(PiiPhoneRe), lit("<PHONE>")),
      lit(PiiIpRe), lit("<IP>"))
    val staged = stage.select(col("doc_id"), col("t1"), red.as("red"))
    def masks(m: String): Column =
      (size(split(col("red"), m)) - 1).cast("long")
    val ccCands = regexp_extract_all(col("t1"), lit(PiiCcRe), lit(0))
    staged.select(
      col("doc_id"),
      masks("<EMAIL>").as("n_emails"),
      masks("<PHONE>").as("n_phones"),
      masks("<IP>").as("n_ips"),
      masks("<CC>").as("n_cc_candidates"),
      when(col("red").contains("<CC>"),
        size(filter(ccCands, luhnOk(_))).cast("long"))
        .otherwise(0L).as("n_cc_valid"),
      length(col("red")).cast("long").as("redacted_len"),
      md5(col("red")).as("redacted_md5"))
  }

  /** Fill-in-the-middle training-example construction (Bavarian et al.,
    * "Efficient Training of Language Models to Fill in the Middle" —
    * the PSM transform every code-model data pipeline applies to a
    * slice of its corpus): two deterministic split points derived from
    * the shared h60 hash cut each document's token list into non-empty
    * prefix/middle/suffix, re-serialized as
    * `<PRE>prefix<SUF>suffix<MID>middle`. Documents shorter than
    * `minTokens` pass through unsplit (fim = false) — the standard
    * length gate. Output carries the split geometry and the md5 of the
    * PSM string, so the oracle hash-pins the constructed example.
    *
    * Shape at 100 TB: per-row token arithmetic, no shuffle but the
    * final sort. */
  /** Single source of truth for [[fimExamples]]'s length gate — the
    * q169 oracle interpolates the same value (the q161 lockstep
    * discipline). */
  val FimMinTokens: Int = 8

  def fimExamples(documents: DataFrame,
      minTokens: Int = FimMinTokens): DataFrame = {
    require(minTokens >= 3, s"minTokens must be >= 3, got $minTokens")
    val tk = split(coalesce(col("text"), lit("")), " ")
    val base = documents.select(col("doc_id"), tk.as("tk"),
      size(tk).cast("long").as("n_tokens"))
    // ONE branch, not a long-doc/short-doc UNION (round 15): the union
    // planned THREE exchanges under a byOrder caller (each branch
    // re-partitioned, the trailing sort re-exchanged above the Union)
    // and its bound-sampling re-ran both branches; a per-row CASE keeps
    // the scan shape with the one trailing sort. CaseWhen evaluates
    // lazily, so the short-doc rows never touch the guarded modulos.
    // Row-identical to the union (fim ⇔ n_tokens ≥ minTokens).
    val fim = col("n_tokens") >= minTokens
    val s1v = lit(1L) +
      expr(s"${h60x("concat(CAST(doc_id AS STRING), '|fim1')")}") %
        (col("n_tokens") - 2L)
    val withS1 = base.select(col("doc_id"), col("tk"), col("n_tokens"),
      when(fim, s1v).otherwise(lit(0L)).as("s1"))
    val s2v = col("s1") + 1L +
      expr(s"${h60x("concat(CAST(doc_id AS STRING), '|fim2')")}") %
        (col("n_tokens") - 1L - col("s1"))
    val cut = withS1.select(col("doc_id"), col("tk"), col("n_tokens"),
      col("s1"), when(fim, s2v).otherwise(lit(0L)).as("s2"))
    val join = (c: Column) => array_join(c, " ")
    val psm = concat(
      lit("<PRE>"), join(slice(col("tk"), lit(1), col("s1"))),
      lit("<SUF>"), join(slice(col("tk"), col("s2") + 1L,
        col("n_tokens") - col("s2"))),
      lit("<MID>"), join(slice(col("tk"), col("s1") + 1L,
        col("s2") - col("s1"))))
    val plain = array_join(col("tk"), " ")
    cut.select(col("doc_id"), col("n_tokens"),
      col("s1"), col("s2"), fim.as("fim"),
      when(fim, length(psm)).otherwise(length(plain)).cast("long").as("psm_len"),
      when(fim, md5(psm)).otherwise(md5(plain)).as("psm_md5"))
  }

  /** q170 plant, shared by the registry lambda and the oracle (the q168
    * planted-snippet pattern): 40 repeats of a bigram whose BOTH
    * orderings hash green under the q170 rule, appended to every
    * `doc_id % WmPlantMod == 0` document so the detector has true
    * positives to find in the synthetic corpus. */
  val WmPlantMod: Int = 13
  val WmPlant: String = Seq.fill(40)("spark value").mkString(" ")

  /** Statistical watermark detection (Kirchenbauer et al. 2023, "A
    * Watermark for Large Language Models" — the public green-list
    * scheme): a generator that watermarks its output seeds a
    * vocabulary partition from each previous token and boosts "green"
    * tokens; a detector needs NO model access — it recomputes each
    * token's green membership from the (prev, current) pair and flags
    * documents whose green count is statistically impossible under the
    * null (γ = 1/2 → E[green] = T/2, σ = √T/2). This is the
    * provenance / synthetic-text screen a training-data pipeline runs
    * so a model is not trained on another model's watermarked output.
    *
    * Green rule here: `h60(prev || '|' || cur) % 2 == 0` — for a
    * γ = 1/2 random partition, hashing the pair is equivalent to
    * hashing prev into a seed and testing cur's membership. The z ≥ 4
    * one-sided test is EXACT integer arithmetic: z = (2g − T)/√T ≥ 4
    * ⟺ 2g − T ≥ 0 ∧ (2g − T)² ≥ 16·T — no float ever crosses
    * engines.
    *
    * Shape at 100 TB: per-row token arithmetic inside one projection
    * (the green count folds over the token array with `aggregate`, no
    * explode, no shuffle but the final sort) — the q141/q168 scan
    * shape, linear in input splits. */
  def watermarkScan(documents: DataFrame): DataFrame = {
    val tk = split(coalesce(col("text"), lit("")), " ")
    val base = documents.select(col("doc_id"), tk.as("tk"),
      size(tk).cast("long").as("n"))
    // ONE branch, not a scored/short UNION (round 15, the fimExamples
    // note): a per-row CASE keeps the scan shape — one trailing sort
    // exchange under a byOrder caller, no branch re-execution in its
    // bound-sampling pass. CaseWhen is lazy: n < 2 rows never run the
    // bigram fold (whose sequence(2, n) would be descending there).
    // Row-identical to the union (t_scored = 0 ⇔ n < 2).
    val excess = lit(2L) * col("green_cnt") - col("t_scored")
    base
      .withColumn("green_cnt", when(col("n") >= 2L, expr(
        """aggregate(sequence(2, cast(n as int)), 0L, (acc, i) ->
          |  acc + CASE WHEN h60(concat(element_at(tk, i - 1), '|',
          |    element_at(tk, i))) % 2L = 0L THEN 1L ELSE 0L END)"""
          .stripMargin)).otherwise(lit(0L)))
      .select(col("doc_id"),
        when(col("n") >= 2L, col("n") - 1L).otherwise(lit(0L)).as("t_scored"),
        col("green_cnt"))
      .withColumn("green_ppm", when(col("t_scored") === 0L, lit(0L))
        .otherwise(expr("(green_cnt * 1000000L) div t_scored")))
      .withColumn("watermarked", col("t_scored") >= 1L &&
        excess >= 0L && excess * excess >= lit(16L) * col("t_scored"))
  }

  /** Exact phrase occurrences over the token stream — the
    * grep-for-a-phrase primitive behind contamination forensics ("which
    * documents contain this benchmark question verbatim, and where"),
    * targeted corpus slicing, and positional-index retrieval. One row
    * per matching document: occurrence count, first position, and the
    * full 1-based position list (ascending by construction) for the
    * forensic readout.
    *
    * Spark-first design note: for a ONE-OFF phrase query the right plan
    * is a scan — a cheap codegen'd `array_contains` conjunction gates
    * the per-position check, so non-matching documents (most of any
    * corpus) pay L containment probes and never run the positional
    * lambda; a persistent positional inverted index only amortizes for
    * repeated-query serving, which is a storage layout, not an
    * operator. Scan-shaped: no shuffle but the final sort. */
  def phraseMatch(documents: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(t => t.nonEmpty && !t.contains(" ")),
      s"phrase must be non-empty space-free tokens, got $phrase")
    val els = phrase.length
    def sqlLit(t: String) = "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val conj = phrase.zipWithIndex.map { case (t, j) =>
      s"element_at(tk, i + $j) = ${sqlLit(t)}"
    }.mkString(" AND ")
    val tk = split(coalesce(col("text"), lit("")), " ")
    documents
      .select(col("doc_id"), tk.as("tk"), size(tk).as("n"))
      .filter(col("n") >= els &&
        phrase.map(t => array_contains(col("tk"), t)).reduce(_ && _))
      .withColumn("positions", expr(
        s"transform(filter(sequence(1, n - ${els - 1}), i -> $conj), p -> CAST(p AS BIGINT))"))
      .filter(size(col("positions")) >= 1)
      .select(col("doc_id"),
        size(col("positions")).cast("long").as("n_occurrences"),
        element_at(col("positions"), 1).as("first_pos"),
        // scalar CSV, not an array column — the registry's compare
        // convention (same reason q35 emits signatures as text)
        array_join(expr("transform(positions, p -> CAST(p AS STRING))"),
          ",").as("positions_csv"))
  }
}
