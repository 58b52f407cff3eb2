package graft

import graft.operators.TextOps

/** Function-word-profile language ID (round-4 verdict item 6: the
  * classifier must be real, not degenerate on the synthetic corpus). */
class LangIdSpec extends SparkSpec {
  import spark.implicits._

  private def guess(texts: Seq[(Long, String)]): Map[Long, String] =
    TextOps.langScored(texts.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("known-language sentences classify correctly") {
    // ordinary prose in each profiled language — the classifier sees only
    // function-word votes, so these exercise the real signal
    val fixtures = Seq(
      1L -> "the cat sat on the mat and it was pleased with the result of this",
      2L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo",
      3L -> "der hund läuft durch die stadt und das kind spielt mit dem ball auf der wiese",
      4L -> "le chien court dans la rue et les enfants jouent sur le pont pour le plaisir",
      5L -> "il cane corre per la strada e i gatti sono come lo spirito della città che non dorme")
    val got = guess(fixtures)
    assert(got === Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "it"))
  }

  test("same-script siblings distinguish: pt vs es, nl vs de/en, sv (round-7 item 7)") {
    // pt and es share de/que/se/por/para/no — the distinctive forms
    // (não/é/uma/os/do/da vs el/los/las/y) must carry the argmax; nl
    // shares in/is with en and als with de; sv forms are near-disjoint
    val fixtures = Seq(
      6L -> "o cão não corre na rua e uma gata é mais do que um bicho para os vizinhos",
      7L -> "de hond loopt niet op straat en het kind is met een bal aan het spelen voor de deur",
      8L -> "hunden springer inte på gatan och ett barn är med en boll för att leka så som han var",
      // control: the es sentence must STILL classify es with pt present
      9L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo")
    val got = guess(fixtures)
    assert(got === Map(6L -> "pt", 7L -> "nl", 8L -> "sv", 9L -> "es"))
  }

  test("zero function-word evidence classifies 'und', ties break in profile order") {
    val got = guess(Seq(
      10L -> "12345 67890 lorem zzz qqq",       // no profile word at all
      11L -> "the el der dans di",              // one single-claim vote each → first profile wins
      12L -> ""))                               // empty text → single empty token
    assert(got(10L) === "und")
    assert(got(11L) === "en")
    assert(got(12L) === "und")
  }

  test("native lang_scores is bit-identical to the interpreted HOF form") {
    // round-5 verdict item 3: the fused expression must replay the five
    // size(filter(...array_contains...)) passes exactly — including NULL
    // tokens (skipped, not poisoning) and empty arrays (all-zero scores)
    val texts = Seq(
      30L -> "the el der dans di più für auch the une test",
      31L -> "",
      32L -> "12345 zzz qqq",
      33L -> "de la de la un en the of and il cane la strada")
      .toDF("doc_id", "text")
    val cols = Seq("doc_id") ++ TextOps.langProfiles.map("s_" + _._1) :+ "lang_guess"
    val native = TextOps.langScored(texts).select(cols.head, cols.tail: _*)
    val hof = TextOps.langScoredHof(texts).select(cols.head, cols.tail: _*)
    assert(native.schema.map(f => (f.name, f.dataType)) ===
      hof.schema.map(f => (f.name, f.dataType)))
    assert(native.orderBy("doc_id").collect().toSeq ===
      hof.orderBy("doc_id").collect().toSeq)
    // null token array → null scores in both forms
    val nullTk = Seq((40L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val nRow = TextOps.langScored(nullTk).select("s_en", "lang_guess").head
    val hRow = TextOps.langScoredHof(nullTk).select("s_en", "lang_guess").head
    assert(nRow === hRow)
  }

  test("da/nb: function-word vote alone cannot separate the planted pair (round-8 item 6)") {
    // both sentences use ONLY shared da/nb function words (og, i, er,
    // til, ikke, jeg — claimed by no earlier profile), so the vote dead-
    // ties and the ladder's profile-order tie-break calls BOTH 'da' —
    // the documented §8.10 failure this round's fallback exists to fix
    val da = 50L -> "jeg er ikke i vejen til stationen og arbejdet gennem højre er ikke løj og jeg"
    val nb = 51L -> "jeg er ikke i veien til stasjonen og arbeidet gjennom høyre er ikke løy og jeg"
    val voteOnly = guess(Seq(da, nb))
    assert(voteOnly === Map(50L -> "da", 51L -> "da"))
    val scores = TextOps.langScored(Seq(da, nb).toDF("doc_id", "text"))
      .select("doc_id", "s_da", "s_nb").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scores(50L)._1 === scores(50L)._2) // dead tie on the da doc
    assert(scores(51L)._1 === scores(51L)._2) // and on the nb doc
  }

  test("da/nb: char-n-gram orthography fallback separates what the vote cannot") {
    val fixtures = Seq(
      50L -> "jeg er ikke i vejen til stationen og arbejdet gennem højre er ikke løj og jeg",
      51L -> "jeg er ikke i veien til stasjonen og arbeidet gjennom høyre er ikke løy og jeg",
      // controls: the fallback must not touch non-da/nb guesses
      52L -> "the cat sat on the mat and it was pleased with the result of this",
      53L -> "hunden springer inte på gatan och ett barn är med en boll för att leka så som han var",
      // zero orthography evidence → vote answer (profile-order da) stands
      54L -> "jeg er ikke og jeg er og")
    val got = TextOps.langScoredNordic(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(50L -> "da", 51L -> "nb", 52L -> "en", 53L -> "sv", 54L -> "da"))
  }

  test("da/nb: orthography counts are word-boundary-aware occurrence counts") {
    val row = TextOps.langScoredNordic(Seq(
      60L -> "af sig vej højre station gennem").toDF("doc_id", "text"))
      .select("t_da", "t_nb").head
    // ' af '(1) + ej(1: vej) + øj(1: højre) + tion(1: station) +
    // nnem(1: gennem) + ' sig '(1) = 6; nb patterns find nothing
    assert(row.getLong(0) === 6L)
    assert(row.getLong(1) === 0L)
  }

  test("pt/gl: vote dead-ties, generalized orthography fallback separates (round 9)") {
    val pt = 70L -> "o coração do filho e o vinho da praça que se move para o trabalho no verão"
    val gl = 71L -> "o corazón do fillo e o viño da praza que se move para o traballo no verán"
    // the vote alone calls both 'pt' (earlier profile wins the tie)
    val voteOnly = guess(Seq(pt, gl))
    assert(voteOnly === Map(70L -> "pt", 71L -> "pt"))
    val fixtures = Seq(pt, gl,
      // composition: the da/nb rule must still fire through langScoredOrtho
      72L -> "jeg er ikke i veien til stasjonen og arbeidet gjennom høyre er ikke løy og jeg",
      // controls: es and en stay untouched by both pair rules
      73L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo",
      74L -> "the cat sat on the mat and it was pleased with the result of this")
    val got = TextOps.langScoredOrtho(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(70L -> "pt", 71L -> "gl", 72L -> "nb",
      73L -> "es", 74L -> "en"))
  }

  test("hr/sr: vote dead-ties, registry pair separates via yat reflex (round 10)") {
    // only the 19 shared function words (tko/ko absent) → s_hr == s_sr;
    // content words differ solely in ijekavian/ekavian orthography
    val hr = 90L -> "rijeka je lijepa i vrijeme je uvijek dobro za mlijeko ali ne za kruh"
    val sr = 91L -> "reka je lepa i vreme je uvek dobro za mleko ali ne za hleb"
    val voteOnly = guess(Seq(hr, sr))
    assert(voteOnly === Map(90L -> "hr", 91L -> "hr")) // profile order alone: both 'hr'
    val scores = TextOps.langScored(Seq(hr, sr).toDF("doc_id", "text"))
      .select("doc_id", "s_hr", "s_sr").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scores(90L)._1 === scores(90L)._2) // dead tie on the hr doc
    assert(scores(91L)._1 === scores(91L)._2) // and on the sr doc
    val fixtures = Seq(hr, sr,
      // composition: the earlier pairs must still fire with hr/sr registered
      92L -> "jeg er ikke i veien til stasjonen og arbeidet gjennom høyre er ikke løy og jeg",
      93L -> "o corazón do fillo e o viño da praza que se move para o traballo no verán",
      // controls: non-pair guesses stay untouched by the third rewrite
      94L -> "the cat sat on the mat and it was pleased with the result of this",
      95L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo")
    val got = TextOps.langScoredOrtho(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(90L -> "hr", 91L -> "sr", 92L -> "nb", 93L -> "gl",
      94L -> "en", 95L -> "es"))
  }

  test("hr/sr: census is word-boundary-safe against English base text") {
    // 'elephant'/'telepathy' must not feed t_sr through the word-initial
    // lep pattern, and shared 'nije' must not feed t_hr (ijek/ijep, not ije)
    val rows = TextOps.langScoredOrtho(Seq(
      96L -> "the elephant used telepathy and detected nothing",
      97L -> "to nije dobro ali je kako je").toDF("doc_id", "text"))
      .select("doc_id", "t_hr", "t_sr").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(96L) === ((0L, 0L)))
    assert(rows(97L) === ((0L, 0L)))
  }

  test("ms/id: vote dead-ties, registry pair separates via loanword strata (round 10)") {
    // only shared function words (kerana/karena and telah/sudah absent)
    // → s_ms == s_id; content words differ solely in the -iti/-itas
    // loanword suffix and the wang/uang, sahaja/saja, mahu/mau splits
    val ms = 100L -> "mereka mahu wang untuk aktiviti di universiti itu sahaja dan kualiti yang ada dari itu juga"
    val id = 101L -> "mereka mau uang untuk aktivitas di universitas itu saja dan kualitas yang ada dari itu juga"
    val voteOnly = guess(Seq(ms, id))
    assert(voteOnly === Map(100L -> "ms", 101L -> "ms")) // profile order alone: both 'ms'
    val scores = TextOps.langScored(Seq(ms, id).toDF("doc_id", "text"))
      .select("doc_id", "s_ms", "s_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scores(100L)._1 === scores(100L)._2) // dead tie on the ms doc
    assert(scores(101L)._1 === scores(101L)._2) // and on the id doc
    val fixtures = Seq(ms, id,
      // composition: every earlier pair must still fire with ms/id registered
      102L -> "jeg er ikke i veien til stasjonen og arbeidet gjennom høyre er ikke løy og jeg",
      103L -> "o corazón do fillo e o viño da praza que se move para o traballo no verán",
      104L -> "reka je lepa i vreme je uvek dobro za mleko ali ne za hleb",
      // controls: non-pair guesses stay untouched by the fourth rewrite
      105L -> "the cat sat on the mat and it was pleased with the result of this",
      106L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo")
    val got = TextOps.langScoredOrtho(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(100L -> "ms", 101L -> "id", 102L -> "nb", 103L -> "gl",
      104L -> "sr", 105L -> "en", 106L -> "es"))
  }

  test("ms/id: census sides are blind to each other's forms") {
    // ' saja ' must not match inside ' sahaja ', ' mau ' not inside
    // ' mahu ', 'itas ' not inside word-final 'iti ' (and vice versa) —
    // each side's planted sentence counts ZERO for the opposite census
    val rows = TextOps.langScoredOrtho(Seq(
      110L -> "mahu wang sahaja aktiviti kualiti",
      111L -> "mau uang saja aktivitas kualitas").toDF("doc_id", "text"))
      .select("doc_id", "t_ms", "t_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(110L) === ((5L, 0L)))
    assert(rows(111L) === ((0L, 5L)))
  }

  test("cs/sk: vote dead-ties, registry pair separates via exclusive letters (round 10)") {
    // only the 18 shared function-word forms (se/sa and co/čo absent)
    // → s_cs == s_sk; content words differ solely in the letters the
    // other orthography does not have (ř/ě/ů vs ľ/ô/ä)
    val cs = 120L -> "řeka a měsíc je tady už v zimě ale vůně dřeva je tak dobrá že si to pamatuji"
    val sk = 121L -> "rieka a mesiac je tu už v zime ale vôňa dreva je tak dobrá že si to pamätám ľudia"
    val voteOnly = guess(Seq(cs, sk))
    assert(voteOnly === Map(120L -> "cs", 121L -> "cs")) // profile order alone: both 'cs'
    val scores = TextOps.langScored(Seq(cs, sk).toDF("doc_id", "text"))
      .select("doc_id", "s_cs", "s_sk").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scores(120L)._1 === scores(120L)._2) // dead tie on the cs doc
    assert(scores(121L)._1 === scores(121L)._2) // and on the sk doc
    val fixtures = Seq(cs, sk,
      // composition: every earlier pair must still fire with cs/sk registered
      122L -> "jeg er ikke i veien til stasjonen og arbeidet gjennom høyre er ikke løy og jeg",
      123L -> "mereka mau uang untuk aktivitas di universitas itu saja dan kualitas yang ada dari itu juga",
      // controls: non-pair guesses stay untouched by the fifth rewrite
      124L -> "the cat sat on the mat and it was pleased with the result of this",
      125L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo")
    val got = TextOps.langScoredOrtho(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(120L -> "cs", 121L -> "sk", 122L -> "nb",
      123L -> "id", 124L -> "en", 125L -> "es"))
  }

  test("cs/sk: census sides are blind to each other's letters") {
    val rows = TextOps.langScoredOrtho(Seq(
      130L -> "řeka měsíc vůně dřeva zimě", // ř×2 ě×3 (vůně has both) ů×1 — no sk letters
      131L -> "ľudia vôňa mäso vôbec").toDF("doc_id", "text") // ľ ô×2 ä — no cs letters
      ).select("doc_id", "t_cs", "t_sk").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(130L) === ((6L, 0L)))
    assert(rows(131L) === ((0L, 4L)))
  }

  test("bg/mk: vote dead-ties, first Cyrillic registry pair separates via exclusive letters (round 12)") {
    // only shared Cyrillic function-word forms (в/во, от/од, ще/ќе,
    // като/како absent) → s_bg == s_mk; content words differ solely in
    // the letters the other alphabet does not have (ъ/щ/ю/я vs ќ/ѓ/љ/ѕ)
    val bg = 140L -> "пътят на съня е дълъг и нощта е тъмна но язовирът се пълни за бъдещето му"
    val mk = 141L -> "куќата на луѓето е убава и ноќта е мирна но ѕвездата се гледа за љубовта му"
    val voteOnly = guess(Seq(bg, mk))
    assert(voteOnly === Map(140L -> "bg", 141L -> "bg")) // profile order alone: both 'bg'
    val scores = TextOps.langScored(Seq(bg, mk).toDF("doc_id", "text"))
      .select("doc_id", "s_bg", "s_mk").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scores(140L)._1 === scores(140L)._2) // dead tie on the bg doc
    assert(scores(141L)._1 === scores(141L)._2) // and on the mk doc
    val fixtures = Seq(bg, mk,
      // composition: every earlier pair must still fire with bg/mk registered
      142L -> "řeka a měsíc je tady už v zimě ale vůně dřeva je tak dobrá že si to pamatuji",
      143L -> "rijeka je lijepa i vrijeme je uvijek dobro za mlijeko ali ne za kruh",
      // controls: non-pair guesses stay untouched by the sixth rewrite
      144L -> "the cat sat on the mat and it was pleased with the result of this",
      145L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo")
    val got = TextOps.langScoredOrtho(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(140L -> "bg", 141L -> "mk", 142L -> "cs",
      143L -> "hr", 144L -> "en", 145L -> "es"))
  }

  test("bg/mk: census sides are blind to each other's letters and to Latin text") {
    val rows = TextOps.langScoredOrtho(Seq(
      150L -> "пътят нощта язовирът бъдещето юли ясно", // ъ×3 щ×2 ю×1 я×3 — no mk letters
      151L -> "куќата луѓето љубовта ѕвезда џеб њива", // ќ ѓ љ ѕ џ њ — no bg letters
      152L -> "plain english text with no cyrillic at all").toDF("doc_id", "text")
      ).select("doc_id", "t_bg", "t_mk").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(150L) === ((9L, 0L)))
    assert(rows(151L) === ((0L, 6L)))
    assert(rows(152L) === ((0L, 0L)))
  }

  test("uk/ru: vote dead-ties, seventh registry pair separates via exclusive letters (round 12)") {
    // only the 10 shared Cyrillic function-word forms (и/і, что/що,
    // с/з, это/це, the divergent forms, absent) → s_uk == s_ru; content
    // words differ solely in the letters the other alphabet does not
    // have (і/ї/є/ґ vs ы/э/ъ/ё)
    val uk = 160L -> "їжак на ґанку в саду є тихий у світанні а літо за вікном же гарне то місяці"
    val ru = 161L -> "ёжик на крыльце в саду есть тихий у подъезда а лето за этажом же ясное то сыры"
    val voteOnly = guess(Seq(uk, ru))
    assert(voteOnly === Map(160L -> "uk", 161L -> "uk")) // profile order alone: both 'uk'
    val scores = TextOps.langScored(Seq(uk, ru).toDF("doc_id", "text"))
      .select("doc_id", "s_uk", "s_ru").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scores(160L)._1 === scores(160L)._2) // dead tie on the uk doc
    assert(scores(161L)._1 === scores(161L)._2) // and on the ru doc
    val fixtures = Seq(uk, ru,
      // composition: the earlier Cyrillic pair must still fire with
      // uk/ru registered (ru claims и/но/за on these docs but loses the
      // vote to bg/mk's fuller claim)
      162L -> "пътят на съня е дълъг и нощта е тъмна но язовирът се пълни за бъдещето му",
      163L -> "куќата на луѓето е убава и ноќта е мирна но ѕвездата се гледа за љубовта му",
      // controls: non-pair guesses stay untouched by the seventh rewrite
      164L -> "the cat sat on the mat and it was pleased with the result of this",
      165L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo")
    val got = TextOps.langScoredOrtho(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(160L -> "uk", 161L -> "ru", 162L -> "bg",
      163L -> "mk", 164L -> "en", 165L -> "es"))
  }

  test("uk/ru: census sides are blind to each other's letters and to Latin text") {
    val rows = TextOps.langScoredOrtho(Seq(
      170L -> "їжак єдність ґанок місяці київ", // ї×2 є×1 ґ×1 і×3 — no ru letters
      171L -> "ёлка этаж подъезд сыры объём",   // ё×2 э×1 ъ×2 ы×2 — no uk letters
      172L -> "plain latin i in itself never feeds the cyrillic census")
      .toDF("doc_id", "text"))
      .select("doc_id", "t_uk", "t_ru").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(170L) === ((7L, 0L)))
    assert(rows(171L) === ((0L, 7L)))
    assert(rows(172L) === ((0L, 0L)))
  }

  test("nl/af: vote dead-ties, eighth registry pair separates via the respelling census (round 12)") {
    // only the 13 shared function-word forms (die/de, nie/niet,
    // vir/voor, een/'n, the divergent forms, absent) → s_nl == s_af;
    // content words differ solely in the systematic respelling (nl
    // ij/z — Afrikaans respelled ij→y, z→s — vs af ê/ô)
    val nl = 180L -> "kijk het ijs en wijn is fijn dan zwemt tijd in zee met zon op blije dagen om te zien ook"
    val af = 181L -> "kyk vanmôre sê ons lê by wêreld en môre is mooi dan kom tyd in see met son op bly dae om te loop ook"
    val voteOnly = guess(Seq(nl, af))
    assert(voteOnly === Map(180L -> "nl", 181L -> "nl")) // profile order alone: both 'nl'
    val scores = TextOps.langScored(Seq(nl, af).toDF("doc_id", "text"))
      .select("doc_id", "s_nl", "s_af").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scores(180L)._1 === scores(180L)._2) // dead tie on the nl doc
    assert(scores(181L)._1 === scores(181L)._2) // and on the af doc
    val fixtures = Seq(nl, af,
      // composition: the ORIGINAL round-7 Dutch prose (carrying the
      // nl-only forms de/niet/een) must still classify nl with af
      // registered — the real-document case, not the planted dead tie
      182L -> "de hond loopt niet op straat en het kind is met een bal aan het spelen voor de deur",
      // and the earlier pairs still fire with nl/af registered
      183L -> "jeg er ikke i vejen til stationen og arbejdet gennem højre er ikke løj og jeg",
      // controls: non-pair guesses stay untouched by the eighth rewrite
      184L -> "the cat sat on the mat and it was pleased with the result of this",
      185L -> "der hund läuft durch die stadt und das kind spielt mit dem ball auf der wiese")
    val got = TextOps.langScoredOrtho(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(180L -> "nl", 181L -> "af", 182L -> "nl",
      183L -> "da", 184L -> "en", 185L -> "de"))
  }

  test("nl/af: census sides are blind to each other's orthography") {
    val rows = TextOps.langScoredOrtho(Seq(
      190L -> "kijk zijn wijn zee zon niet een", // ij×3 (kijk/zijn/wijn) + z×3 + " niet " + " een " = 8 — no af marks (" niet " does NOT feed " nie ": the trailing space)
      191L -> "sê wêreld môre nie jy sy baie",   // ê×2 ô×1 " nie " " jy " — no nl marks (sy/baie: no ij, no z)
      192L -> "plain english text with size and zero j words") // 'size'/'zero' feed z — Latin text is NOT blind to z, the gate (nl/af guess) is what protects it
      .toDF("doc_id", "text"))
      .select("doc_id", "t_nl", "t_af").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(190L) === ((8L, 0L)))
    assert(rows(191L) === ((0L, 5L)))
    assert(rows(192L)._2 === 0L)
  }

  test("es/ca: near-tie within the gate, ninth registry pair separates via ñ/y vs ç/l·l (round 12)") {
    // the es snippet carries ONE standalone « y » (profile word AND
    // census evidence — margin 1, inside the ≤2 gate); the ca snippet
    // is a true dead tie; content words differ in codepoints the other
    // orthography does not use (ñ vs ç and the interpunct of l·l)
    val es = 200L -> "la caña de año pequeño en el jardín que mañana y señor del pueblo no dará una masa"
    val ca = 201L -> "la cançó del braç en el col·legi que any de companyia no fa una il·lusió al camí"
    val scores = TextOps.langScored(Seq(es, ca).toDF("doc_id", "text"))
      .select("doc_id", "s_es", "s_ca", "lang_guess").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(scores(200L)._1 === scores(200L)._2 + 1, "one y-vote of margin")
    assert(scores(201L)._1 === scores(201L)._2, "dead tie on the ca doc")
    assert(scores(200L)._3 === "es" && scores(201L)._3 === "es",
      "profile order alone calls both es")
    val fixtures = Seq(es, ca,
      // composition: earlier pairs still fire with es/ca registered
      202L -> "kyk vanmôre sê ons lê by wêreld en môre is mooi dan kom tyd in see met son op bly dae om te loop ook",
      // controls: the round-1 es prose keeps es (margin 4 — gate off),
      // and non-pair guesses stay untouched by the ninth rewrite
      203L -> "el perro corre por la calle y los gatos se esconden en una casa del pueblo",
      204L -> "the cat sat on the mat and it was pleased with the result of this")
    val got = TextOps.langScoredOrtho(fixtures.toDF("doc_id", "text"))
      .select("doc_id", "lang_guess")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(200L -> "es", 201L -> "ca", 202L -> "af",
      203L -> "es", 204L -> "en"))
  }

  test("es/ca: census sides are blind to each other's codepoints") {
    val rows = TextOps.langScoredOrtho(Seq(
      210L -> "caña año señor mañana y niño",      // ñ×5 + " y " = 6, no ç/·
      211L -> "cançó braç col·legi il·lusió els amb") // ç×2 l·l×2 " els " " amb " = 6, no ñ/" y "
      .toDF("doc_id", "text"))
      .select("doc_id", "t_es", "t_ca").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(210L) === ((6L, 0L)))
    assert(rows(211L) === ((0L, 6L)))
  }

  test("pt/gl: orthography counts are clean of English base-text bigrams") {
    // 'small'/'all' must not feed t_gl (the llo-not-ll pattern choice)
    val row = TextOps.langScoredOrtho(Seq(
      80L -> "a small table with all the values").toDF("doc_id", "text"))
      .select("t_pt", "t_gl").head
    assert(row.getLong(0) === 0L)
    assert(row.getLong(1) === 0L)
  }

  test("substr_census ≡ the replace-chain census on adversarial inputs (r14 native swap)") {
    // the ortho censuses swapped from per-pattern replace-chains (a full
    // text copy per pattern) to the native one-scan substr_census; the
    // DuckDB oracles keep the replace form, so the two must count
    // identically everywhere, including the corners: self-overlapping
    // patterns (greedy left-to-right: 'ee'×2 in 'eeee', ×1 in 'eee'),
    // multi-byte patterns at string edges, adjacent matches, and NULL
    val pats = Seq("ee", "ão", "ç", " af ", "l·l")
    val texts = Seq("eeee", "eee", "e", "", "ãoão", "xãoxão", "ç", "çç",
      " af af ", " af  af ", "l·ll·l", "al·l·la", "ão ç ee af l·l",
      "ñ y ñ", null)
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val censusNative = graft.operators.TextOps.orthoCensusExpr("text", pats)
    val censusChain = graft.operators.TextOps.orthoCountSql("text", pats)
    val rows = df.selectExpr("id", s"$censusNative AS a", s"$censusChain AS b")
      .collect()
    rows.foreach { r =>
      val a = if (r.isNullAt(1)) null else r.getLong(1)
      val b = if (r.isNullAt(2)) null else r.getLong(2)
      assert(a === b, s"id=${r.getLong(0)} native=$a chain=$b")
    }
  }

  test("overlapping function words accumulate for every language that claims them") {
    // 'de' is both Spanish and French; 'la' Spanish/French/Italian — a
    // text of only shared forms must score them for all claimants
    val scores = TextOps.langScored(Seq((20L, "de la de la un en")).toDF("doc_id", "text"))
      .select("s_es", "s_fr", "s_it").head
    assert(scores.getLong(0) === 6L) // es claims all six tokens
    assert(scores.getLong(1) === 6L) // fr claims all six too
    assert(scores.getLong(2) === 2L) // it claims only the two 'la'
  }
}
