package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DateParse

/** P5 goldens — the exact shapes the reference tests pin
  * (`tests/test_csvs_to_sqlite.py:584-604, 739-766`; FIXTURES.md §3/4/6).
  */
class DateParseSpec extends AnyFunSuite {

  test("ordinal day: '3rd May 2017' -> 2017-05-03") {
    assert(DateParse.parseDateIso("3rd May 2017") === "2017-05-03")
  }

  test("US slash date: '04/30/2005' -> 2005-04-30") {
    assert(DateParse.parseDateIso("04/30/2005") === "2005-04-30")
  }

  test("meridiem prefix: '10pm on April 4 1938' -> 1938-04-04T22:00:00") {
    assert(DateParse.parseDatetimeIso("10pm on April 4 1938") === "1938-04-04T22:00:00")
  }

  test("time prefix: '5:45 10 December 2009' -> 2009-12-10T05:45:00") {
    assert(DateParse.parseDatetimeIso("5:45 10 December 2009") === "2009-12-10T05:45:00")
  }

  test("custom format list wins: %y/%d/%m on '03/02/01' -> 2003-01-02") {
    assert(DateParse.parseDateIso("03/02/01", Seq("%y/%d/%m")) === "2003-01-02")
  }

  test("literal words in format: '%d of %B in the year %Y'") {
    val fmt = Seq("%d of %B in the year %Y")
    assert(DateParse.parseDateIso("6 of December in the year 2002", fmt) === "2002-12-06")
    assert(DateParse.parseDateIso("19 of June in the year 1997", fmt) === "1997-06-19")
    assert(DateParse.parseDateIso("9 of June in the year 1996", fmt) === "1996-06-09")
  }

  test("date variant truncates datetime input to the date") {
    assert(DateParse.parseDateIso("10pm on April 4 1938") === "1938-04-04")
  }

  test("NULL/blank passthrough; unparseable input raises (reference error propagation)") {
    assert(DateParse.parseDateIso(null) === null)
    assert(DateParse.parseDateIso("  ") === null)
    intercept[IllegalArgumentException] { DateParse.parseDateIso("not a date at all") }
  }

  test("iso and common shapes parse via fallback chain") {
    assert(DateParse.parseDateIso("2017-05-03") === "2017-05-03")
    assert(DateParse.parseDatetimeIso("2017-05-03T10:20:30") === "2017-05-03T10:20:30")
    assert(DateParse.parseDateIso("May 3, 2017") === "2017-05-03")
  }

  // ---- round-8 widening toward dateparser's grammar ----------------

  private val base = java.time.LocalDateTime.of(2026, 8, 13, 10, 30, 0)

  test("relative dates resolve against the injected base clock") {
    assert(DateParse.parseDatetimeIso("2 weeks ago", Nil, base) === "2026-07-30T10:30:00")
    assert(DateParse.parseDateIso("yesterday", Nil, base) === "2026-08-12")
    assert(DateParse.parseDateIso("tomorrow", Nil, base) === "2026-08-14")
    assert(DateParse.parseDatetimeIso("today", Nil, base) === "2026-08-13T10:30:00")
    assert(DateParse.parseDatetimeIso("now", Nil, base) === "2026-08-13T10:30:00")
    assert(DateParse.parseDateIso("in 3 days", Nil, base) === "2026-08-16")
    assert(DateParse.parseDatetimeIso("45 minutes ago", Nil, base) === "2026-08-13T09:45:00")
    assert(DateParse.parseDateIso("3 years ago", Nil, base) === "2023-08-13")
  }

  test("relative 'a'/'an' quantifiers; month arithmetic clamps like relativedelta") {
    assert(DateParse.parseDateIso("a week ago", Nil, base) === "2026-08-06")
    assert(DateParse.parseDateIso("an hour ago", Nil, base) === "2026-08-13")
    val eom = java.time.LocalDateTime.of(2026, 3, 31, 0, 0, 0)
    assert(DateParse.parseDateIso("a month ago", Nil, eom) === "2026-02-28")
  }

  test("relative parsing is deterministic for a fixed base (distributed-safe)") {
    val a = DateParse.parse("2 weeks ago", Nil, base)
    val b = DateParse.parse("2 weeks ago", Nil, base)
    assert(a === b)
  }

  test("explicit formats still win over the relative grammar") {
    // a user format that literally matches "yesterday"-like text never
    // arises, but a format matching the shape must take precedence
    assert(DateParse.parseDateIso("03/02/01", Seq("%y/%d/%m")) === "2003-01-02")
  }

  test("abbreviated-month ordinals and 'Month DDth, YYYY' variants") {
    assert(DateParse.parseDateIso("3rd Jan 2017") === "2017-01-03")
    assert(DateParse.parseDateIso("Jan 3rd, 2017") === "2017-01-03")
    assert(DateParse.parseDateIso("January 3rd, 2017") === "2017-01-03")
    assert(DateParse.parseDateIso("April 21st, 2019") === "2019-04-21")
    assert(DateParse.parseDateIso("August 2nd 1999") === "1999-08-02")
  }

  test("errors still propagate for near-miss relative strings") {
    intercept[IllegalArgumentException] { DateParse.parseDateIso("several weeks ago") }
    intercept[IllegalArgumentException] { DateParse.parseDateIso("2 fortnights ago") }
  }

  // ---- round-9 widening ----

  test("weekday prefixes are informational and stripped") {
    assert(DateParse.parseDateIso("Tuesday, 3rd May 2017") === "2017-05-03")
    assert(DateParse.parseDateIso("Tue 3 May 2017") === "2017-05-03")
    assert(DateParse.parseDateIso("Wednesday May 3, 2017") === "2017-05-03")
    assert(DateParse.parseDateIso("Fri, 04/30/2005") === "2005-04-30")
    // a value that merely starts like a weekday still errors normally
    intercept[IllegalArgumentException] { DateParse.parseDateIso("Sundae special") }
  }

  test("last/next weekday resolve strictly before/after the base") {
    // base 2026-08-13 is a Thursday
    assert(DateParse.parseDateIso("last tuesday", Nil, base) === "2026-08-11")
    assert(DateParse.parseDateIso("next monday", Nil, base) === "2026-08-17")
    // same weekday as the anchor: a full week away, never "today"
    assert(DateParse.parseDateIso("last thursday", Nil, base) === "2026-08-06")
    assert(DateParse.parseDateIso("next thursday", Nil, base) === "2026-08-20")
  }

  test("ISO 'Z' suffix is the +00:00 offset, kept isoformat-style") {
    assert(DateParse.parseDatetimeIso("2017-05-03T10:20:30Z")
      === "2017-05-03T10:20:30+00:00")
  }

  test("dotted European dates, y/m/d slashes, last/next units") {
    assert(DateParse.parseDateIso("03.02.2001") === "2001-02-03") // day-first
    assert(DateParse.parseDateIso("3.2.2001") === "2001-02-03")
    assert(DateParse.parseDatetimeIso("03.02.2001 10:20") === "2001-02-03T10:20:00")
    assert(DateParse.parseDateIso("2017/05/03") === "2017-05-03")
    assert(DateParse.parseDateIso("last month", Nil, base) === "2026-07-13")
    assert(DateParse.parseDateIso("next year", Nil, base) === "2027-08-13")
    assert(DateParse.parseDateIso("last week", Nil, base) === "2026-08-06")
  }

  test("timezone-bearing strings keep their offset (dt.isoformat parity)") {
    assert(DateParse.parseDatetimeIso("2017-05-03T10:20:30+02:00") === "2017-05-03T10:20:30+02:00")
    assert(DateParse.parseDatetimeIso("2017-05-03T10:20:30Z") === "2017-05-03T10:20:30+00:00")
    assert(DateParse.parseDatetimeIso("2017-05-03 10:20:30+0200") === "2017-05-03T10:20:30+02:00")
    assert(DateParse.parseDatetimeIso("2017-05-03 10:20:30 UTC") === "2017-05-03T10:20:30+00:00")
    assert(DateParse.parseDatetimeIso("2017-05-03T10:20:30.123Z") === "2017-05-03T10:20:30+00:00")
    // date variant: WALL-CLOCK date, not UTC-converted (python dt.date())
    assert(DateParse.parseDateIso("2017-05-03T23:30:00-05:00") === "2017-05-03")
  }

  test("non-English month names parse after the US chain") {
    assert(DateParse.parseDateIso("3 März 2017") === "2017-03-03")      // de
    assert(DateParse.parseDateIso("3. März 2017") === "2017-03-03")     // de dotted
    assert(DateParse.parseDateIso("3 décembre 2017") === "2017-12-03")  // fr
    assert(DateParse.parseDateIso("3 diciembre 2017") === "2017-12-03") // es
    assert(DateParse.parseDateIso("3 dicembre 2017") === "2017-12-03")  // it
    assert(DateParse.parseDateIso("3 de diciembre de 2017") === "2017-12-03") // es long
    // English month names still take the US chain first
    assert(DateParse.parseDateIso("3 December 2017") === "2017-12-03")
  }

  test("column API: relative base pins the expression at plan time") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq("2 weeks ago", "3rd May 2017", "yesterday").toDF("raw")
    val out = df.select(DateParse.parseDate(org.apache.spark.sql.functions.col("raw"),
        relativeBase = Some(base)).as("iso"))
      .as[String].collect().toSeq
    assert(out === Seq("2026-07-30", "2017-05-03", "2026-08-12"))
  }
  // ---- round-14: multilingual month-name breadth (dateparser's top
  // languages; `/root/reference/csvs_to_sqlite/utils.py:505-518`
  // delegates to the language-aware dateparser library) -------------

  test("multilingual goldens: full month names across 15 languages") {
    val goldens = Seq(
      "3 de mayo de 2017" -> "2017-05-03",      // es
      "mayo 3 2017" -> "2017-05-03",            // es month-first
      "3 août 2017" -> "2017-08-03",            // fr
      "3. Oktober 1990" -> "1990-10-03",        // de
      "7. März 2021" -> "2021-03-07",           // de diacritic
      "25 de março de 2019" -> "2019-03-25",    // pt
      "3 maggio 2017" -> "2017-05-03",          // it
      "3 mei 2017" -> "2017-05-03",             // nl
      "3 января 2017" -> "2017-01-03",          // ru genitive
      "3 января 2017 г." -> "2017-01-03",       // ru + year marker
      "17 września 2014 r." -> "2014-09-17",    // pl genitive + roku
      "12 Aralık 2020" -> "2020-12-12",         // tr
      "3 maj 2017" -> "2017-05-03",             // sv
      "15. ledna 2016" -> "2016-01-15",         // cs genitive
      "3 martie 2017" -> "2017-03-03",          // ro
      "3. tammikuuta 2017" -> "2017-01-03",     // fi partitive
      "3 січня 2017" -> "2017-01-03",           // uk genitive
      "2017. május 3." -> "2017-05-03",         // hu year-first
      "2017年5月3日" -> "2017-05-03"            // ja/zh CJK markers
    )
    for ((in, want) <- goldens)
      assert(DateParse.parseDateIso(in) === want, s"input: '$in'")
  }

  test("multilingual goldens: round-15 tier-2 languages") {
    val goldens = Seq(
      "3 Ιανουαρίου 2017" -> "2017-01-03",      // el genitive (format style)
      "3 януари 2017" -> "2017-01-03",          // bg
      "3 јануар 2017" -> "2017-01-03",          // sr Cyrillic (JDK CLDR nominative)
      "3. siječnja 2017." -> "2017-01-03",      // hr genitive, year-dot
      "3. januára 2017" -> "2017-01-03",        // sk genitive
      "3. januar 2017" -> "2017-01-03",         // sl / nb / da agree
      "2017 m. sausio 3 d." -> "2017-01-03",    // lt metai/diena markers
      "2017. gada 3. janvāris" -> "2017-01-03", // lv gada connector
      "3. jaanuar 2017" -> "2017-01-03",        // et
      "3 يناير 2017" -> "2017-01-03",           // ar
      "3 ינואר 2017" -> "2017-01-03",           // he
      "3 Januari 2017" -> "2017-01-03",         // id
      "3 Januari 2017" -> "2017-01-03",         // ms (same spelling)
      "3 de gener 2017" -> "2017-01-03",        // ca
      "3 de xaneiro de 2017" -> "2017-01-03",   // gl
      "3. janúar 2017" -> "2017-01-03",         // is
      "3 janar 2017" -> "2017-01-03",           // sq
      "3 јануари 2017" -> "2017-01-03",         // mk
      "3 yanvar 2017" -> "2017-01-03")          // az
    for ((in, want) <- goldens)
      assert(DateParse.parseDateIso(in) === want, s"input: '$in'")
  }

  test("multilingual goldens: round-15 tier-3 languages") {
    // Exact JDK-CLDR FULL (format-context) month names, probed from
    // java.time.Month.getDisplayName on this JDK (the build's
    // collision-drop keeps additions sound if a future JDK shifts a name)
    val goldens = Seq(
      "3 जनवरी 2017" -> "2017-01-03",           // hi January
      "3 জানুয়ারী 2017" -> "2017-01-03", // bn
      "3 ஜனவரி 2017" -> "2017-01-03",           // ta
      "3 జనవరి 2017" -> "2017-01-03",           // te
      "3 ജനുവരി 2017" -> "2017-01-03",     // ml
      "3 ಜನವರಿ 2017" -> "2017-01-03",           // kn
      "3 जानेवारी 2017" -> "2017-01-03", // mr
      "3 જાન્યુઆરી 2017" -> "2017-01-03", // gu
      "3 ਜਨਵਰੀ 2017" -> "2017-01-03",           // pa
      "3 ජනවාරි 2017" -> "2017-01-03",     // si
      "3 جنوری 2017" -> "2017-01-03",           // ur
      "2017 წლის 3 იანვარი" -> "2017-01-03", // ka + year marker
      "3 հունվարի, 2017 թ." -> "2017-01-03", // hy genitive + marker
      "3 студзеня 2017" -> "2017-01-03", // be genitive
      "3. januar 2017" -> "2017-01-03",                                   // bs (agrees sl/nb/da)
      "3 қаңтар 2017 ж." -> "2017-01-03", // kk + жыл marker
      "3 январь 2017" -> "2017-01-03",      // ky (≡ ru nominative)
      "3 yanvar 2017 yil" -> "2017-01-03",                                // uz
      "3 Januarie 2017" -> "2017-01-03",                                  // af
      "3 Januari 2017" -> "2017-01-03",                                   // sw (≡ id/ms)
      "3 Enero 2017" -> "2017-01-03",                                     // fil (≡ es)
      "urtarrilak 3 2017" -> "2017-01-03",                                // eu format-context
      "3 Ionawr 2017" -> "2017-01-03",                                    // cy
      "3 Eanáir 2017" -> "2017-01-03",                               // ga
      "3 Jannar 2017" -> "2017-01-03",                                    // mt
      "3 ጃንዩወሪ 2017" -> "2017-01-03"             // am
    )
    for ((in, want) <- goldens)
      assert(DateParse.parseDateIso(in) === want, s"input: '$in'")
  }

  test("multilingual goldens: round-17 tier-4 languages") {
    // Exact JDK-CLDR FULL (format-context) month names probed on this
    // JDK. Mongolian ("нэгдүгээр сар"), Somali ("Bisha Koobaad"), and
    // Yoruba emit MULTI-TOKEN month names — dead keys for a
    // single-token scanner, deliberately not goldened; Scottish Gaelic
    // goldens via its single-token SHORT form.
    val goldens = Seq(
      "3 ဇန်နဝါရီ 2017" -> "2017-01-03", // my
      "3 មករា 2017" -> "2017-01-03",                 // km
      "3 ມັງກອນ 2017" -> "2017-01-03",       // lo
      "3 Januwari 2017" -> "2017-01-03",                             // zu
      "3 Jenụwarị 2017" -> "2017-01-03",                         // ig
      "3 Janairu 2017" -> "2017-01-03",                              // ha
      "3 Mutarama 2017" -> "2017-01-03",                             // rw
      "3 Janoary 2017" -> "2017-01-03",                              // mg
      "3. januar 2017" -> "2017-01-03",                              // fo (= da/nb)
      "3 Jannewaris 2017" -> "2017-01-03",                           // fy
      "3 Faoi 2017" -> "2017-01-03",                                 // gd SHORT
      "3 Genver 2017" -> "2017-01-03",                               // br
      "3 Январ 2017" -> "2017-01-03",                    // tg
      "3 ýanwar 2017" -> "2017-01-03",                               // tk
      "3 гыйнвар 2017" -> "2017-01-03",               // tt
      "3 جنوري 2017" -> "2017-01-03",                           // ps
      "3 জানুৱাৰী 2017" -> "2017-01-03",   // as
      "3 ଜାନୁଆରୀ 2017" -> "2017-01-03",       // or
      // May forms that differ across the tier (agree where they collide)
      "3 Mayu 2017" -> "2017-05-03",                                 // ha
      "3 Mee 2017" -> "2017-05-03",                                  // ig/lb (agree)
      "3 Maaie 2017" -> "2017-05-03"                                 // fy
    )
    for ((in, want) <- goldens)
      assert(DateParse.parseDateIso(in) === want, s"input: '$in'")
    // the English exclusion: Hausa's SHORT May is literally "May" — it
    // must NOT enter the month table (fallbackFormats own English);
    // "3 May 2017" still parses via the US chain
    assert(DateParse.parseDateIso("3 May 2017") === "2017-05-03")
  }

  test("multilingual goldens: round-18 tier-5 languages") {
    // Exact JDK-CLDR FULL (format-context) month names as this JDK's
    // DateFormatSymbols prints them. Lingala, Romansh, Cornish, ckb
    // and Sakha-May emit MULTI-TOKEN names — dead keys for a
    // single-token scanner, deliberately not goldened.
    val goldens = Seq(
      "3 يانۋار 2017" -> "2017-01-03", // ug
      "3 ཟླ་བ་དང་པོ 2017" -> "2017-01-03", // bo
      "3 ጥሪ 2017" -> "2017-01-03", // ti
      "3 Amajjii 2017" -> "2017-01-03", // om
      "3 Samwiyee 2017" -> "2017-01-03", // wo
      "3 Ndira 2017" -> "2017-01-03", // sn
      "3 Janyuwari 2017" -> "2017-01-03", // xh
      "3 Janwaliyo 2017" -> "2017-01-03", // lg
      "3 zanwuye 2017" -> "2017-01-03", // bm
      "3 dzove 2017" -> "2017-01-03", // ee
      "3 Nzero 2017" -> "2017-01-03", // rn
      "3 יאַנואַר 2017" -> "2017-01-03", // yi
      "3 januaro 2017" -> "2017-01-03", // eo
      "3 ođđajagemánnu 2017" -> "2017-01-03", // se
      "3 Zenâr 2017" -> "2017-01-03", // fur
      "3 Kohitātea 2017" -> "2017-01-03", // mi
      "3 Ianuali 2017" -> "2017-01-03", // haw
      "3 Sānuali 2017" -> "2017-01-03", // to
      "3 rêbendanê 2017" -> "2017-01-03", // ku (kmr)
      "3 جنوري 2017" -> "2017-01-03", // sd
      "3 Тохсунньу 2017" -> "2017-01-03", // sah
      // May forms across the tier (collisions agree where they exist:
      // haw Mei = id Mei, wo Mee = ig Mee, qu Mayo = es mayo)
      "3 Méi 2017" -> "2017-05-03", // su
      "3 Boaldyn 2017" -> "2017-05-03", // gv
      "3 Haratua 2017" -> "2017-05-03", // mi
      "3 Caamsa 2017" -> "2017-05-03", // om
      "3 Chivabvu 2017" -> "2017-05-03", // sn
      "3 gulanê 2017" -> "2017-05-03") // ku
    for ((in, want) <- goldens)
      assert(DateParse.parseDateIso(in) === want, s"input: '$in'")
    // ce январь collides with ru's STANDALONE январь — both January,
    // so the key survives the disagreement filter and parses
    assert(DateParse.parseDateIso("3 январь 2017") === "2017-01-03")
  }

  test("thai dates: Buddhist-era year converts, CE year passes through") {
    // มกราคม = January; 2560 BE = 2017 CE (dateparser converts BE for th)
    assert(DateParse.parseDateIso(
      "3 มกราคม 2560") === "2017-01-03")
    // a Thai month with an already-CE year stays CE (gate is year>=2400)
    assert(DateParse.parseDateIso(
      "3 มกราคม 2017") === "2017-01-03")
    // พฤษภาคม = May, with a time component
    assert(DateParse.parseDatetimeIso(
      "3 พฤษภาคม 2560 14:30") === "2017-05-03T14:30:00")
  }

  test("vietnamese marker dates: thang-N two-token month via regex") {
    assert(DateParse.parseDateIso("ngày 3 tháng 5 năm 2017") === "2017-05-03")
    assert(DateParse.parseDateIso("3 tháng 5, 2017") === "2017-05-03")
    assert(DateParse.parseDateIso("3 thg 5 2017") === "2017-05-03")
    // accent-stripped typing parses identically
    assert(DateParse.parseDateIso("ngay 3 thang 5 nam 2017") === "2017-05-03")
    assert(DateParse.parseDatetimeIso("3 tháng 5 năm 2017 14:30:05") === "2017-05-03T14:30:05")
    // month out of range refuses
    intercept[IllegalArgumentException] { DateParse.parseDateIso("3 tháng 13 2017") }
  }

  test("ambiguous month tokens are excluded, not guessed (Slavic false friends)") {
    // Croatian lipanj=6 / Polish lipiec=7 share the short 'lip';
    // srpanj=7 / sierpień=8 share 'srp' — a language-free scanner must
    // refuse these tokens rather than pick a language
    val amb = DateParse.ambiguousMonthTokens
    assert(amb.contains("lip"), s"expected 'lip' ambiguous, got $amb")
    // a date written with an excluded token fails LOUDLY (unknown word)
    intercept[IllegalArgumentException] { DateParse.parseDateIso("3 lip 2017") }
    // the unambiguous full names on both sides still parse
    assert(DateParse.parseDateIso("17 lipca 2014") === "2014-07-17")   // pl genitive
    assert(DateParse.parseDateIso("17. lipnja 2014.") === "2014-06-17") // hr genitive
  }

  test("multilingual: diacritic- and case-insensitive lookup") {
    assert(DateParse.parseDateIso("3 aout 2017") === "2017-08-03")   // fr sans ^
    assert(DateParse.parseDateIso("7. Marz 2021") === "2021-03-07")  // de sans umlaut
    assert(DateParse.parseDateIso("25 de marco de 2019") === "2019-03-25") // pt sans cedilla
    assert(DateParse.parseDateIso("3 ENERO 2017") === "2017-01-03")  // es uppercase
  }

  test("multilingual: abbreviated month names, optional trailing dot") {
    assert(DateParse.parseDateIso("3 ene. 2018") === "2018-01-03")   // es short
    assert(DateParse.parseDateIso("3 ene 2018") === "2018-01-03")
    assert(DateParse.parseDateIso("3 janv. 2018") === "2018-01-03")  // fr short
    assert(DateParse.parseDateIso("3 okt 1990") === "1990-10-03")    // de/nl/sv short
  }

  test("multilingual datetimes keep the time component") {
    assert(DateParse.parseDatetimeIso("3 января 2017 14:30") === "2017-01-03T14:30:00")
    assert(DateParse.parseDatetimeIso("3 de mayo de 2017 23:59:58") === "2017-05-03T23:59:58")
    assert(DateParse.parseDatetimeIso("2017年5月3日 14時30分") === "2017-05-03T14:30:00")
  }

  test("multilingual scan refuses ambiguity instead of guessing") {
    // two month names, an unknown word, two years: all throw rather
    // than silently producing a wrong date
    intercept[IllegalArgumentException] { DateParse.parseDateIso("mayo junio 2017") }
    intercept[IllegalArgumentException] { DateParse.parseDateIso("3 zzz mayo 2017") }
    intercept[IllegalArgumentException] { DateParse.parseDateIso("2016 mayo 2017") }
    // English stays on the US chain: a bad English date still throws
    intercept[IllegalArgumentException] { DateParse.parseDateIso("32nd May 2017") }
  }
}
