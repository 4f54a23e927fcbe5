package graft.functions

import java.time.{LocalDate, LocalDateTime, LocalTime}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Fuzzy date / datetime parsing (reference P5, `utils.py:505-518`).
  *
  * The reference delegates to the `dateparser` library with an optional
  * explicit strptime format list (`-df`). The golden fixtures
  * (FIXTURES.md §3/4/6) pin these shapes:
  *
  *   - "3rd May 2017"                   -> 2017-05-03   (ordinal day)
  *   - "10pm on April 4 1938"           -> 1938-04-04T22:00:00 (meridiem prefix)
  *   - "04/30/2005"                     -> 2005-04-30   (US slash date)
  *   - "5:45 10 December 2009"          -> 2009-12-10T05:45:00
  *   - "%y/%d/%m" on "03/02/01"         -> 2003-01-02   (2-digit year -> 20xx)
  *   - "%d of %B in the year %Y"        -> 2002-12-06
  *
  * Semantics preserved: explicit formats win over fuzzy parsing; date
  * variant truncates to the date; output is an ISO-8601 STRING (the
  * reference stores TEXT, not native dates, `utils.py:510-513`); NULL
  * passes through; unparseable non-null input raises (the reference
  * crashes the load on a failed parse — errors must propagate, not
  * silently null out).
  */
object DateParse {

  /** Translate a strptime format to a java.time pattern. Only directives
    * the reference's surface plausibly sees; %d/%m/%H accept non-padded
    * values (single-letter pattern), matching strptime's leniency.
    */
  def strptimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("M")
          case 'd' => sb.append("d")
          case 'B' => sb.append("MMMM")
          case 'b' => sb.append("MMM")
          case 'H' => sb.append("H")
          case 'I' => sb.append("h")
          case 'M' => sb.append("m")
          case 'S' => sb.append("s")
          case 'p' => sb.append("a")
          case '%' => sb.append('%')
          case other => sb.append(other)
        }
        i += 2
      } else if (c.isLetter) {
        // Quote whole literal-letter runs (e.g. "of" in "%d of %B") in
        // one quoted block — per-letter quoting would create '' pairs
        // that java.time reads as literal apostrophes.
        val start = i
        while (i < fmt.length && fmt.charAt(i).isLetter && fmt.charAt(i) != '%') i += 1
        sb.append("'").append(fmt.substring(start, i)).append("'")
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def fmt(pattern: String): DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .parseCaseInsensitive()
      .appendPattern(pattern)
      .parseDefaulting(ChronoField.HOUR_OF_DAY, 0)
      .parseDefaulting(ChronoField.MINUTE_OF_HOUR, 0)
      .parseDefaulting(ChronoField.SECOND_OF_MINUTE, 0)
      .toFormatter(java.util.Locale.US)

  private def fmtIn(pattern: String, locale: java.util.Locale): DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .parseCaseInsensitive()
      .appendPattern(pattern)
      .parseDefaulting(ChronoField.HOUR_OF_DAY, 0)
      .parseDefaulting(ChronoField.MINUTE_OF_HOUR, 0)
      .parseDefaulting(ChronoField.SECOND_OF_MINUTE, 0)
      .toFormatter(locale)

  /** Fallback chain of common concrete shapes (tried after user formats). */
  private lazy val fallbackFormats: Seq[DateTimeFormatter] = Seq(
    "yyyy-M-d'T'H:m:s", "yyyy-M-d H:m:s", "yyyy-M-d H:m", "yyyy-M-d",
    "M/d/yyyy H:m:s", "M/d/yyyy H:m", "M/d/yyyy",
    "d MMMM yyyy H:m", "d MMMM yyyy", "MMMM d yyyy H:m", "MMMM d yyyy",
    "MMMM d, yyyy", "d MMM yyyy", "MMM d yyyy", "MMM d, yyyy",
    "yyyyMMdd",
    // dotted European dates (day-first, dateparser's default for "."),
    // and y/m/d slashes (unambiguous: 4-digit year leads)
    "d.M.yyyy H:m:s", "d.M.yyyy H:m", "d.M.yyyy", "yyyy/M/d"
  ).map(fmt)

  /** Non-English month names (dateparser parses many languages; the
    * reference crashes nothing a user feeds it). Tried AFTER the full
    * US chain, so every previously-parsing input is untouched;
    * deterministic locale order.
    */
  private lazy val localizedFormats: Seq[DateTimeFormatter] = {
    import java.util.Locale
    val locales = Seq(Locale.GERMAN, Locale.FRENCH, new Locale("es"),
      Locale.ITALIAN, new Locale("pt"), new Locale("nl"))
    val shapes = Seq("d MMMM yyyy H:m", "d MMMM yyyy", "d. MMMM yyyy",
      "MMMM d yyyy", "d MMM yyyy", "d. MMM yyyy", "d 'de' MMMM 'de' yyyy")
    for (l <- locales; p <- shapes) yield fmtIn(p, l)
  }

  /** Month-name lookup across dateparser's top languages, built from
    * JDK CLDR data (no hand-copied tables): for each locale, the FULL /
    * SHORT month names in both FORMAT context (inflected — Russian
    * genitive "января", Polish "stycznia": the form that appears inside
    * a date string) and STANDALONE context, keyed lowercase with
    * diacritics stripped and any trailing '.' dropped, so "août",
    * "aout", "AOUT" and "ene." all resolve. First-locale-wins on the
    * rare cross-language key collision (collisions observed in CLDR all
    * agree on the month number anyway — "mar" is March in es/it/pt).
    * English is deliberately absent: every English shape already parses
    * via [[fallbackFormats]], and keeping this table non-English means
    * it can never shadow the US chain's semantics.
    */
  private lazy val monthTable: Map[String, Int] = {
    import java.util.Locale
    import java.time.Month
    import java.time.format.TextStyle
    // Tier 1 (r13): the 16 languages covering the overwhelming share of
    // real CSVs; tier 2 (r15): 20 more from the JDK's CLDR data —
    // Balkan/Baltic Slavic, Greek, Arabic/Hebrew (Gregorian month names;
    // the token scanner is order-free so RTL display order is moot),
    // Indonesian/Malay, Norwegian/Icelandic, Catalan/Galician, Azeri.
    // Tier 3 (r15): 28 more — the Indic scripts (Gregorian month names
    // transliterated), Caucasus/Central Asia, the European tail
    // (Celtic/Basque/Maltese/Belarusian/Bosnian), Swahili/Filipino/
    // Amharic/Urdu, and Thai (Thai-script month names; Buddhist-era
    // years are converted by the scanner — see the thaiMonth branch in
    // parseViaMonthTable). Deliberately NOT included: vi ("tháng N" is
    // two tokens — handled by the dedicated viDateRe instead), fa
    // (Jalali calendar), ja/ko/zh (marker-delimited, no month names —
    // the CJK regex covers the zh/ja forms). The build loop's
    // collision assert keeps every addition sound on future JDKs.
    val locales = Seq(Locale.GERMAN, Locale.FRENCH, new Locale("es"),
      new Locale("pt"), Locale.ITALIAN, new Locale("nl"), new Locale("ru"),
      new Locale("pl"), new Locale("tr"), new Locale("sv"), new Locale("da"),
      new Locale("cs"), new Locale("ro"), new Locale("fi"), new Locale("uk"),
      new Locale("hu"),
      new Locale("el"), new Locale("bg"), new Locale("sr"), new Locale("hr"),
      new Locale("sk"), new Locale("sl"), new Locale("lt"), new Locale("lv"),
      new Locale("et"), new Locale("ar"), new Locale("he"), new Locale("id"),
      new Locale("ms"), new Locale("ca"), new Locale("gl"), new Locale("nb"),
      new Locale("no"), new Locale("is"), new Locale("sq"), new Locale("mk"),
      new Locale("az")) ++
      Seq("hi", "bn", "ta", "te", "ml", "kn", "mr", "gu", "pa", "ne",
        "si", "ur", "ka", "hy", "be", "bs", "kk", "ky", "uz", "af",
        "sw", "fil", "eu", "cy", "ga", "mt", "am", "th").map(Locale.forLanguageTag) ++
      // Tier 4 (r17): the next ~22 by CSV frequency — SE Asia (Burmese/
      // Khmer/Lao script month names), Mongolian, the African tail
      // (Zulu/Yoruba/Igbo/Hausa/Somali/Kinyarwanda/Malagasy), the
      // European microlanguages (Faroese/Luxembourgish/Frisian/Scottish
      // Gaelic/Breton), Central Asia (Tajik/Turkmen/Tatar), Pashto, and
      // Assamese/Odia. All verified present in the JDK's CLDR (no root
      // fallback). Hausa's SHORT May is literally "May" — covered by
      // the englishKeys exclusion below, which keeps the documented
      // "English is deliberately absent" invariant true by construction
      // as tiers grow.
      Seq("my", "km", "lo", "mn", "zu", "yo", "ig", "ha", "so", "rw",
        "mg", "fo", "lb", "fy", "gd", "br", "tg", "tk", "tt", "ps",
        "as", "or")
        .map(Locale.forLanguageTag) ++
      // Tier 5 (r18; every tag verified to
      // carry real CLDR month data in this JDK; root-fallback
      // candidates ht/sm/ny/st/tn/cv/ba print English names and are
      // excluded, as is tl, whose Spanish-derived names fil/es already
      // cover): Indonesia's regional giants (Javanese/Sundanese),
      // Uyghur, Tibetan/Dzongkha, the African tail (Tigrinya/Oromo/
      // Lingala/Wolof/Shona/Xhosa/Ganda/Akan/Bambara/Ewe/Rundi),
      // Yiddish, Esperanto, the European minority tail (Northern
      // Sami/Romansh/Manx/Cornish/Friulian), Oceania (Maori/Hawaiian/
      // Tongan), Quechua, Kurdish (kmr + ckb), Sindhi/Kashmiri, and
      // the Russian-Federation Caucasus/Siberia tail (Chechen/Ossetic/
      // Sakha). Multi-token names (ln, rm, kw, ckb, sah-May) are dead
      // keys for the single-token scanner — included for their
      // single-token months and SHORT forms.
      Seq("jv", "su", "ug", "bo", "dz", "ti", "om", "ln", "wo", "sn",
        "xh", "lg", "ak", "bm", "ee", "rn", "yi", "eo", "se", "rm",
        "gv", "kw", "fur", "mi", "haw", "to", "qu", "ckb", "ku", "sd",
        "ks", "ce", "os", "sah")
        .map(Locale.forLanguageTag)
    val styles = Seq(TextStyle.FULL, TextStyle.FULL_STANDALONE,
      TextStyle.SHORT, TextStyle.SHORT_STANDALONE)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // Keys on which two languages DISAGREE about the month number are
    // DROPPED from the table entirely (match neither) — a language-free
    // token scanner must refuse such tokens rather than guess: the
    // Slavic false-friend months are real (Croatian 'lip'/lipanj = June
    // vs Polish 'lip'/lipiec = July; the full names shift by one month
    // between hr/cs and pl). This is self-checking by construction —
    // a future JDK/CLDR update that introduces a new disagreement
    // silently REMOVES that key instead of silently mis-mapping it,
    // and the ambiguous set is exposed for tests as
    // [[ambiguousMonthTokens]].
    val ambiguous = scala.collection.mutable.LinkedHashSet.empty[String]
    // every English month form, excluded from the table no matter which
    // locale produces it (Hausa's SHORT May IS "May") — the US chain's
    // fallbackFormats own all English shapes
    val englishKeys: Set[String] = (for (m <- Month.values(); st <- styles)
      yield normalizeToken(m.getDisplayName(st, Locale.ENGLISH))).toSet
    for (l <- locales; m <- Month.values(); st <- styles) {
      val k = normalizeToken(m.getDisplayName(st, l))
      if (k.nonEmpty && k.exists(_.isLetter) && !englishKeys(k)) out.get(k) match {
        case None => if (!ambiguous.contains(k)) out(k) = m.getValue
        case Some(v) => if (v != m.getValue) { ambiguous += k; out.remove(k) }
      }
    }
    ambiguousMonthTokensRef.set(ambiguous.toSet)
    out.toMap
  }

  private val ambiguousMonthTokensRef =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)

  /** Month-name keys excluded for cross-language disagreement (forces
    * [[monthTable]] to build first). Spec-pinned so the exclusion list
    * changes loudly when locales or the JDK's CLDR data change.
    */
  private[graft] def ambiguousMonthTokens: Set[String] = {
    monthTable // force the build
    ambiguousMonthTokensRef.get()
  }

  /** lowercase + NFD diacritic strip + trailing-'.' drop — the lookup
    * normalization shared by table keys and input tokens.
    */
  private def normalizeToken(s: String): String = {
    val lower = s.toLowerCase(java.util.Locale.ROOT).stripSuffix(".")
    val nfd = java.text.Normalizer.normalize(lower, java.text.Normalizer.Form.NFD)
    nfd.filterNot(c => Character.getType(c) == Character.NON_SPACING_MARK)
  }

  // connector words dateparser skips inside date phrases: "3 de mayo de
  // 2017" (es/pt), "2017 r." (pl, roku), "2017 г." / "2017 года" (ru,
  // Cyrillic ge) — minimal: just the ones in the supported languages'
  // standard date shapes
  private val connectorTokens =
    Set("de", "del", "of", "den", "el", "r", "roku", "г", "года", "год",
      // tier-2 (r15): lt "2017 m. sausio 3 d." (metai/diena markers),
      // lv "2017. gada 3. janvāris"
      "m", "d", "gada",
      // tier-3 (r15): ka "2017 წლის 3 იანვარი" (year genitive marker),
      // hy "3 հունվարի, 2017 թ." (տարի abbreviation), kk/ky "2017 ж."
      // (жыл), uz "2017-yil 3-yanvar" → tokens keep "yil"
      "წლის", "թ", "ж", "жыл", "жылы", "yil")

  private val timeTokenRe = "^(\\d{1,2}):(\\d{2})(?::(\\d{2}))?$".r
  // CJK dates are marker-delimited, not month-named: 2017年5月3日 [5時30分]
  private val cjkDateRe =
    "^\\s*(\\d{4})年(\\d{1,2})月(\\d{1,2})日\\s*(?:(\\d{1,2})[時时](\\d{1,2})分?)?\\s*$".r
  // vi: "ngày 3 tháng 5 năm 2017" / "3 tháng 5, 2017" / "3 thg 5 2017",
  // optional hh:mm[:ss] — matched AFTER normalizeToken strips diacritics,
  // so the pattern is written accent-free (tháng→thang, năm→nam, ngày→ngay)
  private val viDateRe =
    ("^\\s*(?:ngay\\s+)?(\\d{1,2}),?\\s+(?:thang|thg)\\s+(\\d{1,2})" +
     "(?:\\s+nam)?,?\\s+(\\d{4})" +
     "(?:\\s+(\\d{1,2}):(\\d{2})(?::(\\d{2}))?)?\\s*$").r

  /** Language-table fuzzy parse: locate one month-name token, read the
    * 4-digit token as year and the remaining small numeric as day, with
    * an optional hh:mm[:ss] token anywhere. Token order is free — this
    * one rule covers "3 de mayo de 2017", "3. Mai 2017", "2017. május
    * 3.", "3 января 2017 14:30" alike, which is how dateparser's
    * order-free token scanner behaves.
    */
  private def parseViaMonthTable(v: String): Option[LocalDateTime] = {
    v match {
      case cjkDateRe(y, m, d, h, min) =>
        return Try(LocalDate.of(y.toInt, m.toInt, d.toInt).atTime(
          Option(h).map(_.toInt).getOrElse(0),
          Option(min).map(_.toInt).getOrElse(0))).toOption
      case _ =>
    }
    // vi: month is the two-token phrase "tháng N" (thg N), never a
    // single scannable token — a dedicated marker regex, like CJK.
    // Matched against the diacritic-stripped lowercase of the WHOLE
    // string so "tháng"/"thang", "năm"/"nam", "ngày"/"ngay" all hit.
    normalizeToken(v) match {
      case viDateRe(d, m, y, h, min, s) =>
        return Try(LocalDate.of(y.toInt, m.toInt, d.toInt).atTime(
          Option(h).map(_.toInt).getOrElse(0),
          Option(min).map(_.toInt).getOrElse(0),
          Option(s).map(_.toInt).getOrElse(0))).toOption
      case _ =>
    }
    val rawTokens = v.split("[\\s,]+").filter(_.nonEmpty).toSeq
    if (rawTokens.size < 3 || rawTokens.size > 7) return None
    var month = 0; var year = -1; var day = -1
    var thaiMonth = false
    var time: Option[LocalTime] = None
    for (t <- rawTokens) {
      val norm = normalizeToken(t)
      if (connectorTokens.contains(norm)) ()
      else if (monthTable.contains(norm)) {
        if (month != 0) return None // two month names: not a date
        month = monthTable(norm)
        // Thai-script month name: the year is (almost always) Buddhist
        // era — dateparser converts BE→CE when the language is th. The
        // scanner mirrors that, gated on the year actually being in BE
        // range (≥2400) so a Thai month with a CE year stays CE.
        thaiMonth = norm.exists(c => c >= '\u0E00' && c <= '\u0E7F')
      } else t match {
        case timeTokenRe(h, m, s) if time.isEmpty && h.toInt <= 23 =>
          time = Try(LocalTime.of(h.toInt, m.toInt,
            Option(s).map(_.toInt).getOrElse(0))).toOption
          if (time.isEmpty) return None
        case _ =>
          val digits = norm.stripSuffix(".") // "2017." / "3." (hu/de day dot)
          if (digits.nonEmpty && digits.forall(_.isDigit)) {
            val n = Try(digits.toInt).getOrElse(return None)
            if (digits.length == 4 && year < 0) year = n
            else if (n >= 1 && n <= 31 && day < 0) day = n
            else return None
          } else return None // an unknown word: refuse to guess
      }
    }
    if (month == 0 || year < 0 || day < 0) return None
    if (thaiMonth && year >= 2400) year -= 543 // Buddhist era → CE
    Try(LocalDate.of(year, month, day)
      .atTime(time.getOrElse(LocalTime.MIDNIGHT))).toOption
  }

  /** Timezone-bearing shapes: ISO offset datetimes plus space-separated
    * and RFC-822 (+0200) variants; trailing " UTC"/" GMT" pre-rewrites
    * to +00:00.
    */
  private lazy val offsetFormats: Seq[DateTimeFormatter] =
    DateTimeFormatter.ISO_OFFSET_DATE_TIME +: Seq(
      "yyyy-M-d H:m:sXXX", "yyyy-M-d H:m:sXX", "yyyy-M-d H:m:sX",
      "yyyy-M-d H:m:s XXX", "yyyy-M-d H:m:s XX",
      "yyyy-M-d'T'H:m:sXX", "yyyy-M-d'T'H:m:sX"
    ).map(p => new DateTimeFormatterBuilder()
      .parseCaseInsensitive().appendPattern(p).toFormatter(java.util.Locale.US))

  private val utcSuffixRe = "(?i)\\s+(UTC|GMT)\\s*$".r

  private val ordinalRe = "(?i)\\b(\\d{1,2})(st|nd|rd|th)\\b".r
  private val meridiemPrefixRe =
    "(?i)^\\s*(\\d{1,2})(?::(\\d{2}))?\\s*(am|pm)\\s+on\\s+(.*)$".r
  private val timePrefixRe =
    "^\\s*(\\d{1,2}):(\\d{2})(?::(\\d{2}))?\\s+(.*)$".r
  // dateparser-style relative grammar ("2 weeks ago", "in 3 days",
  // "a month ago"), resolved against an explicit base clock
  private val relAgoRe =
    "(?i)^\\s*(\\d+|an?)\\s+(second|minute|hour|day|week|month|year)s?\\s+ago\\s*$".r
  private val relInRe =
    "(?i)^\\s*in\\s+(\\d+|an?)\\s+(second|minute|hour|day|week|month|year)s?\\s*$".r
  private val relLastRe = "(?i)^\\s*last\\s+(week|month|year)\\s*$".r
  private val relNextRe = "(?i)^\\s*next\\s+(week|month|year)\\s*$".r

  // dateparser also resolves weekday relatives ("last tuesday", "next
  // friday"): last = most recent such weekday STRICTLY before the base
  // date, next = first strictly after (so on a Tuesday, "last tuesday"
  // is 7 days back, as relativedelta(weekday=TU(-1)) behaves on a
  // non-matching anchor)
  private val weekdayNum: Map[String, Int] = Map(
    "monday" -> 1, "tuesday" -> 2, "wednesday" -> 3, "thursday" -> 4,
    "friday" -> 5, "saturday" -> 6, "sunday" -> 7)
  private val relLastWeekdayRe =
    "(?i)^\\s*last\\s+(monday|tuesday|wednesday|thursday|friday|saturday|sunday)\\s*$".r
  private val relNextWeekdayRe =
    "(?i)^\\s*next\\s+(monday|tuesday|wednesday|thursday|friday|saturday|sunday)\\s*$".r

  // A leading weekday name (full or 3-letter, optional '.' and ',') is
  // informational — dateparser drops it: "Tuesday, 3rd May 2017",
  // "Tue 3 May 2017"
  private val weekdayPrefixRe =
    ("(?i)^\\s*(?:mon|tues?|wed(?:nes)?|thur?s?|fri|sat(?:ur)?|sun)(?:day)?" +
      "\\.?,?\\s+(.*)$").r

  private def shiftBy(base: LocalDateTime, nStr: String, unit: String,
      sign: Long): LocalDateTime = {
    val n = (if (nStr.equalsIgnoreCase("a") || nStr.equalsIgnoreCase("an")) 1L
             else nStr.toLong) * sign
    unit.toLowerCase match {
      case "second" => base.plusSeconds(n)
      case "minute" => base.plusMinutes(n)
      case "hour"   => base.plusHours(n)
      case "day"    => base.plusDays(n)
      case "week"   => base.plusWeeks(n)
      case "month"  => base.plusMonths(n) // calendar-aware, clamps like relativedelta
      case "year"   => base.plusYears(n)
    }
  }

  /** Parse one value, keeping any explicit UTC offset the input carried
    * (dateparser returns a tz-AWARE datetime for offset-bearing input,
    * and the reference's `dt.isoformat()` keeps the offset in the
    * stored TEXT — `utils.py:510-513`). Order: explicit strptime
    * `formats`, the relative grammar against `relativeBase`
    * (dateparser's RELATIVE_BASE — injectable so distributed runs and
    * tests resolve "2 weeks ago" against ONE deterministic clock, not
    * per-row `now()`), offset-bearing shapes, the fuzzy US chain, then
    * non-English month names. Returns None only for null/blank input;
    * throws on a value nothing can parse (reference error-propagation
    * semantics).
    */
  def parseFull(value: String, formats: Seq[String] = Nil,
      relativeBase: LocalDateTime = LocalDateTime.now())
      : Option[(LocalDateTime, Option[java.time.ZoneOffset])] = {
    if (value == null || value.trim.isEmpty) return None
    val v = value.trim

    def tryFormatter(f: DateTimeFormatter, s: String): Option[LocalDateTime] =
      Try(LocalDateTime.parse(s, f)).toOption

    val userFormatters = formats.map(f => fmt(strptimeToJava(f)))
    val viaUser = userFormatters.view.flatMap(f => tryFormatter(f, v)).headOption
    if (viaUser.isDefined) return viaUser.map((_, None))

    // Relative dates (dateparser `freshness_date_parser`): keyword
    // forms carry the base's own time-of-day, exactly as dateparser
    // resolves them against RELATIVE_BASE.
    v.toLowerCase match {
      case "now" | "today" => return Some((relativeBase, None))
      case "yesterday"     => return Some((relativeBase.minusDays(1), None))
      case "tomorrow"      => return Some((relativeBase.plusDays(1), None))
      case _               =>
    }
    v match {
      case relAgoRe(n, unit)  => return Some((shiftBy(relativeBase, n, unit, -1L), None))
      case relInRe(n, unit)   => return Some((shiftBy(relativeBase, n, unit, 1L), None))
      case relLastRe(unit)    => return Some((shiftBy(relativeBase, "1", unit, -1L), None))
      case relNextRe(unit)    => return Some((shiftBy(relativeBase, "1", unit, 1L), None))
      case relLastWeekdayRe(wd) =>
        val target = weekdayNum(wd.toLowerCase)
        val back = (relativeBase.getDayOfWeek.getValue - target + 7 - 1) % 7 + 1
        return Some((relativeBase.minusDays(back.toLong), None))
      case relNextWeekdayRe(wd) =>
        val target = weekdayNum(wd.toLowerCase)
        val fwd = (target - relativeBase.getDayOfWeek.getValue + 7 - 1) % 7 + 1
        return Some((relativeBase.plusDays(fwd.toLong), None))
      case _                  =>
    }

    // A leading weekday name is informational; strip it and let the
    // remainder take any later path ("Tuesday, 3rd May 2017"). Only
    // commits when the remainder actually parses, so a value that
    // merely STARTS like a weekday falls through to the normal error.
    v match {
      case weekdayPrefixRe(rest) if rest.nonEmpty =>
        Try(parseFull(rest, formats, relativeBase)).toOption.flatten match {
          case Some(r) => return Some(r)
          case None    =>
        }
      case _ =>
    }

    // Timezone-bearing shapes: wall-clock LocalDateTime + the offset,
    // NOT converted to UTC (python `dt.date()`/`dt.isoformat()` are
    // wall-clock too). Fractional seconds parse and truncate. An ISO
    // 'Z' suffix parses natively (ISO_OFFSET_DATE_TIME and the 'X'
    // patterns both read it as +00:00 — DateParseSpec pins it).
    val pre = utcSuffixRe.replaceFirstIn(v, "+00:00")
    val viaOffset = offsetFormats.view
      .flatMap(f => Try(java.time.OffsetDateTime.parse(pre, f)).toOption)
      .headOption
    viaOffset match {
      case Some(o) => return Some((o.toLocalDateTime.withNano(0), Some(o.getOffset)))
      case None =>
    }

    // Meridiem prefix: "10pm on April 4 1938" / "10:30am on ...".
    v match {
      case meridiemPrefixRe(h, m, ap, rest) =>
        val base = parse(rest, formats, relativeBase)
        return base.map { d =>
          val hour0 = h.toInt % 12
          val hour = if (ap.equalsIgnoreCase("pm")) hour0 + 12 else hour0
          (d.toLocalDate.atTime(LocalTime.of(hour, Option(m).map(_.toInt).getOrElse(0))),
            None)
        }
      case _ =>
    }
    // Leading bare time: "5:45 10 December 2009".
    v match {
      case timePrefixRe(h, m, s, rest) if rest.nonEmpty && !rest.forall(_.isDigit) =>
        val base = parse(rest, formats, relativeBase)
        if (base.isDefined)
          return base.map(d => (d.toLocalDate.atTime(
            LocalTime.of(h.toInt, m.toInt, Option(s).map(_.toInt).getOrElse(0))), None))
      case _ =>
    }

    // Strip ordinal suffixes: "3rd May 2017" / "May 3rd, 2017" ->
    // "3 May 2017" / "May 3, 2017".
    val deOrdinal = ordinalRe.replaceAllIn(v, mm => mm.group(1))
    val hit = (fallbackFormats.view ++ localizedFormats.view)
      .flatMap(f => tryFormatter(f, deOrdinal)).headOption
      // last: the order-free multilingual month-name scan (diacritic-
      // and case-insensitive, CLDR-backed) + CJK marker dates
      .orElse(parseViaMonthTable(deOrdinal))
    hit match {
      case Some(d) => Some((d, None))
      case None =>
        throw new IllegalArgumentException(s"Unable to parse date value: '$value'")
    }
  }

  def parse(value: String, formats: Seq[String] = Nil,
      relativeBase: LocalDateTime = LocalDateTime.now()): Option[LocalDateTime] =
    parseFull(value, formats, relativeBase).map(_._1)

  def parseDateIso(value: String): String = parseDateIso(value, Nil)

  def parseDatetimeIso(value: String): String = parseDatetimeIso(value, Nil)

  def parseDateIso(value: String, formats: Seq[String]): String =
    parse(value, formats).map(_.toLocalDate.toString).orNull

  def parseDateIso(value: String, formats: Seq[String],
      relativeBase: LocalDateTime): String =
    parse(value, formats, relativeBase).map(_.toLocalDate.toString).orNull

  /** `dt.isoformat()` parity: wall-clock datetime, and the input's own
    * offset appended when it carried one (python prints "+00:00" for
    * UTC, never "Z").
    */
  private def isoDatetime(d: LocalDateTime, off: Option[java.time.ZoneOffset]): String = {
    val s = d.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    off match {
      case Some(o) => s + (if (o.getTotalSeconds == 0) "+00:00" else o.getId)
      case None    => s
    }
  }

  def parseDatetimeIso(value: String, formats: Seq[String]): String =
    parseFull(value, formats).map((isoDatetime _).tupled).orNull

  def parseDatetimeIso(value: String, formats: Seq[String],
      relativeBase: LocalDateTime): String =
    parseFull(value, formats, relativeBase).map((isoDatetime _).tupled).orNull

  /** Column-level API. `formats` is captured at plan time (it comes from
    * the CLI `-df` flags, not from data). Backed by a native codegen
    * expression ([[graft.expressions.FuzzyDateParse]]) rather than a
    * UDF: date columns are fact-table-wide.
    */
  def parseDate(c: Column, formats: Seq[String] = Nil,
      relativeBase: Option[LocalDateTime] = None): Column =
    graft.expressions.FuzzyDateParse.parse_date(c, formats, relativeBase)

  def parseDatetime(c: Column, formats: Seq[String] = Nil,
      relativeBase: Option[LocalDateTime] = None): Column =
    graft.expressions.FuzzyDateParse.parse_datetime(c, formats, relativeBase)
}
