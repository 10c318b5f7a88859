package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The try_cast / try_to_timestamp cascade that the native
  * `shaped_date` kernel ([[graft.functions.NativeText.shapedDate]])
  * replaced in [[graft.etl.Grabbers.permissiveTimestamp]], kept
  * verbatim as its executable specification: EnrichSpec's parity sweep
  * compares the two. Like the HOF forms in [[HofText]], it is a
  * reference for the specs, not a code path of the program. */
object DateCascade {

  def permissiveTimestamp(c0: Column): Column = {
    // empty clock fractions stripped first ("9:30." ≡ "9:30", also
    // mid-string before zone/meridiem suffixes — dateutil's tokenizer
    // swallows them; probed): TWO passes, mirroring the kernel's two
    // replaceAll calls ("9:30.." needs the second; ≥3 dots stay
    // unparsed on both sides). A dot followed by digits is a real
    // fraction and never matches; a fraction followed by a dot
    // ("9:30.5.") never matches either — documented divergence
    // (dateutil misreads the trailing "5." as a DAY token). A clock
    // comma is dateutil's decimal comma ("12:30:15,123" — r11) and is
    // rewritten to a dot first; a clock comma with no digit after it
    // is swallowed like the empty dot.
    val commaFrac = "(\\d{1,2}:\\d{1,2}(?::\\d{1,2})?),(?=\\d)"
    val dotless = "(\\d{1,2}:\\d{1,2}(?::\\d{1,2})?)[.,](?!\\d)"
    val cn = regexp_replace(regexp_replace(regexp_replace(c0,
      commaFrac, "$1."), dotless, "$1"), dotless, "$1")
    // leading weekday tokens (r11): dateutil skips them before a dated
    // remainder, anchors day-less remainders to the first matching
    // weekday, and shifts default-date clocks ("SUN 12:30" →
    // 0001-01-07T12:30) — the kernel's weekdayPrefix/applyWeekday rules
    val wdFull = "MONDAY|TUESDAY|WEDNESDAY|THURSDAY|FRIDAY|SATURDAY|SUNDAY"
    val wdAb = "MON|TUE|WED|THU|FRI|SAT|SUN"
    val wdStrip = s"^(?:(?:$wdFull|$wdAb)(?:, *| +|$$))+"
    val wdFirst = regexp_extract(cn, s"^($wdFull|$wdAb)(?:,| |$$)", 1)
    val hasWd = wdFirst =!= ""
    val wd = element_at(typedLit(Map(
      "MON" -> 0, "TUE" -> 1, "WED" -> 2, "THU" -> 3, "FRI" -> 4,
      "SAT" -> 5, "SUN" -> 6, "MONDAY" -> 0, "TUESDAY" -> 1,
      "WEDNESDAY" -> 2, "THURSDAY" -> 3, "FRIDAY" -> 4, "SATURDAY" -> 5,
      "SUNDAY" -> 6)), wdFirst)
    val c = when(hasWd, regexp_replace(cn, wdStrip, "")).otherwise(cn)
    // ONE native shape-classifier call replaces the per-family anchored
    // rlike gates (the classifier is property-pinned to the exact
    // regexes); every parse still goes through Spark's own
    // try_cast/try_to_timestamp, so parse semantics are untouched.
    val sh = graft.functions.NativeText.dateShape(c)
    val base = coalesce(
      when(sh === 1,
        try_to_timestamp(regexp_replace(c, "/", "-"), lit("y-M-d"))),
      // M/d/y with dateutil's month/day auto-swap ("13/5/1999" → May
      // 13, probed r11): the swapped string parses only when the
      // original does not
      when(sh === 2, coalesce(
        try_to_timestamp(c, lit("M/d/y")),
        try_to_timestamp(regexp_replace(c,
          "^(\\d{1,2})/(\\d{1,2})/", "$2/$1/"), lit("M/d/y")))),
      when(sh === 3,
        try_to_timestamp(translate(c, ".", "-"), lit("y-M-d"))),
      monthNamed(c, sh),
      // cast LAST, mirroring the kernel form: shape 15 must claim
      // zone-name suffixes before Spark's cast resolves them to offsets
      c.try_cast(org.apache.spark.sql.types.TimestampType))
    when(hasWd, weekdaySpec(base, c, sh, wd)).otherwise(base)
  }

  /** The weekday post-rules (kernel applyWeekday, all probed): an
    * empty remainder is 0001-01-(1+wd); a bare numeric remainder takes
    * the single-token rule (>31 or 3+ digits → windowed year whose
    * first matching weekday wins; else an explicit day of the default
    * date); a day-less remainder moves to the first matching weekday
    * on or after its base; a default-date clock (year 1) shifts by the
    * weekday's offset from Monday. */
  private def weekdaySpec(base: Column, c: Column, sh: Column,
      wd: Column): Column = {
    val wdName = element_at(typedLit(
      Seq("MON", "TUE", "WED", "THU", "FRI", "SAT", "SUN")), wd + 1)
    val bv = c.cast("int")
    val yearishBare = (length(c) >= 3) || (bv > 31)
    // day state (kernel dayState, probed r11): 1 = date without a day
    // (first matching weekday on/after the NAIVE base — before any
    // zone offset), 2 = date-less clock (+wd days from Monday),
    // 0 = explicit day (no adjustment)
    val st = when(c.rlike("^\\d{4}(-\\d{1,2})?$"), lit(1))
      .otherwise(dayStateSpec(c, sh))
    val naive = when(sh.isin(15, 18, 19, 20),
      naivePrefix(suffixStripSpec(c, sh))).otherwise(base)
    val mi = pmod(dayofweek(naive.cast("date")) + 5, lit(7)) // MON=0..SUN=6
    val adjDays = when(st === 1, pmod(wd - mi, lit(7)))
      .when(st === 2, wd)
      .otherwise(lit(0))
    when(c === "",
      concat(lit("0001-01-0"), (wd + 1).cast("string"))
        .try_cast(org.apache.spark.sql.types.TimestampType))
      .when(c.rlike("^\\d{1,4}$"),
        when(yearishBare,
          next_day(date_sub(make_date(windowYearCol(bv), lit(1), lit(1)), 1),
            wdName).cast(org.apache.spark.sql.types.TimestampType))
          .otherwise(try_make_timestamp(lit(1), lit(1), bv,
            lit(0), lit(0), lit(0))))
      .otherwise(base + make_dt_interval(adjDays.cast("long"),
        lit(0), lit(0), lit(0)))
  }

  /** One-level suffix strip for shapes 15/18/19/20 (the kernel's
    * suffixBase in regex form). */
  private def suffixStripSpec(c: Column, sh: Column): Column =
    when(sh === 15, regexp_replace(c, " ?[A-Z]{1,5}$", ""))
      .when(sh === 18,
        regexp_replace(c, " ?[A-Z]{1,5}[+-]\\d{1,2}(:\\d{1,2})?$", ""))
      .when(sh === 19, regexp_replace(c,
        " ?[A-Z]{1,5} [+-](\\d{1,2}(:\\d{1,2})?|\\d{4})$", ""))
      .when(sh === 20, regexp_replace(c,
        " ?[+-](\\d{1,2}(:\\d{1,2})?|\\d{4})$", ""))
      .otherwise(c)

  /** Column mirror of the kernel's dayState (0/1/2 — see weekdaySpec).
    * Suffix shapes strip one level and re-classify their naive base. */
  private def dayStateSpec(c: Column, sh: Column): Column = {
    val isoDay = "^\\d{4}-\\d{1,2}-\\d{1,2}[T ]"
    val base = suffixStripSpec(c, sh)
    val sub = graft.functions.NativeText.dateShape(base)
    val subSt = when(sub === 6, lit(1))
      .when(sub === 16 || sub === 17 || sub === 0,
        when(base.rlike(isoDay), lit(0)).otherwise(lit(2)))
      .when(sub === 22,
        when(monthFlexParts(base, hasClock = false)._2, lit(1)).otherwise(lit(0)))
      .when(sub === 25,
        when(monthFlexParts(base, hasClock = true)._2, lit(1)).otherwise(lit(0)))
      .otherwise(lit(0))
    when(sh === 6, lit(1))
      .when(sh === 16 || sh === 17,
        when(c.rlike(isoDay), lit(0)).otherwise(lit(2)))
      .when(sh === 22,
        when(monthFlexParts(c, hasClock = false)._2, lit(1)).otherwise(lit(0)))
      .when(sh === 25,
        when(monthFlexParts(c, hasClock = true)._2, lit(1)).otherwise(lit(0)))
      .when(sh.isin(15, 18, 19, 20), subSt)
      .otherwise(lit(0))
  }

  /** dateutil's convertyear in Column form (kernel windowYear): an
    * explicit year below 100 lands in the run year's century, then
    * shifts a century toward the run year when >= 50 away. */
  private def windowYearCol(y0: Column): Column = {
    val runYear = java.time.Year.now.getValue
    val y = y0 + lit((runYear / 100) * 100)
    when(y0 < 100,
      when(abs(y - runYear) >= 50,
        when(y < runYear, y + 100).otherwise(y - 100)).otherwise(y))
      .otherwise(y0)
  }

  // the flex clock tail shared by shapes 25/26 (r11): boundary ' ' or
  // 'T', H:M[:S][.frac], optional spaced-or-attached meridiem
  private val FlexClockRe = "[T ]((\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}))?" +
    "(?:\\.(\\d+))?(?: ?([AP])M?)?)$"

  /** The assembled " H:M:S[.frac]" of a flex clock with dateutil's
    * meridiem rules applied to the hour and the minute-fraction rule
    * folded in (second = int(60·frac) when the clock has no seconds
    * group) — so the caller needs only ONE try_cast, not the
    * clockCore rewrite (which multiplies the assembled subtree and
    * blew up the converted plan). "" when the shape has no clock,
    * null when the meridiem is invalid (hour > 12). */
  private def flexClockStr(c: Column, hasClock: Boolean): Column = {
    if (!hasClock) return lit("")
    val hh = meridiemHour(regexp_extract(c, FlexClockRe, 2).cast("int"),
      regexp_extract(c, FlexClockRe, 6))
    val ss = regexp_extract(c, FlexClockRe, 4)
    val frac = regexp_extract(c, FlexClockRe, 5)
    val ssFin = when(ss =!= "", ss)
      .when(frac =!= "",
        floor(concat(lit("0."), frac).cast("double") * 60).cast("string"))
      .otherwise(lit("0"))
    val fracFin = when(ss =!= "" && frac =!= "", concat(lit("."), frac))
      .otherwise(lit(""))
    concat(lit(" "), hh.cast("string"), lit(":"),
      regexp_extract(c, FlexClockRe, 3), lit(":"), ssFin, fracFin)
  }

  /** Column mirror of the kernel's month-flex resolution (shapes
    * 22/25, r11 — probed permutation rules): returns the parsed
    * timestamp and the day-less flag (weekday adjustment). Token
    * resolution: a 3+-digit or >31 numeric is the YEAR; two small
    * numerics assign (year, day) when the month token is LAST and
    * (day, year) otherwise; two year-like numerics conflict → null;
    * explicit years below 100 window (convertyear). All intermediates
    * are FLAT regex extracts over the normalized string — nesting
    * when-trees of when-trees makes the converted expression plan
    * exponential (it OOMed the plan build). */
  private def monthFlexParts(c: Column, hasClock: Boolean): (Column, Column) = {
    val dp = if (hasClock) regexp_replace(c, FlexClockRe, "") else c
    val norm = trim(regexp_replace(regexp_replace(dp,
      "(\\d)(ST|ND|RD|TH)", "$1"), "[ ,.\\-/]+", " "))
    val mVal = element_at(monthMap, regexp_extract(norm, "([A-Z]+)", 1))
    val mLast = norm.rlike("[A-Z]+$")
    val nums = trim(regexp_replace(regexp_replace(norm,
      "[A-Z]+", ""), "  +", " "))
    val n1 = nullif(regexp_extract(nums, "^(\\d+)", 1), lit(""))
    val n2 = nullif(regexp_extract(nums, " (\\d+)$", 1), lit(""))
    val v1 = n1.cast("int"); val v2 = n2.cast("int")
    val y1ish = n1.isNotNull && ((length(n1) >= 3) || (v1 > 31))
    val y2ish = n2.isNotNull && ((length(n2) >= 3) || (v2 > 31))
    val two = n2.isNotNull
    val conflict = y1ish && y2ish
    val yRaw = when(y1ish, v1).when(y2ish, v2)
      .when(two && mLast, v1).when(two, v2)
    val dRaw = when(y1ish, when(two, v2))
      .when(y2ish, v1)
      .when(two && mLast, v2).when(two, v1)
      .when(n1.isNotNull, v1)
    val full = when(!conflict, concat(
      lpad(coalesce(windowYearCol(yRaw), lit(1)).cast("string"), 4, "0"),
      lit("-"), mVal.cast("string"), lit("-"),
      coalesce(dRaw, lit(1)).cast("string"), flexClockStr(c, hasClock)))
    (full.try_cast(org.apache.spark.sql.types.TimestampType), dRaw.isNull)
  }

  /** Column mirror of the kernel's numeric-flex resolution (shapes
    * 23/26, r11 — probed): a leading year-like field is Y-M-D with no
    * swap; a trailing year-like field (or all-small fields with a
    * windowed year) is M-D-Y with dateutil's month/day auto-swap. */
  private def numFlexTs(c: Column, hasClock: Boolean): Column = {
    val dp = if (hasClock) regexp_replace(c, FlexClockRe, "") else c
    val norm = trim(regexp_replace(regexp_replace(dp,
      "(\\d)(ST|ND|RD|TH)", "$1"), "[ ,.\\-/]+", " "))
    val t1 = regexp_extract(norm, "^(\\d+)", 1)
    val t2 = regexp_extract(norm, "^\\d+ (\\d+)", 1)
    val t3 = regexp_extract(norm, " (\\d+)$", 1)
    val v1 = t1.cast("int"); val v2 = t2.cast("int"); val v3 = t3.cast("int")
    def yish(t: Column, v: Column) = (length(t) >= 3) || (v > 31)
    val clock = flexClockStr(c, hasClock)
    def ts(y: Column, m: Column, d: Column): Column =
      concat(lpad(y.cast("string"), 4, "0"), lit("-"),
        m.cast("string"), lit("-"), d.cast("string"), clock)
        .try_cast(org.apache.spark.sql.types.TimestampType)
    when(yish(t1, v1) && !yish(t3, v3), ts(windowYearCol(v1), v2, v3))
      .when(yish(t2, v2) && !yish(t3, v3),
        lit(null).cast(org.apache.spark.sql.types.TimestampType))
      .otherwise(coalesce(ts(windowYearCol(v3), v1, v2),
        ts(windowYearCol(v3), v2, v1)))
  }

  private val monthMap = typedLit(Map(
    "JAN" -> 1, "FEB" -> 2, "MAR" -> 3, "APR" -> 4, "MAY" -> 5,
    "JUN" -> 6, "JUL" -> 7, "AUG" -> 8, "SEP" -> 9, "OCT" -> 10,
    "NOV" -> 11, "DEC" -> 12, "JANUARY" -> 1, "FEBRUARY" -> 2,
    "MARCH" -> 3, "APRIL" -> 4, "JUNE" -> 6, "JULY" -> 7,
    "AUGUST" -> 8, "SEPTEMBER" -> 9, "OCTOBER" -> 10, "NOVEMBER" -> 11,
    "DECEMBER" -> 12))

  /** Compact yyyyMMdd + 'T' clock (shape 24, r11): "19990105T123015",
    * "…T1230", "…T12", bare "…T", spaced "19990105 T12", a seconds
    * fraction on 6-digit clocks, an optional meridiem. */
  private def compactTTs(c: Column): Column = {
    val re = "^(\\d{4})(\\d{2})(\\d{2}) ?T(?:(\\d{2})(\\d{2})?(\\d{2})?)?" +
      "(?:\\.(\\d+))?(?: ?([AP])M?)?$"
    def g(i: Int) = regexp_extract(c, re, i)
    val hh = meridiemHour(coalesce(nullif(g(4), lit("")).cast("int"), lit(0)),
      g(8))
    val frac = g(7)
    concat(g(1), lit("-"), g(2), lit("-"), g(3), lit(" "),
      hh.cast("string"), lit(":"),
      coalesce(nullif(g(5), lit("")), lit("00")), lit(":"),
      coalesce(nullif(g(6), lit("")), lit("00")),
      when(frac =!= "", concat(lit("."), frac)).otherwise(lit("")))
      .try_cast(org.apache.spark.sql.types.TimestampType)
  }

  /** Month-name formats dateutil accepts ("Jan 5, 1999", "5 March 2001",
    * "March 2001" — missing day defaults to 1 like dateutil's
    * default=datetime(1,1,1)), ordinal-day variants ("June 1st, 2000",
    * "1st March 2001"), and compact yyyyMMdd. Inputs arrive UPPERCASED
    * (dateGrabber
    * upper-cases first, conversions.py:589), so initcap restores the
    * "Jan"/"January" casing the case-sensitive Java month parser needs.
    * Every formatter attempt sits behind an anchored rlike gate — the
    * formatter's internal throw/catch only ever runs on rows shaped like
    * a month-name date. */
  private def monthNamed(c: Column, sh: Column): Column = {
    val t = initcap(c)
    coalesce(
      when(sh === 4, {
        val noComma = regexp_replace(t, ",", "")
        coalesce(
          try_to_timestamp(noComma, lit("MMM d y")),
          try_to_timestamp(noComma, lit("MMMM d y")))
      }),
      when(sh === 5,
        coalesce(
          try_to_timestamp(t, lit("d MMM y")),
          try_to_timestamp(t, lit("d MMMM y")))),
      when(sh === 6,
        coalesce(
          try_to_timestamp(t, lit("MMM y")),
          try_to_timestamp(t, lit("MMMM y")))),
      // dashed month-name dates: "5-MAR-2001" / "5-MARCH-2001"
      when(sh === 7,
        coalesce(
          try_to_timestamp(initcap(translate(c, "-", " ")), lit("d MMM y")),
          try_to_timestamp(initcap(translate(c, "-", " ")), lit("d MMMM y")))),
      // ordinal days ("JAN 1ST, 1999" / "1ST MARCH 2001"): after initcap
      // the suffix is lowercase — strip it, then parse as shapes 4/5
      when(sh === 8, {
        val deOrd = regexp_replace(regexp_replace(t, ",", ""),
          "(\\d)(st|nd|rd|th)", "$1")
        coalesce(
          try_to_timestamp(deOrd, lit("MMM d y")),
          try_to_timestamp(deOrd, lit("MMMM d y")))
      }),
      when(sh === 9, {
        val deOrd = regexp_replace(t, "(\\d)(st|nd|rd|th)", "$1")
        coalesce(
          try_to_timestamp(deOrd, lit("d MMM y")),
          try_to_timestamp(deOrd, lit("d MMMM y")))
      }),
      // compact "20140110" (dateutil parses 8-digit runs as yyyyMMdd)
      when(sh === 10, try_to_timestamp(c, lit("yyyyMMdd"))),
      // two-digit-year slash dates ("1/2/34" → 2034-01-02): dateutil's
      // convertyear (parser.py) windows the year to ±50 of the RUN year
      // — yy lands in the run year's century, then shifts a century
      // toward the run year when ≥50 away. The run year is captured at
      // plan build (a literal in the plan, like Enrich's fixed `now`),
      // so one job parses consistently; plans built in different
      // calendar years window differently, exactly as dateutil does.
      when(sh === 11, {
        val p = split(c, "/")
        val v1 = element_at(p, 1).cast("int")
        val v2 = element_at(p, 2).cast("int")
        val v3 = element_at(p, 3).cast("int")
        // dateutil's month/day auto-swap ("31/12/99" → Dec 31) and the
        // _ymd >31 lead-year rule ("80/8/29" → 1980-08-29), probed r11
        // year-first never swaps ("32/24/12" is a ParserError)
        when(v1 > 31,
          try_make_timestamp(windowYearCol(v1), v2, v3,
            lit(0), lit(0), lit(0)))
          .otherwise(coalesce(
            try_make_timestamp(windowYearCol(v3), v1, v2,
              lit(0), lit(0), lit(0)),
            try_make_timestamp(windowYearCol(v3), v2, v1,
              lit(0), lit(0), lit(0))))
      }),
      // r11 flex families: month-name permutations ("1999 JAN 5",
      // "10.JAN.1999", "JAN-5-1999", "MAY 99", bare "JAN") and numeric
      // permutations ("01-05-1999", "13.05.1999", "1999 01 05")
      when(sh === 22, monthFlexParts(c, hasClock = false)._1),
      when(sh === 23, numFlexTs(c, hasClock = false)),
      timeBearing(c, sh),
      // zone-NAME-suffixed datetimes ("2014-01-10 12:30:15 EST", the
      // attached "…12:30:15EST", "JAN 5, 1999 3:15 PM EST", the
      // date-less "12:30:15 EST"): dateutil identifies the trailing
      // 1-5-letter uppercase token as a tzname it cannot resolve and
      // returns the NAIVE parse (UnknownTimezoneWarning path), which
      // the reference pins to UTC (conversions.py:592-598) — so the
      // whole trailing letter run is stripped and the prefix
      // re-classified and parsed (double-zone prefixes never reach
      // here: the classifier rejects them)
      when(sh === 15, {
        val base = regexp_replace(c, " ?[A-Z]{1,5}$", "")
        naivePrefix(base)
      }),
      // zone name + POSIX offset ("… GMT+5", "EST+5" — shape 18):
      // dateutil's tzstr INVERTS the sign, so the UTC instant is the
      // naive prefix PLUS the printed offset for '+' (minus for '-');
      // minutes past 59 carry into hours, and ≥ 24h total is a
      // ValueError → null (probed)
      when(sh === 18, {
        val re = " ?[A-Z]{1,5}([+-])(\\d{1,2})(?::(\\d{1,2}))?$"
        val base = regexp_replace(c, re, "")
        val oh = regexp_extract(c, re, 2).cast("int")
        val om = coalesce(
          nullif(regexp_extract(c, re, 3), lit("")).cast("int"), lit(0))
        val offMin = (oh * 60 + om) *
          when(regexp_extract(c, re, 1) === "+", 1).otherwise(-1)
        when(abs(offMin) < 24 * 60,
          naivePrefix(base) + make_dt_interval(lit(0), lit(0), offMin, lit(0)))
      }),
      // zone name + SPACED offset ("… GMT +5", "… EST +0500" — shape
      // 19): dateutil consumes the orphan offset — DROPPED after a
      // UTC-equivalent name (UTC/GMT/Z: the naive clock is the
      // instant) and REPLACING the zone's offset with the AS-WRITTEN
      // sign after any other name (UTC instant = naive − offset; the
      // attached shape-18 POSIX inversion does NOT apply — probed)
      when(sh === 19, {
        val re = " ([+-])(?:(\\d{1,2})(?::(\\d{1,2}))?|(\\d{2})(\\d{2}))$"
        val base0 = regexp_replace(c, re, "")
        val name = regexp_extract(base0, "([A-Z]{1,5})$", 1)
        val base = regexp_replace(base0, " ?[A-Z]{1,5}$", "")
        val oh = coalesce(
          nullif(regexp_extract(c, re, 2), lit("")).cast("int"),
          nullif(regexp_extract(c, re, 4), lit("")).cast("int"))
        val om = coalesce(
          nullif(regexp_extract(c, re, 3), lit("")).cast("int"),
          nullif(regexp_extract(c, re, 5), lit("")).cast("int"), lit(0))
        val offMin = (oh * 60 + om) *
          when(regexp_extract(c, re, 1) === "+", 1).otherwise(-1)
        // a UTC-equivalent name drops the orphan offset WITHOUT
        // validating it ("4:10UTC -23:63" parses — probed r11)
        when(name.isin("UTC", "GMT", "Z"), naivePrefix(base))
          .otherwise(when(abs(offMin) < 24 * 60, naivePrefix(base) -
            make_dt_interval(lit(0), lit(0), offMin, lit(0))))
      }),
      // bare signed offset, NO zone name ("12:30:15 +5", attached
      // "…12:30:15+5", meridiem prefixes "9:30 PM +5" / "9:30PM+5" —
      // shape 20): dateutil builds tzoffset(None, as-written) — no
      // POSIX inversion — so the UTC instant is naive − offset, with
      // any meridiem applied to the hour first; ≥ 24 h is a
      // ValueError (probed)
      when(sh === 20, {
        val re = " ?([+-])(?:(\\d{1,2})(?::(\\d{1,2}))?|(\\d{2})(\\d{2}))$"
        val base = regexp_replace(c, re, "")
        val oh = coalesce(
          nullif(regexp_extract(c, re, 2), lit("")).cast("int"),
          nullif(regexp_extract(c, re, 4), lit("")).cast("int"))
        val om = coalesce(
          nullif(regexp_extract(c, re, 3), lit("")).cast("int"),
          nullif(regexp_extract(c, re, 5), lit("")).cast("int"), lit(0))
        val offMin = (oh * 60 + om) *
          when(regexp_extract(c, re, 1) === "+", 1).otherwise(-1)
        when(abs(offMin) < 24 * 60,
          naivePrefix(base) - make_dt_interval(lit(0), lit(0), offMin, lit(0)))
      }))
  }

  /** The naive prefix left after stripping a zone-name (15) or
    * zone-offset (18) suffix: a 12/14/16/17-shaped prefix re-enters
    * [[timeBearing]]; otherwise it must be the ISO clock core (with
    * the date optional — dateutil default-fills year-1 Jan 1). */
  private def naivePrefix(base: Column): Column = {
    val sh2 = graft.functions.NativeText.dateShape(base)
    coalesce(
      when(base.rlike("^\\d{4}-\\d{1,2}-\\d{1,2}[T ]\\d{1,2}:\\d{1,2}"),
        clockCore(base)),
      timeBearing(base, sh2))
  }

  /** dateutil's meridiem-to-24h rule over extracted clock columns
    * (parser.py _parse): hour > 12 with an explicit meridiem is a
    * ParserError (null here); PM lifts any hour below 12 (00 PM → 12);
    * 12 AM → 00; the token may be the bare letter ("9:30 P"). `ap` is
    * the extracted A/P letter ("" when the clock had no meridiem). */
  private def meridiemHour(hh0: Column, ap: Column): Column =
    when(ap =!= "" && hh0 > 12, lit(null).cast("int"))
      .when(ap === "P" && hh0 =!= 12, hh0 + 12)
      .when(ap === "A" && hh0 === 12, lit(0))
      .otherwise(hh0)

  /** The time-bearing families (12: month-name + clock, 13: ISO +
    * UTC/GMT, 14: slash date + clock, 16: clock + meridiem, 17: bare
    * clock) — shared between the top-level cascade and the
    * zone-suffixed shapes 15/18, whose stripped prefixes re-enter
    * these same parses via [[naivePrefix]]. */
  private def timeBearing(c: Column, sh: Column): Column =
    coalesce(
      // time-bearing month-name dates ("JAN 5, 1999 3:15 PM" family,
      // dateutil's default time handling): the date part reuses the
      // shape-4 path; the clock is assembled numerically so the
      // upper-cased AM/PM never meets the case-sensitive Java parser
      when(sh === 12, {
        val re = "^([A-Z]{3,9} \\d{1,2},? \\d{4}) " +
          "(\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}))?(?: ?([AP])M?)?$"
        val datePart = regexp_extract(c, re, 1)
        val hh0 = regexp_extract(c, re, 2).cast("int")
        val mm = regexp_extract(c, re, 3).cast("int")
        val ss = coalesce(
          nullif(regexp_extract(c, re, 4), lit("")).cast("int"), lit(0))
        val hh = meridiemHour(hh0, regexp_extract(c, re, 5))
        val noComma = regexp_replace(initcap(datePart), ",", "")
        val d = coalesce(
          try_to_timestamp(noComma, lit("MMM d y")),
          try_to_timestamp(noComma, lit("MMMM d y")))
        try_make_timestamp(year(d), month(d), dayofmonth(d), hh, mm, ss)
      }),
      // UTC/GMT-suffixed datetimes ("2014-01-10 12:30:15 UTC"): dateutil
      // resolves both names to +00:00 and the reference pins naive
      // values to UTC anyway (conversions.py:592-598), so stripping the
      // suffix and parsing in the session's UTC zone is value-identical
      // (clockCore carries the minute-fraction rewrite the cast lacks)
      when(sh === 13, clockCore(c.substr(lit(1), length(c) - 4))),
      // slash date + clock ("1/2/2014 3:15 PM"): shape-2 date (with the
      // r11 month/day auto-swap) + shape-12 clock assembly
      when(sh === 14, {
        val re = "^(\\d{1,2}/\\d{1,2}/\\d{4}) " +
          "(\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}))?(?: ?([AP])M?)?$"
        val datePart = regexp_extract(c, re, 1)
        val hh0 = regexp_extract(c, re, 2).cast("int")
        val mm = regexp_extract(c, re, 3).cast("int")
        val ss = coalesce(
          nullif(regexp_extract(c, re, 4), lit("")).cast("int"), lit(0))
        val hh = meridiemHour(hh0, regexp_extract(c, re, 5))
        val d = coalesce(
          try_to_timestamp(datePart, lit("M/d/y")),
          try_to_timestamp(regexp_replace(datePart,
            "^(\\d{1,2})/(\\d{1,2})/", "$2/$1/"), lit("M/d/y")))
        try_make_timestamp(year(d), month(d), dayofmonth(d), hh, mm, ss)
      }),
      // clock core + meridiem token ("2014-01-10 9:30 PM" / "…9:30P" /
      // the date-less "9:30 P"): parse the core with Spark's cast
      // (year-1 default for a missing date), then shift the hour by
      // dateutil's meridiem rules (hour > 12 + meridiem → null)
      when(sh === 16, {
        val re = "^((?:\\d{4}-\\d{1,2}-\\d{1,2}[T ]|T)?\\d{1,2}:\\d{1,2}" +
          "(?::\\d{1,2})?(?:\\.\\d+)?) ?([AP])M?$"
        val ts = clockCore(regexp_extract(c, re, 1))
        val hh = meridiemHour(hour(ts), regexp_extract(c, re, 2))
        when(hh.isNotNull,
          ts + make_dt_interval(lit(0), hh - hour(ts), lit(0), lit(0)))
      }),
      // bare clock (17): dateutil's default fills the missing date
      // with year-1 Jan 1 ("12:30:15" → 0001-01-01 12:30:15)
      when(sh === 17, clockCore(c)),
      // r11 clock-bearing flex families — in timeBearing so that
      // naivePrefix re-enters them under zone suffixes ("05 JAN 1999
      // 12:30:15 GMT", "01-05-1999 12:30:15 EST", "19990105T12 EST")
      when(sh === 24, compactTTs(c)),
      when(sh === 25, monthFlexParts(c, hasClock = true)._1),
      when(sh === 26, numFlexTs(c, hasClock = true)))

  /** The (optional-date) clock core as a timestamp: Spark's cast
    * parses it directly when the date is present (the rlike gate —
    * Spark's cast would otherwise fill a bare clock with TODAY's
    * date); a bare clock gets dateutil's default date (year 1, Jan 1)
    * prefixed first. A fraction after MINUTES (no seconds) is
    * dateutil's minute fraction — second = int(60 · frac), sub-second
    * remainder dropped ("9:30.999" → :59 exactly; probed) — rewritten
    * to explicit seconds before the cast, which otherwise rejects it.
    * Both paths keep the cast's validation and seconds-fraction
    * rules. */
  private def clockCore(core00: Column): Column = {
    // a leading bare 'T' marks an ISO time-of-day ("T12:30" — dateutil
    // default-date clock, r11); stripped so the bare-clock branch
    // below applies (Spark's cast would otherwise anchor it to TODAY)
    val core0 = regexp_replace(core00, "^T(?=\\d{1,2}:)", "")
    val mf = "^((?:\\d{4}-\\d{1,2}-\\d{1,2}[T ])?\\d{1,2}:\\d{1,2})\\.(\\d+)$"
    val mfSec = floor(concat(lit("0."), regexp_extract(core0, mf, 2))
      .cast("double") * 60).cast("int")
    val core = when(core0.rlike(mf),
        concat(regexp_extract(core0, mf, 1), lit(":"),
          lpad(mfSec.cast("string"), 2, "0")))
      .otherwise(core0)
    coalesce(
      when(core.rlike("^\\d{4}-"),
        core.try_cast(org.apache.spark.sql.types.TimestampType)),
      concat(lit("0001-01-01 "), core)
        .try_cast(org.apache.spark.sql.types.TimestampType))
  }
}
