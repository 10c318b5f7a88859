package graft.operators

import graft.SparkSpec
import graft.functions.{MinhashKernel, NativeText}
import org.apache.spark.sql.functions._

/** Parity + shape specs for the native text-dedup kernels
  * (graft.functions.NativeText / MinhashKernel). The SimHash kernel
  * must be BIT-IDENTICAL to the SQL formulation the DuckDB oracle
  * replays; the MinHash kernel only has to be a valid universal-hash
  * minhash family (its oracle is ground-truth Jaccard on strings). */
class NativeTextSpec extends SparkSpec {

  private lazy val texts = Seq(
    "spark shuffles data across partitions during wide transformations",
    "the the the repeated words words collapse to a distinct set",
    "unicode wörds welt café 東京 mixed in",
    "single",
    "",
    "double  space and trailing space ",
  )

  test("md5Hash60 equals conv(substr(md5(w),1,15),16,10) for every word") {
    val s = spark
    import s.implicits._
    val words = texts.flatMap(_.split(" ", -1)).distinct
    val viaSql = words.toDF("w")
      .select(col("w"), conv(substring(md5(col("w")), 1, 15), 16, 10)
        .cast("long").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      val kernel = MinhashKernel.md5Hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(w))
      assert(kernel === viaSql(w), s"word '$w'")
    }
  }

  test("simhash60 kernel is bit-identical to the aggregate formulation") {
    val s = spark
    import s.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val agg = HofText.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = docs.select(col("doc_id"),
        NativeText.simhash60(split(col("text"), " ")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the aggregate path drops docs whose explode produced no rows;
    // every doc here has at least one word (split("") = [""])
    assert(kernel === agg)
  }

  test("minhash sig: 64 values in [0, P); empty when fewer words than n") {
    val s = spark
    import s.implicits._
    val r = Seq(Tuple1("a b c d e")).toDF("t")
      .select(NativeText.minhashSig(split(col("t"), " "), 3))
      .collect()(0).getSeq[Long](0)
    assert(r.length === MinhashKernel.NumHashes)
    assert(r.forall(v => v >= 0 && v < MinhashKernel.P))
    val short = Seq(Tuple1("a b")).toDF("t")
      .select(NativeText.minhashSig(split(col("t"), " "), 3))
      .collect()(0).getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("minhash sig is deterministic and permutation-sensitive") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "x1 x2 x3 x4 x5 x6")).toDF("id", "t")
      .select(col("id"), NativeText.minhashSig(split(col("t"), " "), 3).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("identical docs collide on every LSH band; disjoint docs on none") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "p q r s t u v w"), (2L, "p q r s t u v w"),
      (3L, "m n o k l j i h")).toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      NativeText.minhashSig(split(col("text"), " "), 3).as("sig"))
    val cands = TextDedup.lshCandidates(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands === Set((1L, 2L)))
  }

  test("repetitionStats matches a brute-force Scala computation") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "a b a b a b c",          // heavy bigram repetition
      "x y z w v u t",          // all distinct
      "r r r r r r",            // single repeated word
      "one two",                // no trigrams
      "solo",                   // no bigrams
    )
    val rows = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), graft.functions.NativeText.repetitionStats(
        split(col("t"), " ")).as("r"))
      .select("id", "r.n_words", "r.n_distinct", "r.top2", "r.dup2", "r.top3")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    cases.zipWithIndex.foreach { case (t, i) =>
      val w = t.split(" ", -1)
      def grams(n: Int) = w.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      val c2 = grams(2).groupBy(identity).view.mapValues(_.size)
      val c3 = grams(3).groupBy(identity).view.mapValues(_.size)
      val expect = (w.length.toLong, w.distinct.length.toLong,
        if (c2.isEmpty) 0L else c2.values.max.toLong,
        c2.values.filter(_ > 1).sum.toLong,
        if (c3.isEmpty) 0L else c3.values.max.toLong)
      assert(rows(i.toLong) === expect, s"case '$t'")
    }
  }

  test("textStats kernel matches the HOF column formulations exactly") {
    val s = spark
    import s.implicits._
    val stops = TextStats.stopwordProfiles("en")
    val docs = (texts :+ "the cat sat on the mat and the dog barked")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), col("text"), TextStats.words(col("text")).as("_w"))
    val hof = docs.select(col("id"),
        HofText.subwordCountFromWords(col("_w")).as("sub"),
        HofText.distinctTokenCountFromWords(col("_w")).as("nd"),
        HofText.avgTokenLenFromWords(col("_w")).as("avg"),
        HofText.stopwordRatioFromWords(col("_w"), stops).as("stop"),
        HofText.fingerprintFromWords(col("_w")).as("fp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) null else r.getLong(5))).toMap
    val kern = docs.select(col("id"), col("_w"),
        graft.functions.NativeTextStats.textStats(col("_w"), stops).as("r"))
      .select(col("id"), col("r.n_subwords"), col("r.n_distinct"),
        when(size(col("_w")) === 0, lit(0.0)).otherwise(
          col("r.sum_len").cast("double") / size(col("_w")).cast("double")),
        when(size(col("_w")) === 0, lit(0.0)).otherwise(
          col("r.stop_hits").cast("double") / size(col("_w")).cast("double")),
        col("r.fp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2).toInt,
        r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) null else r.getLong(5))).toMap
    assert(kern === hof)
  }

  test("langId kernel matches the column formulation including ties and 'und'") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      "the cat is in a box",              // en
      "der hund ist nicht hier",          // de
      "el perro es un animal",            // es
      "xyz qqq zzz",                      // und
      "de la",                            // es/fr tie → alphabetical first
      "").zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"), split(lower(col("text")), "\\s+").as("_w"))
    val hof = docs.select(col("id"), TextStats.langIdFromWords(col("_w")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val kern = docs.select(col("id"), graft.functions.NativeTextStats.langId(
        col("_w"), TextStats.stopwordProfiles.toSeq))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kern === hof)
  }

  test("sciParse kernel matches the Column parseSciName on golden shapes") {
    val s = spark
    import s.implicits._
    val names = Seq(
      "acer rubrum", "acer", "acer (acer) rubrum", "acer (acer)",
      "acer x rubrum", "acer var rubrum", "acer sp", "acer cf rubrum",
      "genus1 epithet22", "puma concolor (linnaeus, 1771)",
      "x hybridus", "a b", "ab cd-ef", "ab c3d",
      " acer  rubrum ", "\tacer rubrum", "", "  ", "acer rubrum extra",
      "(acer) rubrum", "acer (acer court.) rubrum", "acer 9digit",
      // hybrid markers: leading (hybrid genus) and infix (named hybrid)
      "x sorbaronia fallax", "× sorbaronia fallax", "salix × sepulcralis",
      "x triticosecale", "× aus", "aus × bus var cus", "x x aus",
      // authorship years: parens, comma, brackets, out-of-range, junk
      "aus bus smith 1900", "aus bus (smith, 1771)", "aus bus [1850]",
      "aus bus 1234", "aus bus 21000", "aus bus x1999", "aus bus 1999,",
      "aus bus l. 2020 and 1900",
      // structured authorship: basionym vs combination groups,
      // initials, connectors, rank markers with dots, unclosed parens
      "quercus alba l.", "quercus alba l., 1753",
      "x sorbaronia fallax (c.k.schneid.) c.k.schneid.",
      "aus bus (smith & jones, 1850) brown ex green, 1900",
      "aus bus var. cus hort. ex lam.", "aus bus (smith, 1850",
      "aus bus (smith) (jones)", "aus bus smith ex", "aus bus &")
    val df = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "sci")
    def seqOpt(r: org.apache.spark.sql.Row, i: Int): Option[Seq[String]] =
      if (r.isNullAt(i)) None else Some(r.getSeq[String](i))
    val (g, e) = graft.etl.Grabbers.parseSciName(col("sci"))
    val (ba, ca) = graft.etl.Grabbers.parseSciAuthors(col("sci"))
    val cols = df.select(col("id"), g.as("g"), e.as("e"),
        graft.etl.Grabbers.parseSciYear(col("sci")).as("y"),
        ba.as("ba"), ca.as("ca"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          seqOpt(r, 4), seqOpt(r, 5))).toMap
    val kern = df.select(col("id"),
        graft.functions.NativeText.sciParse(col("sci")).as("p"))
      .select(col("id"), col("p.genus"), col("p.epithet"), col("p.year"),
        col("p.basionym_authors"), col("p.combination_authors"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          seqOpt(r, 4), seqOpt(r, 5))).toMap
    assert(kern === cols)
    // authorship goldens (both formulations just proven identical)
    val auth = names.zip(names.indices).map { case (n, i) =>
      n -> (kern(i.toLong)._4, kern(i.toLong)._5) }.toMap
    assert(auth("puma concolor (linnaeus, 1771)") ===
      (Some(Seq("linnaeus")), None))
    assert(auth("quercus alba l.") === (None, Some(Seq("l."))))
    assert(auth("quercus alba l., 1753") === (None, Some(Seq("l."))))
    assert(auth("x sorbaronia fallax (c.k.schneid.) c.k.schneid.") ===
      (Some(Seq("c.k.schneid.")), Some(Seq("c.k.schneid."))))
    assert(auth("aus bus (smith & jones, 1850) brown ex green, 1900") ===
      (Some(Seq("smith", "jones")), Some(Seq("brown", "green"))))
    // dotted rank marker + infra epithet stay name-side; "hort. ex lam."
    // is combination authorship (the botanical hortulanorum form)
    assert(auth("aus bus var. cus hort. ex lam.") ===
      (None, Some(Seq("hort.", "lam."))))
    // unclosed basionym paren swallows the tail
    assert(auth("aus bus (smith, 1850") === (Some(Seq("smith")), None))
    assert(auth("aus bus (smith) (jones)") ===
      (Some(Seq("smith")), Some(Seq("jones"))))
    assert(auth("aus bus smith ex") === (None, None)) // smith stays name-side
    assert(auth("aus bus &") === (None, None))        // connector only
    assert(auth("acer rubrum") === (None, None))      // no tail at all
    // year goldens (both sides just proven identical)
    val yr = names.zip(names.indices).map { case (n, i) =>
      n -> kern(i.toLong)._3 }.toMap
    assert(yr("puma concolor (linnaeus, 1771)") === Some(1771))
    assert(yr("aus bus smith 1900") === Some(1900))
    assert(yr("aus bus [1850]") === Some(1850))
    assert(yr("aus bus 1234") === None)     // below 1500
    assert(yr("aus bus 21000") === None)    // five digits
    assert(yr("aus bus x1999") === None)    // not a standalone token
    assert(yr("aus bus 1999,") === Some(1999))
    assert(yr("aus bus l. 2020 and 1900") === Some(2020)) // first wins
  }

  test("sciParse kernel matches the Column twins on random token soups") {
    val s = spark
    import s.implicits._
    // token alphabet spanning every branch: words, markers (dotted and
    // not), hybrid signs, paren fragments, years, connectors, junk
    val alphabet = Seq("aus", "bus", "x", "×", "var", "var.", "f", "sp.",
      "(acer)", "(smith", "(smith,", "1850)", "jones)", "l.", "&", "ex",
      "and", "1771", "1234", "smith", "c.k.schneid.", "(", ")", "[1850]",
      ",", "9digit", "a", "", " ")
    val rnd = new scala.util.Random(4334)
    val names = (0 until 400).map { _ =>
      val n = rnd.nextInt(7)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
    }
    val df = names.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "sci")
    def seqOpt(r: org.apache.spark.sql.Row, i: Int): Option[Seq[String]] =
      if (r.isNullAt(i)) None else Some(r.getSeq[String](i))
    val (g, e) = graft.etl.Grabbers.parseSciName(col("sci"))
    val (ba, ca) = graft.etl.Grabbers.parseSciAuthors(col("sci"))
    val cols = df.select(col("id"), g.as("g"), e.as("e"), ba.as("ba"), ca.as("ca"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.getString(2)),
          seqOpt(r, 3), seqOpt(r, 4))).toMap
    val kern = df.select(col("id"),
        graft.functions.NativeText.sciParse(col("sci")).as("p"))
      .select(col("id"), col("p.genus"), col("p.epithet"),
        col("p.basionym_authors"), col("p.combination_authors"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.getString(2)),
          seqOpt(r, 3), seqOpt(r, 4))).toMap
    names.indices.foreach { i =>
      assert(kern(i.toLong) === cols(i.toLong),
        s"mismatch on ${"\"" + names(i) + "\""}")
    }
  }

  test("mapFields one-pass projection matches per-key element_at semantics") {
    val s = spark
    import s.implicits._
    val keys = Seq("a", "b", "c", "missing", "dwc:x")
    val maps: Seq[Map[String, String]] = Seq(
      Map("a" -> "Hello World", "b" -> "  PADDED  ", "dwc:x" -> "MiXeD"),
      Map("a" -> "", "c" -> " ", "zz" -> "ignored"),
      Map("b" -> null, "c" -> "Ünïcode Ö"),
      Map(),
      Map("a" -> "x\ty", "b" -> "a  b"))
    val df = maps.map(Tuple1(_)).toDF("m")
    val proj = graft.functions.MapFields(col("m"), keys)
    val checks = keys.flatMap { k =>
      Seq(proj.getField(k).as(s"kern_$k"),
        lower(trim(element_at(col("m"), k))).as(s"spec_$k"))
    }
    df.select(checks: _*).collect().foreach { r =>
      keys.indices.foreach { i =>
        assert(Option(r.getString(2 * i)) === Option(r.getString(2 * i + 1)),
          s"key ${keys(i)} row $r")
      }
    }
    // raw mode passes values through untouched
    val raw = df.select(
      graft.functions.MapFields(col("m"), Seq("b"), normalize = false)
        .getField("b").as("k"),
      element_at(col("m"), "b").as("s")).collect()
    raw.foreach(r => assert(Option(r.getString(0)) === Option(r.getString(1))))
  }

  test("dateShape kernel matches the anchored regexes it replaced") {
    val p12 = "^[A-Z]{3,9} \\d{1,2},? \\d{4} \\d{1,2}:\\d{1,2}(:\\d{1,2})?( ?[AP]M?)?$"
    val p13 = "^\\d{4}-\\d{1,2}-\\d{1,2}[T ]\\d{1,2}:\\d{1,2}(:\\d{1,2})?" +
      "(\\.\\d+)? (UTC|GMT)$"
    val p14 = "^\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{1,2}(:\\d{1,2})?( ?[AP]M?)?$"
    // the clock core: ISO datetime with a clock, or a bare clock
    // (date optional — dateutil default-fills year-1 Jan 1; a leading
    // bare 'T' is ISO time-of-day, r11); minutes/seconds may be
    // 1-digit (r10, probed)
    val isoClock = "^(\\d{4}-\\d{1,2}-\\d{1,2}[T ]|T)?\\d{1,2}:\\d{1,2}(:\\d{1,2})?(\\.\\d+)?$"
    // 16: clock core + meridiem token, spaced or attached
    val p16 = "^(\\d{4}-\\d{1,2}-\\d{1,2}[T ]|T)?\\d{1,2}:\\d{1,2}(:\\d{1,2})?" +
      "(\\.\\d+)? ?[AP]M?$"
    // 24: compact yyyyMMdd + ISO 'T' clock (r11): bare T, 2/4/6-digit
    // clocks, a seconds fraction on 6-digit clocks only, an optional
    // meridiem on clock-bearing forms
    def shape24(s: String): Boolean =
      s.matches("^\\d{8} ?T$") ||
      s.matches("^\\d{8} ?T(\\d{2}|\\d{4}|\\d{6})( ?[AP]M?)?$") ||
      s.matches("^\\d{8} ?T\\d{6}\\.\\d+( ?[AP]M?)?$")
    // 22/23/25/26 (r11): permutation date families — one month-name
    // token + up to two numerics (ordinals allowed), or three numeric
    // fields over a uniform non-comma separator (dash excluded when
    // the lead field is a 4-digit year: that is ISO/cast territory);
    // separator runs hold at most one punctuation char; an optional
    // flex clock tail selects the clock-bearing twin
    val flexClock = "\\d{1,2}:\\d{1,2}(:\\d{1,2})?(\\.\\d+)?( ?[AP]M?)?"
    def flexShape(s: String): Int = {
      var dateEnd = s.length
      var hasClock = false
      var i = s.length - 2
      while (i >= 1 && !hasClock) {
        val ch = s.charAt(i)
        if ((ch == ' ' || ch == 'T') &&
          s.substring(i + 1).matches(flexClock)) { dateEnd = i; hasClock = true }
        i -= 1
      }
      val dp = s.substring(0, dateEnd)
      // a separator run with two punctuation chars is a ParserError
      if ("""[,.\-/] *[,.\-/]""".r.findFirstIn(dp).isDefined) return 0
      val toks = dp.split("[ ,.\\-/]+").filter(_.nonEmpty)
      if (toks.isEmpty || toks.exists(t =>
        !t.matches("[A-Z]{3,9}") && !t.matches("\\d{1,4}") &&
        !t.matches("\\d{1,2}(ST|ND|RD|TH)"))) return 0
      val letters = toks.count(_.matches("[A-Z]{3,9}"))
      val digits = toks.length - letters
      if (letters == 1 && digits <= 2) return if (hasClock) 25 else 22
      if (letters == 0 && digits == 3) {
        val runs = "(?<=[A-Z0-9])[ ,.\\-/]+(?=[A-Z0-9])".r.findAllIn(dp).toList
        val seps = runs.map(r => r.find(_ != ' ').getOrElse(' ')).distinct
        if (seps.length > 1) return 0
        val sep = seps.headOption.getOrElse(' ')
        if (sep == ',') return 0
        if (sep == '-' && toks.head.length == 4) return 0
        return if (hasClock) 26 else 23
      }
      0
    }
    // a clock-bearing prefix for the zone suffixes of 15/18
    def clockBearing(base: String): Boolean =
      base.nonEmpty && (base.matches(isoClock) || base.matches(p12) ||
        base.matches(p14) || base.matches(p16) || shape24(base) ||
        flexShape(base) == 25 || flexShape(base) == 26)
    // 15: clock-bearing prefix + a 1-5 letter uppercase run that is not
    // an exact AM/PM clock marker (dateutil's unresolvable-tzname
    // path), spaced or attached to a digit. Prefixes that already
    // carry a zone (13/15/18) are a dateutil ParserError — excluded.
    def shape15(s: String): Boolean = {
      val i = s.lastIndexWhere(ch => !(ch >= 'A' && ch <= 'Z'))
      val run = s.length - 1 - i
      if (run < 1 || run > 5 || i < 0) return false
      val tok = s.substring(i + 1)
      if (Seq("A", "P", "AM", "PM").contains(tok)) return false
      val spaced = s.charAt(i) == ' '
      if (!spaced && !s.charAt(i).isDigit) return false
      val base = if (spaced) s.substring(0, i) else s.substring(0, i + 1)
      clockBearing(base)
    }
    // 18: clock-bearing prefix + zone name + POSIX offset ("GMT+5",
    // "EST+5:30"), name spaced or attached; an exact A/P/AM/PM "name"
    // is a MERIDIEM — shape 20's claim, not a tzstr (r10, probed)
    def shape18(s: String): Boolean = {
      val m = java.util.regex.Pattern
        .compile("^(.*?) ?([A-Z]{1,5})([+-])(\\d{1,2})(:\\d{1,2})?$")
        .matcher(s)
      if (!m.matches()) return false
      if (Seq("A", "P", "AM", "PM").contains(m.group(2))) return false
      val base = m.group(1)
      // attached name needs a digit before it (mirror of shape 15)
      val joined = !s.startsWith(base + " ")
      if (joined && (base.isEmpty || !base.last.isDigit)) return false
      clockBearing(base)
    }
    // 19: clock-bearing prefix + zone name (spaced or attached, not a
    // meridiem token) + SPACE-separated signed offset — H{1,2},
    // H{1,2}:M{1,2} or HHMM (r10, probed)
    def shape19(s: String): Boolean = {
      val m = java.util.regex.Pattern
        .compile("^(.*?) ?([A-Z]{1,5}) [+-](\\d{1,2}(:\\d{1,2})?|\\d{4})$")
        .matcher(s)
      if (!m.matches()) return false
      if (Seq("A", "P", "AM", "PM").contains(m.group(2))) return false
      val base = m.group(1)
      val joined = !s.startsWith(base + " ")
      if (joined && (base.isEmpty || !base.last.isDigit)) return false
      clockBearing(base)
    }
    // 20: clock-bearing prefix (meridiem forms included — the prefix
    // itself may match p12/p14/p16) + bare signed offset with NO zone
    // name, spaced or attached — H{1,2}, H{1,2}:M{1,2} or HHMM
    // (r10, probed: tzoffset as written, no POSIX inversion)
    def shape20(s: String): Boolean = {
      val m = java.util.regex.Pattern
        .compile("^(.*?) ?([+-])(\\d{1,2}(:\\d{1,2})?|\\d{4})$")
        .matcher(s)
      if (!m.matches()) return false
      clockBearing(m.group(1))
    }
    val patterns: Seq[(Int, String => Boolean)] = Seq(
      // 13/18/19/20/15/16/12 first: they are the only shapes that can
      // share a prefix with 4 (the kernel also tests them first)
      13 -> ((s: String) => s.matches(p13)),
      18 -> shape18 _,
      19 -> shape19 _,
      20 -> shape20 _,
      15 -> shape15 _,
      16 -> ((s: String) => s.matches(p16)),
      17 -> ((s: String) =>
        s.matches("^T?\\d{1,2}:\\d{1,2}(:\\d{1,2})?(\\.\\d+)?$") ||
        // ISO datetime + MINUTE fraction also takes the clock-core
        // parse (plain ISO stays 0 for Spark's cast — r10)
        s.matches("^\\d{4}-\\d{1,2}-\\d{1,2}[T ]\\d{1,2}:\\d{1,2}\\.\\d+$")),
      12 -> ((s: String) => s.matches(p12)),
      14 -> ((s: String) => s.matches(p14)),
      1 -> ((s: String) => s.matches("^\\d{4}/\\d{1,2}/\\d{1,2}$")),
      2 -> ((s: String) => s.matches("^\\d{1,2}/\\d{1,2}/\\d{4}$")),
      3 -> ((s: String) => s.matches("^\\d{4}\\.\\d{1,2}\\.\\d{1,2}$")),
      4 -> ((s: String) => s.matches("^[A-Z]{3,9} \\d{1,2},? \\d{4}$")),
      5 -> ((s: String) => s.matches("^\\d{1,2} [A-Z]{3,9} \\d{4}$")),
      6 -> ((s: String) => s.matches("^[A-Z]{3,9} \\d{4}$")),
      7 -> ((s: String) => s.matches("^\\d{1,2}-[A-Z]{3,9}-\\d{4}$")),
      8 -> ((s: String) => s.matches("^[A-Z]{3,9} \\d{1,2}(ST|ND|RD|TH),? \\d{4}$")),
      9 -> ((s: String) => s.matches("^\\d{1,2}(ST|ND|RD|TH) [A-Z]{3,9} \\d{4}$")),
      10 -> ((s: String) => s.matches("^\\d{8}$")),
      11 -> ((s: String) => s.matches("^\\d{1,2}/\\d{1,2}/\\d{2}$")),
      // r11 flex families, after every legacy anchor (kernel order)
      24 -> shape24 _,
      22 -> ((s: String) => flexShape(s) == 22),
      23 -> ((s: String) => flexShape(s) == 23),
      25 -> ((s: String) => flexShape(s) == 25),
      26 -> ((s: String) => flexShape(s) == 26))
    def regexShape(s: String): Int =
      patterns.find { case (_, p) => p(s) }.map(_._1).getOrElse(0)
    val fixed = Seq(
      "2001/3/4", "12/31/2001", "2001.3.4", "JAN 5, 1999", "JAN 5 1999",
      "5 MARCH 2001", "MARCH 2001", "5-MAR-2001", "2001-03-04", "",
      "JANUARYXYZ 2001", "J 2001", "5, MARCH 2001", "MAR  2001",
      "123/4/5", "1/2/34", "2001/13/44", "1-MAR-201", "1-MA-2011",
      "2001.3.4.5", "a/b/c", "JAN 5,, 1999", "JAN , 1999", "Jan 5, 1999",
      "ünïcode 2001", "5 MAR 2001 EXTRA", " MAR 2001", "MAR 2001 ",
      "JUNE 1ST, 2000", "JUNE 1ST 2000", "1ST MARCH 2001", "21ST MARCH 2001",
      "2ND MAY 1999", "3RD MAY 1999", "4TH MAY 1999", "1STT MARCH 2001",
      "ST MARCH 2001", "JAN 5TH, 1999", "20140110", "2014011", "201401100",
      "JAN 1STX, 1999", "1/2/34", "12/31/99", "1/2/345", "111/2/34",
      // time-bearing month-name family (12) and near-misses
      "JAN 5, 1999 3:15 PM", "JAN 5 1999 3:15PM", "JAN 5, 1999 15:30",
      "JAN 5, 1999 15:30:45", "JANUARY 12, 1999 12:00 AM",
      "JAN 5, 1999 3:15 XM", "JAN 5, 1999 3:155", "JAN 5, 1999 3:15M",
      "JAN 5, 1999 :15", "JAN 5, 19999 3:15", "JAN 5, 1999  3:15",
      // slash date + time (14) and near-misses
      "1/2/2014 3:15 PM", "12/31/1999 23:59:59", "1/2/2014 3:15PM",
      "1/2/14 3:15 PM", "1/2/2014  3:15", "1/2/2014 3:15 XM",
      "1/2/20144 3:15", "2014/1/2 3:15",
      // UTC/GMT-suffixed datetimes (13) and near-misses
      "2014-01-10 12:30:15 UTC", "2014-01-10T08:35:59.395 GMT",
      "2014-1-2 3:15 UTC", "2014-01-10 12:30 EST", "2014-01-10 UTC",
      "2014-01-10 12:30:15UTC", "2014/01/10 12:30 UTC",
      "2014-01-10 12:30:15.5 GMT", "2014-01-10 12:30:15. UTC",
      // zone-name-suffixed datetimes (15) and near-misses
      "2014-01-10 12:30:15 EST", "2014-01-10T12:30:15 CST",
      "JAN 5, 1999 3:15 PM EST", "1/2/2014 3:15 PM EST",
      "2014-01-10 12:30:15 BLURG", "2014-01-10 12:30:15 ABCDEF",
      "2014-01-10 12:30:15 A", "2014-01-10 12:30:15 AM",
      "2014-01-10 12:30:15 P", "2014-01-10 12:30 GMTX",
      "2014-01-10 12:30 ES T", "MARCH 2001 EST", "20140110 EST",
      "2014-01-10 12:30:15 est", "2014-01-10 12:30:15 EST5EDT",
      "JAN 5, 1999 EST", "2014-01-10 12:30:15 UTC EST",
      // attached zone names (15), ISO+meridiem (16), bare A/P time
      // tails (12/14) and their near-misses / double-zone errors
      "2014-01-10 12:30:15EST", "2014-01-10T12:30:15.5EDT",
      "JAN 5, 1999 3:15PMEST", "JAN 5, 1999 3:15 PMEST",
      "2014-01-10 12:30AMEST", "2014-01-10 12:30 AMEST",
      "2014-01-10 9:30 AM", "2014-01-10 9:30AM", "2014-01-10 9:30 A",
      "2014-01-10 9:30P", "2014-01-10 12:30:15P", "2014-01-10 13:30 A",
      "2014-01-10 9:30 A EST", "2014-01-10 9:30AM EST",
      "JAN 5, 1999 9:30P", "JAN 5, 1999 9:30 A", "1/2/2014 9:30A",
      "1/2/2014 9:30P EST", "2014-01-10 12:30 M",
      "2014-01-10 12:30:15 EST EST", "2014-01-10 12:30:15 EST UTC",
      "2014-01-10 12:30:15GMT", "20140110EST", "9:30 P", "12:30:15EST",
      "2014-01-10 9:30 AP", "2014-01-10 9:30 PM EST",
      // bare clocks (17), zone offsets (18) and their near-misses
      "12:30:15", "9:30", "12:30:15.5", "25:30", "1:2", "12:345",
      "12:30:15 EST", "9:30 PM EST", "9:30P EST", "12:30:15.5EST",
      "2014-01-10 12:30:15 GMT+5", "2014-01-10 12:30:15GMT+5",
      "2014-01-10 12:30:15 GMT+5:30", "2014-01-10 12:30:15 EST+5",
      "2014-01-10 12:30:15 Z+5", "9:30:15 GMT+5", "9:30 PM GMT+5",
      "JAN 5, 1999 3:15 PM GMT+5", "1/2/2014 3:15PM GMT+5",
      "2014-01-10 12:30:15 GMT+567", "2014-01-10 12:30:15 GMT+5EST",
      "2014-01-10 GMT+5", "12:30:15 GMT+5 EST", "20140110 GMT+5",
      "2014-01-10 12:30:15+05:00", "2014-01-10 12:30:15 ABCDEF+5",
      // spaced name+offset zones (19), 1-digit minutes/seconds, ISO
      // minute fractions and their near-misses (r10)
      "2014-01-10 12:30:15 GMT +5", "2014-01-10 12:30:15 EST +5",
      "2014-01-10 12:30:15 GMT +0500", "2014-01-10 12:30:15 EST +5:30",
      "2014-01-10 12:30:15 GMT + 5", "2014-01-10 12:30:15 GMT +530",
      "12:30 M +5", "9:30 PM +5", "2014-01-10 GMT +5", "12:30:15 GMT +5 EST",
      "3:45:6", "12:3 AM", "JAN 5, 1999 3:5 PM", "1/2/2014 3:5 PM",
      "2014-01-10 1:2", "2014-01-10 9:30.5", "9:30.", "1:02.5",
      "2014-01-10 12:00.5 UTC", "9:30.5EST", "1:2:3 GMT+5", "1:2 EST",
      // bare offsets (20) and the 18-vs-20 meridiem-name split (r10)
      "12:30:15 +5", "2014-01-10 12:30:15+5", "12:30:15 -0500",
      "12:30:15 +05:00", "9:30 PM +5", "9:30PM+5", "9:30AM+5", "9:30 P+5",
      "9:30 AM+0500", "10:15.25 PM +5", "JAN 5, 1999 3:15 PM +5",
      "1/2/2014 3:15PM +5", "9:30 PMEST+5", "9:30 PM +530", "9:30 PM + 5",
      "9:30 PM +5 EST", "9:30.+5", "2014-01-10+5", "+5", "12:30+",
      "2014-01-10 12:30:15 +5.5", "9:30 PM+5:30", "13:30 PM +5")
    val rnd = new scala.util.Random(7)
    val alphabet = "0123456789/.,- ABCDEFGHIJZSTNRHUPMWO:+"
    val fuzz = (1 to 3000).map(_ =>
      (1 to (1 + rnd.nextInt(12))).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    (fixed ++ fuzz).foreach { s =>
      val kern = graft.functions.MinhashKernel.dateShape(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      assert(kern === regexShape(s), s"input '$s'")
    }
  }

  /** Native shingles against [[HofText.shinglesFromWords]] over
    * `docs` (null entries are null arrays) for each n, on the
    * whole-stage codegen path or on the interpreted path (no
    * whole-stage fusion, projections built by the interpreted factory,
    * so the kernel runs through `StaticInvoke.eval`). An RDD-backed frame:
    * the optimizer would fold a projection over local rows itself. */
  private def assertShinglesParity(docs: Seq[Seq[String]], ns: Seq[Int],
      codegen: Boolean): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types._
    val schema = new StructType().add("id", LongType)
      .add("w", ArrayType(StringType, containsNull = true))
    val df = spark.createDataFrame(sc.parallelize(
      docs.zipWithIndex.map { case (w, i) => Row(i.toLong, w) }, 2), schema)
    withConf("spark.sql.codegen.wholeStage", codegen.toString) {
      withConf("spark.sql.codegen.factoryMode",
          if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN") {
        ns.foreach { n =>
          val q = df.select(col("id"),
            HofText.shinglesFromWords(col("w"), n).as("hof"),
            NativeText.shingles(col("w"), n).as("kern"))
          val rows = q.collect()
          assert(q.queryExecution.executedPlan
            .exists(_.isInstanceOf[WholeStageCodegenExec]) === codegen)
          assert(rows.length === docs.length)
          rows.foreach { r =>
            def get(i: Int) = Option(r.getSeq[String](i))
            assert(get(2) === get(1), s"n=$n doc=${docs(r.getLong(0).toInt)}")
          }
        }
      }
    }
  }

  private lazy val shingleCases: Seq[Seq[String]] = {
    val rnd = new scala.util.Random(11)
    // a small vocabulary, so random windows repeat within a document
    val vocab = Seq("a", "b", "c", "dd", "eee", "café", "東京", "ünï", "")
    val random = (1 to 60).map(_ =>
      Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length))))
    Seq(
      Seq.empty,                                   // empty array
      Seq("solo"),                                 // size < n for n > 1
      Seq("x", "y", "z"),                          // size == n at n = 3
      (1 to 10).map(i => s"w$i"),                  // size == n at n = 10
      Seq("a", "b", "a", "b", "a", "b", "c"),      // repeated windows
      Seq("q", "q", "q", "q", "q"),                // one repeated word
      Seq("a", null, "b", "c"),                    // a null word
      Seq(null, null, null),                       // only null words
      Seq("a", null, "a", null, "a"),              // nulls in repeats
      null,                                        // a null array
      Seq("wörds", "welt", "café", "東京", "wörds", "welt"), // multibyte
      Seq("", "", "x", "")) ++ random              // empty words
  }

  test("shingles kernel matches the HOF formulation on the codegen path") {
    assertShinglesParity(shingleCases, Seq(1, 2, 3, 10), codegen = true)
  }

  test("shingles kernel matches the HOF formulation on the interpreted path") {
    assertShinglesParity(shingleCases, Seq(1, 2, 3, 10), codegen = false)
  }

  test("shingles kernel keeps first-occurrence order and owns its strings") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ws: String*) = new GenericArrayData(
      ws.map(w => (if (w == null) null else UTF8String.fromString(w)): Any).toArray)
    def run(n: Int, ws: String*): Seq[String] = {
      val out = MinhashKernel.shingles(arr(ws: _*), n)
      (0 until out.numElements()).map(out.getUTF8String(_).toString)
    }
    assert(run(2, "a", "b", "a", "b", "c", "a", "b") === Seq("a b", "b a", "b c", "c a"))
    assert(run(1, null, "x", null) === Seq("", "x"))
    // every shingle has its own bytes, not a view into the input buffer
    val words = arr("ab", "cd")
    val one = MinhashKernel.shingles(words, 1).getUTF8String(0)
    assert(one.getBaseObject ne words.getUTF8String(0).getBaseObject)
  }

  test("expression survives interpreted (non-codegen) evaluation too") {
    // CODEGEN_ONLY would mask an eval() bug; force interpreted mode
    val s = spark
    import s.implicits._
    withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN") {
      val r = Seq(Tuple1("a b c d")).toDF("t")
        .select(NativeText.minhashSig(split(col("t"), " "), 3).as("sig"),
          NativeText.simhash60(split(col("t"), " ")).as("sh"))
        .collect()(0)
      assert(r.getSeq[Long](0).length === MinhashKernel.NumHashes)
      assert(r.getLong(1) !== 0L)
    }
  }

  test("dsirScore kernel: token-sum equals count·llr by bucket; llr " +
      "table length must equal dim") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val dim = 8
    val words = new GenericArrayData(
      Array("a", "b", "a", "c").map(w => UTF8String.fromString(w): Any))
    val llr = UnsafeArrayData.fromPrimitiveArray(
      (0 until dim).map(i => (i + 1).toLong * 10L).toArray)
    def bkt(w: String): Int =
      (MinhashKernel.md5Hash60(UTF8String.fromString(w)) % dim).toInt
    val want = Seq("a", "b", "a", "c").map(w => (bkt(w) + 1).toLong * 10L).sum
    assert(MinhashKernel.dsirScore(words, llr, dim) === want)
    // a null token contributes 0, not an NPE
    val withNull = new GenericArrayData(
      Array(UTF8String.fromString("a"), null, UTF8String.fromString("c")))
    assert(MinhashKernel.dsirScore(withNull, llr, dim) ===
      Seq("a", "c").map(w => (bkt(w) + 1).toLong * 10L).sum)
    val short = UnsafeArrayData.fromPrimitiveArray(Array(1L, 2L))
    intercept[IllegalArgumentException] {
      MinhashKernel.dsirScore(words, short, dim)
    }
  }

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }
}
