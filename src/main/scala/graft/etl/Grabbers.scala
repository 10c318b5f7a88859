package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The scalar enrichment function library (SURVEY §2.8) as Catalyst
  * column expressions — the Spark re-expression of the reference's
  * per-record Python loop (idb/helpers/conversions.py). Everything here
  * is codegen'd built-ins (regexp/cast/when); no UDFs, so a full-record
  * enrich is ONE WholeStageCodegen stage per row at any scale vs the
  * reference's 750 rec/s/core interpreter loop.
  */
object Grabbers {

  /** getfield (conversions.py:274-287): lowercase + trim string values.
    * Case-insensitive key resolution is handled upstream by the
    * normalize step (fieldnames canonicalization), not per-access. */
  def getField(data: Column, key: String): Column =
    lower(trim(element_at(data, key)))

  /** Raw (non-lowercased) access for fields where case matters
    * (e.g. URLs for license matching). */
  def getFieldRaw(data: Column, key: String): Column =
    element_at(data, key)

  /** grabFirstNumber (conversions.py:296-310): first number in the
    * string, thousands separators allowed, returned as the matched text
    * (comma-stripped here for casting). */
  private val FirstNumber = "([+-]?[0-9]+(?:[,][0-9]{3})*(?:[\\.][0-9]*)?)"

  def grabFirstNumber(c: Column): Column =
    nullif(regexp_extract(c, FirstNumber, 1), lit(""))

  /** locale.atof of the first number (elev/floatGrabber semantics).
    * Single regexp evaluation: no-match yields "", comma-strip keeps it
    * "", and try_cast sends "" to null — no `=== ""` guard that would
    * duplicate the regexp tree (it was the hottest expression family in
    * the enrich stage, previously evaluated 3× per column). */
  def firstNumberDouble(c: Column): Column =
    graft.functions.NativeText.firstNumber(c)
      .try_cast(org.apache.spark.sql.types.DoubleType)

  /** Regex-tree form of the comma-stripped first number — the
    * executable spec of the native kernel (parity-fuzzed in
    * EnrichSpec). */
  def firstNumberTextSpec(c: Column): Column =
    nullif(regexp_replace(regexp_extract(c, FirstNumber, 1), ",", ""), lit(""))

  /** locale.atoi of the first number: fails (null) when the match has a
    * fractional part, like Python int() on "1.5" (intGrabber :380-384).
    * ANSI try_cast string→long rejects non-integral text ("1.5", "1.",
    * "") as null — exactly the Python int() failure set — so one regexp
    * evaluation suffices, no contains(".") guard. */
  def firstNumberLong(c: Column): Column =
    graft.functions.NativeText.firstNumber(c)
      .try_cast(org.apache.spark.sql.types.LongType)

  /** grabFirstUUID (conversions.py:319-331). */
  private val UuidRe =
    "([a-fA-F0-9]{8}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-[a-fA-F0-9]{12})"

  def grabFirstUUID(c: Column): Column = {
    val m = regexp_extract(c, UuidRe, 1)
    when(m === "", lit(null)).otherwise(m)
  }

  /** mangleString (conversions.py:312-316): strip non-word chars,
    * uppercase (datum normalization). */
  def mangleString(c: Column): Column =
    upper(regexp_replace(c, "[\\W]+", ""))

  /** getExponent (conversions.py:246-251): number of decimal places of a
    * plain decimal string ("1.50" → 2, "100" → 0, junk → 0). Python
    * Decimal also handles exponent notation; coordinates are plain
    * decimals in practice (documented divergence). */
  def getExponent(c: Column): Column =
    graft.functions.NativeText.decimalExponent(c)

  /** Regex form of getExponent — the executable spec of the native
    * kernel (parity-fuzzed in EnrichSpec). */
  def getExponentSpec(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^[+-]?[0-9]*\\.[0-9]*$"),
      length(regexp_extract(t, "\\.([0-9]*)$", 1)))
      .otherwise(lit(0))
  }

  /** Permissive timestamp parse standing in for dateutil
    * (conversions.py:585-598; no month-name or exotic formats —
    * divergence documented per SURVEY §7.4.3).
    *
    * Perf note: the whole ISO family (yyyy[-MM[-dd[ T HH:mm:ss[.f][Z]]]])
    * goes through Spark's native string→timestamp cast — a hand-written
    * parser with NO per-row exceptions. Formatter-based parsing
    * (`try_to_timestamp`, which throws+catches internally on mismatch)
    * runs only behind an rlike gate for slash formats, so it almost
    * never sees a non-matching input. A naive 13-format coalesce
    * cascade costs ~10 failed-parse exceptions per value and made the
    * sf0.1 enrich bench 4× slower. */
  def permissiveTimestamp(c: Column): Column =
    coalesce(
      // every non-ISO family in ONE native call (shape classify + parse;
      // ~40 bytes of generated code where the try_to_timestamp cascade
      // emitted 15-20 KB per use — the difference between a fused span
      // that JITs and one that runs interpreted). Semantics pinned to
      // the cascade (the specs' DateCascade) by EnrichSpec's parity sweep.
      // MUST run BEFORE the cast: Spark's cast resolves some zone
      // names itself ("12:30:15 EST" → -05:00 shift), but dateutil
      // cannot (UnknownTimezoneWarning → naive) and the reference pins
      // naive to UTC — the shape-15 claim keeps that parity
      graft.functions.NativeText.shapedDate(c, java.time.Year.now.getValue),
      // ISO fallback: Spark's native string→timestamp cast (the
      // classifier returns 0 for plain ISO, so ISO rows reach the cast
      // after one linear byte-scan)
      c.try_cast(org.apache.spark.sql.types.TimestampType))

  /** Minimal gnparser-equivalent scientific-name parse
    * (conversions.py:745-768 via the biodiversity socket service, whose
    * _parseResp extracts lowercased genus + species). Input arrives
    * ALREADY LOWERCASED (verbatimGrabber lowercases text fields before
    * the crossfill runs). Public DwC name-structure rules applied:
    * genus = first token when it is a plain word; a parenthesized
    * subgenus token is skipped; the species epithet is the next plain
    * word that is not an abbreviated rank marker (var/subsp/ssp …).
    * Authorship tokens self-exclude — lowercased "(linnaeus," / "1771)"
    * fail the plain-word shape. Returns (genus, epithet), null when the
    * respective part doesn't parse — callers flag/fill only on non-null,
    * like the reference's `filled(k, gs)` guard. */
  def parseSciName(sci: Column): (Column, Column) = {
    val w = split(trim(sci), "\\s+")
    // a leading hybrid marker ("× sorbaronia fallax" / lowercased "x …")
    // prefixes the whole name — shift the genus/epithet window right
    val h1 = try_element_at(w, lit(1))
    val off = when(h1 === "x" || h1 === "×", lit(1)).otherwise(lit(0))
    val t1 = try_element_at(w, off + lit(1))
    // plain epithet-shaped token, ≥ 2 chars (excludes the hybrid marker
    // "x" and stray initials; dots/commas/digits-first all fail)
    val word = "^[a-z][a-z0-9-]+$"
    val genus = when(t1.rlike(word), t1)
    // try_element_at: under ANSI (Spark 4 default) a plain element_at
    // THROWS on single-token names — a latent crash the native kernel's
    // parity spec exposed; null is the intended "didn't parse" result
    val t2 = try_element_at(w, off + lit(2))
    // skip a parenthesized subgenus OR an infix hybrid marker
    // ("salix × sepulcralis" — a named hybrid keeps genus + epithet)
    val cand = when(t2.rlike("^\\(.*\\)$") || t2 === "x" || t2 === "×",
      try_element_at(w, off + lit(3))).otherwise(t2)
    val rankMarkers = Seq("var", "subsp", "ssp", "f", "cf", "aff", "sp", "spp", "x")
    val epithet = when(genus.isNotNull && cand.rlike(word) &&
      !cand.isin(rankMarkers: _*), cand)
    (genus, epithet)
  }

  /** Authorship year of a scientific name: the first whitespace token
    * that, after stripping surrounding bracket/punctuation characters,
    * is exactly four digits in [1500, 2099] ("puma concolor (linnaeus,
    * 1771)" → 1771). Column twin of the native kernel's year field. */
  def parseSciYear(sci: Column): Column = {
    val p = "[\\(\\)\\[\\],.;:]"
    nullif(regexp_extract(sci,
      s"(?:^|\\s)$p*((?:1[5-9]|20)\\d{2})$p*(?=\\s|$$)", 1), lit(""))
      .cast("int")
  }

  /** Structured authorship of a scientific name — Column twin of the
    * native kernel's basionym/combination author arrays (gnparser-
    * shaped detail; the reference consumed only genus/species from its
    * parser response, conversions.py:745-768, so this is the engine
    * exceeding it with the structure the parser had available).
    *
    * The authorship TAIL starts at the first token after the genus
    * that is neither a plain name word, nor a rank marker (optionally
    * dotted), nor a hybrid sign, nor — directly after the genus — a
    * parenthesized subgenus. With lowercased input the surviving
    * authorship signal is punctuation: an unpunctuated lowercase
    * author ("aus bus smith") is indistinguishable from an
    * infraspecific epithet and stays name-side (documented divergence
    * — gnparser sees the original capitals). A leading parenthesized
    * group is the basionym (original-combination) authorship,
    * everything after it the combination authorship. Within a group,
    * grouping/separator punctuation is dropped anywhere in the token
    * (initials keep their dots), connector words (and/et/ex/in/apud/
    * non/&) and all-digit tokens (years, stray numerals) are skipped,
    * and a group with nothing left is null.
    *
    * Returns (basionym_authors, combination_authors). */
  def parseSciAuthors(sci: Column): (Column, Column) = {
    val w = split(trim(sci), "\\s+")
    val n = size(w)
    val h1 = try_element_at(w, lit(1))
    val off = when(h1 === "x" || h1 === "×", lit(1)).otherwise(lit(0))
    val genus = when(try_element_at(w, off + lit(1)).rlike("^[a-z][a-z0-9-]+$"),
      try_element_at(w, off + lit(1)))
    // name-shaped token: plain word | optionally-dotted rank marker |
    // hybrid sign | (only directly after the genus) parenthesized group
    val nameShape =
      "^(?:[a-z][a-z0-9-]+|(?:var|subsp|ssp|f|cf|aff|sp|spp|x)\\.?|×)$"
    def isNameTok(i: Column): Column = {
      val t = try_element_at(w, i)
      t.rlike(nameShape) || (i === off + lit(2) && t.rlike("^\\(.*\\)$"))
    }
    val idx = sequence(lit(1), n)
    val tailStart = array_min(filter(idx,
      i => i > off + lit(1) && !isNameTok(i)))
    // basionym group: when the tail opens with '(', up to and including
    // the first ')'-terminated token (an unclosed paren swallows the
    // whole tail)
    val opens = startswith(try_element_at(w, tailStart), lit("("))
    val closeIdx = array_min(filter(idx,
      i => i >= tailStart && endswith(try_element_at(w, i), lit(")"))))
    val basEnd = coalesce(closeIdx, n)
    def authors(from: Column, to: Column): Column = {
      val raw = filter(idx, i => i >= from && i <= to)
      val cleaned = filter(
        transform(raw, i => regexp_replace(
          try_element_at(w, i), "[\\(\\)\\[\\],;:]", "")),
        t => t =!= "" && !t.isin("and", "et", "ex", "in", "apud", "non", "&") &&
          !t.rlike("^[0-9]+$"))
      when(genus.isNotNull && size(cleaned) > 0, cleaned)
    }
    val basionym = when(opens, authors(tailStart, basEnd))
    val combination = when(opens, authors(basEnd + lit(1), n))
      .otherwise(authors(tailStart, n))
    (basionym, combination)
  }

  /** datecollected fallback composition from dwc:year/month/day or
    * startDayOfYear (conversions.py:604-624). Inputs must be ALREADY
    * PARSED int columns (pass each source through [[firstNumberLong]]
    * exactly once upstream — inlining the parse here would duplicate its
    * regex chain into every branch). */
  def composeEventDate(y: Column, m: Column, d: Column, sdy: Column): Column =
    when(y.isNull, lit(null).cast("timestamp"))
      .when(m.isNotNull && d.isNotNull,
        try_to_timestamp(concat_ws("-", y, m, d), lit("y-M-d")))
      .when(m.isNotNull && sdy.isNotNull,
        date_add(make_date(y, lit(1), lit(1)), sdy - 1).cast("timestamp"))
      .when(m.isNotNull,
        try_to_timestamp(concat_ws("-", y, m), lit("y-M")))
      .otherwise(try_to_timestamp(y.cast("string"), lit("y")))

  /** checkBounds (conversions.py:227-233): collection date outside
    * [1500-01-02, now]. `now` must be a literal passed in so plans stay
    * deterministic/cacheable. */
  def dateOutOfBounds(c: Column, nowLiteral: java.sql.Timestamp): Column =
    c.isNotNull &&
      (c < to_timestamp(lit("1500-01-02 00:00:00")) || c > lit(nowLiteral))

  /** fixBOR (conversions.py:856-893): normalize basisOfRecord to the
    * DwC controlled vocabulary by substring; invalid → null + flags.
    * Returns (value, removedFlag, invalidFlag). */
  def fixBasisOfRecord(bor: Column): (Column, Column, Column) = {
    val fixed =
      when(bor.contains("preserved"), "preservedspecimen")
        .when(bor.contains("fossil"), "fossilspecimen")
        .when(bor.contains("living"), "livingspecimen")
        .when(bor.contains("material"), "materialsample")
        .when(bor.contains("specimen"), "preservedspecimen")
        .when(bor.contains("machine") && bor.contains("observation"), "machineobservation")
        .when(bor.contains("observation"), "humanobservation")
        .when(bor.contains("occurrence"), "occurrence")
    val removed = bor.isNotNull && fixed.isNull
    val invalid = bor.isNull || fixed.isNull
    (when(bor.isNotNull, fixed), removed, invalid)
  }

  /** fix_taxon_rank (conversions.py:895-913): alias mapping + acceptable
    * vocabulary. Returns (value, removedFlag, replacedFlag). */
  def fixTaxonRank(rank: Column): (Column, Column, Column) = {
    val mapsToNull = Vocab.rankMapping.filter(_._2.isEmpty).keys.toSeq
    val renames = Vocab.rankMapping.collect { case (k, Some(v)) if k != v => (k, v) }.toSeq
    val identities = Vocab.rankMapping.collect { case (k, Some(v)) if k == v => k }.toSeq
    // native hash probe (was a 300-branch when-chain; EnrichSpec's golden
    // table sweeps the full mapping so the swap stays behavior-pinned)
    val replaced = graft.functions.StaticLookup(rank, "rank_renames", renames.toMap)
    val acceptable = Vocab.acceptableRanks.toSeq
    val isRemoved = rank.isNotNull &&
      (rank.isin(mapsToNull: _*) ||
        (!rank.isin((renames.map(_._1) ++ identities ++ acceptable): _*)))
    val value = when(isRemoved, lit(null))
      .otherwise(coalesce(replaced, rank))
    val wasReplaced = rank.isNotNull && replaced.isNotNull
    (value, isRemoved, wasReplaced)
  }

  /** getLicense step 1 (conversions.py:683-708): map one candidate
    * field's raw value to a license key via the acceptable-licenses
    * table — one native hash probe per candidate
    * (graft.functions.StaticLookup; the when-chain form below is the
    * executable spec EnrichMediaSpec pins it against). */
  def licenseKey(v: Column): Column =
    graft.functions.StaticLookup(v, "license_trans", Vocab.licenseTrans)

  /** [[licenseKey]] as the original 103-branch when-chain — the
    * specification the native probe is parity-tested against. */
  def licenseKeySpec(v: Column): Column =
    Vocab.licenseTrans.foldLeft(when(lit(false), lit("")))(
      (acc, kv) => acc.when(v === kv._1, kv._2))

  /** getLicense step 2: majority vote with first-seen tiebreak (Python
    * max(set, key=count) ties are hash-order-arbitrary; we pin to
    * first-seen — divergence noted). Pure pairwise comparisons over the
    * fixed candidate positions — codegen-friendly, unlike the previous
    * higher-order `aggregate`/`filter` formulation (CodegenFallback). */
  def licenseVote(keys: Seq[Column]): Column = {
    val n = keys.size
    // score_i = votes for key_i, packed with a position tiebreak; only
    // the first occurrence of each key is eligible so equal-count ties
    // resolve to the earliest candidate field
    val scores = keys.zipWithIndex.map { case (ki, i) =>
      val cnt = keys.map(kj => when(kj === ki, 1).otherwise(0)).reduce(_ + _)
      val isFirst = (0 until i)
        .map(j => coalesce(keys(j) =!= ki, lit(true)))
        .foldLeft(lit(true))(_ && _)
      when(ki.isNotNull && isFirst, cnt * (n + 1) + (n - i)).otherwise(0)
    }
    val best = greatest(scores: _*)
    coalesce(keys.zipWithIndex.map { case (ki, i) =>
      when(best > 0 && scores(i) === best, ki)
    }: _*)
  }

  /** getLicense step 3: expand the voted key to its detail fields;
    * `voted` should be a materialized attribute (referenced 3×). The
    * detail table can lack logo/webstatement for a key ("Public
    * Domain") — those stay null, like the reference's absent dict keys. */
  def licenseDetail(voted: Column): (Column, Column, Column) = {
    def detail(pick: ((String, Option[String], Option[String])) => Option[String])
        : Column =
      Vocab.licenses.foldLeft(when(lit(false), lit(""))) { (acc, kv) =>
        pick(kv._2) match {
          case Some(v) => acc.when(voted === kv._1, v)
          case None => acc
        }
      }
    (detail(t => Some(t._1)), detail(_._2), detail(_._3))
  }

  /** Whether any raw key carries the ac: prefix (get_accessuri's
    * suppression guard) — consumes only the map's key array. The probe
    * joins the map keys with a \\u0001 separator and string-matches —
    * ConcatWs stays in codegen where a higher-order `exists` would not. */
  def hasAcKey(data: Column): Column = {
    val joined = concat_ws("\u0001", map_keys(data))
    joined.startsWith("ac:") || joined.contains("\u0001ac:")
  }

  private def truthy(c: Column): Column = c.isNotNull && c =!= ""

  /** get_accessuri (conversions.py:711-722) over pre-extracted raw
    * fields (`f` = raw accessor): accessURI ∥ bestQuality ∥
    * identifier-unless-any-ac-field-present ([[hasAcKey]]).
    * The reference's `a or b` chains are Python TRUTHINESS: an empty
    * string is skipped like a missing key EXCEPT in the last operand,
    * which passes through verbatim — and the `url is None` guard then
    * treats that "" as a hit, suppressing the identifier fallback
    * (r11 full-record differential finding, all probed). */
  def accessUriFrom(f: String => Column, hasAc: Column): Column = {
    val ab = when(truthy(f("ac:accessURI")), f("ac:accessURI"))
      .otherwise(f("ac:bestQualityAccessURI"))
    val ident = when(truthy(f("dcterms:identifier")), f("dcterms:identifier"))
      .otherwise(f("dc:identifier"))
    when(ab.isNotNull, ab).otherwise(when(!hasAc, ident))
  }

  /** get_media_type (conversions.py:725-738): format → default bucket. */
  def mediaType(data: Column): (Column, Column) =
    mediaTypeFrom(getFieldRaw(data, _))

  /** get_media_type over pre-extracted raw fields; the bucket table is
    * a native probe (spec: the small when-chain it replaced, pinned by
    * EnrichMediaSpec's bucket cases). */
  def mediaTypeFrom(f: String => Column): (Column, Column) = {
    // `a or b or c` Python truthiness (see accessUriFrom): empty
    // strings skipped except the LAST operand, which passes verbatim;
    // `if form:` then strips/lowers only truthy values (a
    // whitespace-only value IS truthy and trims to the empty format)
    val form0 = when(truthy(f("dcterms:format")), f("dcterms:format"))
      .when(truthy(f("dc:format")), f("dc:format"))
      .otherwise(f("ac:bestQualityFormat"))
    val form = when(truthy(form0), lower(trim(form0))).otherwise(form0)
    val bucket = graft.functions.StaticLookup(form, "default_buckets",
      Vocab.defaultBuckets)
    (form, bucket)
  }

  /** collect_genbank_sequences (conversions.py:838-853). */
  def genbankSequences(data: Column): Column =
    genbankFromText(getFieldRaw(data, "dwc:associatedSequences"))

  /** [[genbankSequences]] over an already-extracted raw field value. */
  def genbankFromText(raw: Column): Column =
    when(raw.isNotNull,
      regexp_extract_all(raw, lit("[a-zA-Z]{1,2}-?_?\\d{5,6}"), lit(0)))
      .otherwise(array().cast("array<string>"))
}
