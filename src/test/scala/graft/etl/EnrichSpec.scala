package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Goldens ported from the reference's conversion suite
  * (tests/idb/test_helpers_conversions.py) — same inputs, asserted
  * against the column-expression implementations.
  */
class EnrichSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column, v: String): Row = {
    val s = spark
    import s.implicits._
    Seq(Tuple1(v)).toDF("x").select(c).collect()(0)
  }

  test("grabFirstNumber golden table (test_helpers_conversions.py:81-100)") {
    val cases = Seq(
      "2050" -> "2050", "2050 m" -> "2050", "2050.0" -> "2050.0",
      "2050.0 m" -> "2050.0", "2,050" -> "2,050", "2,050 m" -> "2,050",
      "2,050.0" -> "2,050.0", "100000" -> "100000", "1,000,000" -> "1,000,000",
      "100,000.0" -> "100,000.0")
    cases.foreach { case (in, want) =>
      assert(one(Grabbers.grabFirstNumber(col("x")), in).getString(0) === want, in)
    }
  }

  test("firstNumberDouble applies locale.atof semantics") {
    assert(one(Grabbers.firstNumberDouble(col("x")), "2,050.5 m").getDouble(0) === 2050.5)
    assert(one(Grabbers.firstNumberDouble(col("x")), "no number").isNullAt(0))
  }

  test("firstNumberLong fails on fractional like Python int()") {
    assert(one(Grabbers.firstNumberLong(col("x")), "1,234").getLong(0) === 1234L)
    assert(one(Grabbers.firstNumberLong(col("x")), "12.5").isNullAt(0))
  }

  test("mangleString golden table (:102-110)") {
    Seq("blah" -> "BLAH", "blah " -> "BLAH", " blah " -> "BLAH",
      "blah blah!" -> "BLAHBLAH").foreach { case (in, want) =>
      assert(one(Grabbers.mangleString(col("x")), in).getString(0) === want, in)
    }
  }

  test("grabFirstUUID golden table (:113-122)") {
    val u = "0072bf11-a354-4998-8730-c0cb4cfc9517"
    Seq(u, s"blah $u blah", s"http://blah.blah/blah/$u").foreach { in =>
      assert(one(Grabbers.grabFirstUUID(col("x")), in).getString(0) === u, in)
    }
    assert(one(Grabbers.grabFirstUUID(col("x")), "nothing here").isNullAt(0))
  }

  test("getExponent (conversions.py:246-251)") {
    Seq("100" -> 0, "1.5" -> 1, "1.50" -> 2, "18.348" -> 3,
      "-64.7131" -> 4, "junk" -> 0, "1." -> 0).foreach { case (in, want) =>
      assert(one(Grabbers.getExponent(col("x")), in).getInt(0) === want, in)
    }
  }

  test("fixBasisOfRecord substring vocabulary (conversions.py:856-893)") {
    val s = spark
    import s.implicits._
    val df = Seq("preservedspecimen", "fossil material", "machine observation",
      "field observation", "herbarium specimen", "exsiccati", null)
      .map(Tuple1(_)).toDF("x")
    val (v, removed, invalid) = Grabbers.fixBasisOfRecord(col("x"))
    val rows = df.select(v, removed, invalid).collect()
    assert(rows(0).getString(0) === "preservedspecimen")
    assert(rows(1).getString(0) === "fossilspecimen")
    assert(rows(2).getString(0) === "machineobservation")
    assert(rows(3).getString(0) === "humanobservation")
    assert(rows(4).getString(0) === "preservedspecimen")
    assert(rows(5).isNullAt(0) && rows(5).getBoolean(1) && rows(5).getBoolean(2))
    assert(rows(6).isNullAt(0) && !rows(6).getBoolean(1) && rows(6).getBoolean(2))
  }

  test("fixTaxonRank mapping/acceptable (conversions.py:895-913)") {
    val s = spark
    import s.implicits._
    val df = Seq("sp.", "species", "speciesaggregate", "nonsense", "unknown", null)
      .map(Tuple1(_)).toDF("x")
    val (v, removed, replaced) = Grabbers.fixTaxonRank(col("x"))
    val rows = df.select(v, removed, replaced).collect()
    assert(rows(0).getString(0) === "species" && rows(0).getBoolean(2)) // mapped
    assert(rows(1).getString(0) === "species" && !rows(1).getBoolean(2)) // identity
    assert(rows(3).isNullAt(0) && rows(3).getBoolean(1)) // not acceptable
    assert(rows(4).isNullAt(0) && rows(4).getBoolean(1)) // maps to null
    assert(rows(5).isNullAt(0) && !rows(5).getBoolean(1))
  }

  // --- grabAll end-to-end on the reference's fixture record ------------

  private lazy val enriched = {
    val s = spark
    import s.implicits._
    val data = Map(
      "dwc:startDayOfYear" -> "233",
      "dwc:specificEpithet" -> "monticola",
      "dwc:kingdom" -> "Plantae",
      "dwc:recordedBy" -> "P. Acevedo; A. Reilly",
      "dwc:locality" -> "Coral Bay Quarter, Bordeaux Mountain Road.",
      "dwc:order" -> "Myrtales",
      "dwc:occurrenceID" -> "urn:uuid:ed400275-09d7-4302-b777-b4e0dcf7f2a3",
      "dwc:stateProvince" -> "Saint John",
      "dwc:eventDate" -> "1987-08-21",
      "dwc:collectionID" -> "a2e32c87-d320-4a01-bafd-a9182ae2e191",
      "dwc:country" -> "U.S. Virgin Islands",
      "dwc:collectionCode" -> "Plants",
      "dwc:decimalLatitude" -> "18.348",
      "dwc:basisOfRecord" -> "PreservedSpecimen",
      "dwc:genus" -> "Eugenia",
      "dwc:family" -> "Myrtaceae",
      "dwc:phylum" -> "Magnoliophyta",
      "dwc:institutionCode" -> "ASU",
      "dwc:catalogNumber" -> "ASU0010142",
      "dwc:month" -> "8",
      "dwc:decimalLongitude" -> "-64.7131",
      "dwc:scientificName" -> "Eugenia monticola",
      "dwc:recordNumber" -> "1897",
      "dwc:coordinateUncertaintyInMeters" -> "2000",
      "dwc:day" -> "21",
      "dwc:year" -> "1987",
    )
    val df = Seq((
      "0000012b-9bb8-42f4-ad3b-c958cb22ae45",
      "cb7d64ec3aef36fa4dec6a028b818e331a67aacc",
      5L,
      "40250f4d-7aa6-4fcc-ac38-2868fa4846bd",
      Seq("urn:uuid:ed400275-09d7-4302-b777-b4e0dcf7f2a3"),
      Map("mediarecord" -> Seq(
        "ae175cc6-82f4-456b-910c-34da322e768d",
        "d0ca23cd-d4eb-43b5-aaba-cb75f8aef9e3")),
      data,
    )).toDF("uuid", "etag", "version", "parent", "recordids", "siblings", "data")
      .withColumn("datemodified_raw", lit("2015-01-17T08:35:59.395Z"))
      .withColumn("data", map_concat(col("data"),
        map(lit("idigbio:dateModified"), col("datemodified_raw"))))
      .drop("datemodified_raw")
    Enrich.records(df).collect()(0)
  }

  private def g(name: String): Any =
    enriched.get(enriched.fieldIndex(name))

  test("grabAll golden: verbatim text fields lowercased (test:349-380)") {
    assert(g("institutioncode") === "asu")
    assert(g("kingdom") === "plantae")
    assert(g("locality") === "coral bay quarter, bordeaux mountain road.")
    assert(g("occurrenceid") === "urn:uuid:ed400275-09d7-4302-b777-b4e0dcf7f2a3")
    assert(g("order") === "myrtales")
    assert(g("phylum") === "magnoliophyta")
    assert(g("recordnumber") === "1897")
    assert(g("scientificname") === "eugenia monticola")
    assert(g("specificepithet") === "monticola")
    assert(g("stateprovince") === "saint john")
    assert(g("basisofrecord") === "preservedspecimen")
    assert(g("catalognumber") === "asu0010142")
    assert(g("collectioncode") === "plants")
    assert(g("collectionid") === "a2e32c87-d320-4a01-bafd-a9182ae2e191")
    assert(g("collector") === "p. acevedo; a. reilly")
    assert(g("eventdate") === "1987-08-21")
    assert(g("family") === "myrtaceae")
    assert(g("genus") === "eugenia")
    assert(g("country") === "u.s. virgin islands")
  }

  test("grabAll golden: null keys stay null") {
    Seq("accessuri", "barcodevalue", "bed", "class", "collectionname",
      "commonname", "continent", "countrycode", "county", "fieldnumber",
      "formation", "group", "highertaxon", "individualcount",
      "infraspecificepithet", "institutionid", "institutionname",
      "maxdepth", "maxelevation", "member", "mindepth", "minelevation",
      "municipality", "taxonid", "taxonomicstatus", "taxonrank",
      "typestatus", "verbatimeventdate", "verbatimlocality", "waterbody")
      .filter(enriched.schema.fieldNames.contains)
      .foreach { k => assert(g(k) == null, s"$k should be null") }
  }

  test("grabAll golden: metadata, relations, numerics, geo, dates") {
    assert(g("uuid") === "0000012b-9bb8-42f4-ad3b-c958cb22ae45")
    assert(g("etag") === "cb7d64ec3aef36fa4dec6a028b818e331a67aacc")
    assert(g("version") === 5L)
    assert(g("recordset") === "40250f4d-7aa6-4fcc-ac38-2868fa4846bd")
    assert(g("mediarecords") === Seq("ae175cc6-82f4-456b-910c-34da322e768d",
      "d0ca23cd-d4eb-43b5-aaba-cb75f8aef9e3"))
    assert(g("hasImage") === true)
    assert(g("hasMedia") === true)
    assert(g("recordids") === Seq("urn:uuid:ed400275-09d7-4302-b777-b4e0dcf7f2a3"))
    assert(g("coordinateuncertainty") === 2000.0)
    val gp = g("geopoint").asInstanceOf[Row]
    assert(gp.getDouble(0) === -64.7131 && gp.getDouble(1) === 18.348)
    assert(g("datemodified").toString === "2015-01-17 08:35:59.395")
    assert(g("datecollected").toString === "1987-08-21 00:00:00.0")
    assert(g("startdayofyear") === 233)
  }

  test("grabAll golden: flags and dqs") {
    assert(g("flags") === Seq("geopoint_datum_missing"))
    val dqs = g("dqs").asInstanceOf[Double]
    assert(dqs >= 0.0 && dqs <= 1.0)
  }

  /** dateutil parser.ParserInfo.convertyear, independently restated:
    * land yy in the run year's century, then shift one century toward
    * the run year when ≥50 away. Sanity anchors for a 2026 run: 34→2034,
    * 49→2049, 50→2050 (NOT 1950 — inside the window), 99→1999. */
  private def pivotYear(yy: Int): Int = {
    val ry = java.time.Year.now.getValue
    val y0 = yy + (ry / 100) * 100
    if (math.abs(y0 - ry) >= 50) { if (y0 < ry) y0 + 100 else y0 - 100 }
    else y0
  }

  test("structScore kernel matches the when/isNotNull fold (parity fuzz)") {
    val s = spark
    import s.implicits._
    val keys = Seq("k1", "k2", "k3", "k4")
    val weights = Seq("k1" -> 5, "k3" -> 2, "k4" -> 10)
    val rnd = new scala.util.Random(41)
    val maps = (1 to 300).map { _ =>
      keys.filter(_ => rnd.nextBoolean()).map(k => k -> "v").toMap
    } :+ Map.empty[String, String] :+ keys.map(_ -> "").toMap
    val df = maps.map(Tuple1(_)).toDF("m")
      .select(graft.functions.MapFields(col("m"), keys).as("_f"))
    val fold = weights
      .map { case (k, w) => when(col("_f").getField(k).isNotNull, w).otherwise(0) }
      .reduce(_ + _)
    df.select(
        graft.functions.MapFields.structScore(col("_f"), weights).as("kern"),
        fold.as("spec"))
      .collect().foreach(r => assert(r.getInt(0) === r.getInt(1), r))
  }

  test("firstNumber native kernel matches the regex-tree spec (parity fuzz)") {
    val s = spark
    import s.implicits._
    val fixed = Seq("1,234", "abc 5.5m", "-3.", "+7", "12,34", "1,2345",
      "no digits", "", " 0.001 ", "5.5.5", "-", "+,", "00123", "1,000,000.25")
    val rnd = new scala.util.Random(31)
    val alphabet = "0123456789,.+- abcm"
    val fuzz = (1 to 2000).map(_ =>
      (0 to rnd.nextInt(12)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    (fixed ++ fuzz).map(Tuple1(_)).toDF("x")
      .select(col("x"),
        graft.functions.NativeText.firstNumber(col("x")).as("kern"),
        Grabbers.firstNumberTextSpec(col("x")).as("spec"))
      .collect().foreach { r =>
        assert(Option(r.getString(1)) === Option(r.getString(2)),
          s"input '${r.getString(0)}'")
      }
  }

  test("getExponent native kernel matches the regex spec (incl. null → 0)") {
    val s = spark
    import s.implicits._
    val fixed = Seq("18.34", "-64.7131", "5.", ".5", "+.25", "1", "",
      " 18.34 ", "1.2.3", "abc", "12e5", "-", ".", "00.000", null)
    val rnd = new scala.util.Random(17)
    val alphabet = "0123456789.+- e"
    val fuzz = (1 to 1500).map(_ =>
      (0 to rnd.nextInt(10)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    (fixed ++ fuzz).map(Tuple1(_)).toDF("x")
      .select(col("x"),
        Grabbers.getExponent(col("x")).as("kern"),
        Grabbers.getExponentSpec(col("x")).as("spec"))
      .collect().foreach { r =>
        assert(r.getInt(1) === r.getInt(2), s"input '${r.getString(0)}'")
      }
  }

  test("permissiveTimestamp native kernel matches the cascade spec (parity sweep)") {
    val s = spark
    import s.implicits._
    // goldens + near-misses + fuzz: the kernel (shaped_date) and the
    // retained try_to_timestamp cascade must agree on every input
    val fixed = Seq(
      "2014-01-10", "2014-01-10 12:30:15", "2014-01-10T08:35:59.395Z",
      "2001/3/4", "12/31/2001", "2/30/2001", "13/1/2001", "2001.3.4",
      "JAN 5, 1999", "JANUARY 5, 1999", "SEPT 5, 1999", "FEB 29 1900",
      "FEB 29 2000", "5 MARCH 2001", "MARCH 2001", "5-MAR-2001",
      "JUNE 1ST, 2000", "21ST MARCH 2001", "20140110", "99999999",
      "1/2/34", "12/31/99", "99/99/99", "0/0/00",
      "JAN 5, 1999 3:15 PM", "JAN 5 1999 3:15PM", "JAN 5, 1999 15:30",
      "JAN 5, 1999 15:30:45", "JAN 5, 1999 12:61 AM", "JAN 5, 1999 13:15 PM",
      "JANUARY 12, 1999 12:00 AM", "JANUARY 12, 1999 12:00 PM",
      "2014-01-10 12:30:15 UTC", "2014-01-10T08:35:59.395 GMT",
      "2014-1-2 3:15 UTC", "2014-01-10 12:00.5 UTC", "2014-01-10 24:00 UTC",
      "1/2/2014 3:15 PM", "12/31/1999 23:59:59", "2/30/2014 3:15 PM",
      "1/2/2014 13:15 PM", "1/2/2014 12:00 AM", "1/2/0000 3:15",
      "0000/1/1", "1/1/0000", "SMARCH 5, 1999", "FOO BAR", "",
      // zone-name-suffixed datetimes (shape 15) and near-misses
      "2014-01-10 12:30:15 EST", "2014-01-10T12:30:15 CST",
      "JAN 5, 1999 3:15 PM EST", "1/2/2014 3:15 PM PST",
      "2014-01-10 12:30 Z", "2014-01-10 12:30:15 BLURG",
      "2014-02-31 12:30:15 EST", "2014-01-10 12:30:15 A",
      "JAN 5, 1999 EST", "2014-01-10 EST", "NOON", "JAN 5, 1999 NOON",
      // attached zones (15), ISO+meridiem (16), bare A/P tails (12/14),
      // double-zone errors
      "2014-01-10 12:30:15EST", "2014-01-10T12:30:15.5EDT",
      "JAN 5, 1999 3:15PMEST", "JAN 5, 1999 3:15 PMEST",
      "2014-01-10 12:30AMEST", "2014-01-10 12:30 AMEST",
      "2014-01-10 9:30 AM", "2014-01-10 9:30AM", "2014-01-10 9:30 A",
      "2014-01-10 9:30P", "2014-01-10 12:30:15P", "2014-01-10 12:30:15A",
      "2014-01-10 13:30 A", "2014-01-10 00:30 PM", "2014-01-10 24:00 PM",
      "2014-01-10 9:30 A EST", "2014-01-10 9:30AM EST",
      "JAN 5, 1999 9:30P", "JAN 5, 1999 13:30 AM", "1/2/2014 9:30A",
      "1/2/2014 9:30P EST", "2014-01-10 12:30 M",
      "2014-01-10 12:30:15 EST EST", "2014-01-10 12:30:15 EST UTC",
      "2014-01-10 12:30:15GMT", "2014-01-10 9:30 AP",
      // bare clocks (17), zone offsets (18) and their near-misses
      "12:30:15", "9:30", "12:30:15.5", "25:30", "12:61", "9:30.5",
      "12:30:15 EST", "12:30:15EST", "9:30 P", "9:30P", "9:30 PM EST",
      "2014-01-10 12:30:15 GMT+5", "2014-01-10 12:30:15GMT+5",
      "2014-01-10 12:30:15 GMT-5", "2014-01-10 12:30:15 GMT+5:30",
      "2014-01-10 12:30:15 GMT+5:67", "2014-01-10 12:30:15 EST+5",
      "2014-01-10 12:30:15 GMT+24", "9:30:15 GMT+5", "9:30 PM GMT+5",
      "JAN 5, 1999 3:15 PM GMT+5", "1/2/2014 3:15PM GMT+5",
      "2014-01-10 GMT+5", "12:30:15 GMT+5 EST",
      "2014-01-10 12:30:15+05:00", "2014-01-10 12:30:15 GMT +5",
      // 1-digit minutes/seconds (r10), minute fractions, spaced
      // name+offset zones (shape 19) and their near-misses
      "1:2", "3:45:6", "1:2:3", "12:3 AM", "1:2 PM", "2014-01-10 1:2",
      "2014-1-2 3:4", "JAN 5, 1999 3:5 PM", "1/2/2014 3:5 PM",
      "9:30.999", "1:02.5", "10:15.25 PM", "2014-01-10 9:30.5",
      "9:30.5EST", "2014-01-10 12:00.5 UTC", "9:30.5 GMT+5", "9:30.",
      "1:2 EST", "1:2:3 GMT+5", "1:75", "1:2:3:4",
      "2014-01-10 12:30:15 EST +5", "2014-01-10 12:30:15 EST -7",
      "2014-01-10 12:30:15 UTC +0500", "2014-01-10 12:30:15 EST +0500",
      "2014-01-10 12:30:15 EST +5:30", "2014-01-10 12:30:15 Z +3",
      "2014-01-10 12:30 M +5", "12:30:15 GMT +5", "JAN 5, 1999 3:15 PM GMT +5",
      "1/2/2014 3:15PM GMT +5", "2014-01-10 12:30:15 EST +25",
      "2014-01-10 12:30:15 GMT +530", "2014-01-10 12:30:15 GMT + 5",
      "12:30:15 GMT +5 EST", "2014-01-10 GMT +5", "9:30 PM +5",
      "2014-01-10 12:30:15 A +5", "2014-01-10 12:30:15 EST +5 ",
      // bare offsets (shape 20), empty clock fractions, and their
      // near-misses (r10)
      "12:30:15 +5", "2014-01-10 12:30:15+5", "12:30:15 -0500",
      "12:30:15 +05:00", "9:30PM+5", "9:30 P +5", "9:30 AM+0500",
      "9:30 PM -7", "10:15.25 PM +5", "JAN 5, 1999 3:15 PM +5",
      "1/2/2014 3:15PM +5", "9:30 PM +25", "9:30 PM +530", "9:30 PM + 5",
      "9:30 PM +5 EST", "13:30 PM +5", "9:30 PMEST+5", "1:2 -5",
      "9:30.", "9:30..", "9:30...", "9:30. PM", "1:2:3.", "2014-01-10 9:30.",
      "12:3. AM", "9:30. EST", "9:30. GMT+5", "2014-01-10 12:30. UTC",
      "9:30.+5", "9:30.5.", "2014-01-10.", "+5", "12:30+", "9:30 +",
      "2014-01-10 12:30:15 +5.5", ".5", ":30.", "9:30. 5",
      // r11 flex families: weekday prefixes, month/numeric
      // permutations, compact-T, clock commas, bare-T clocks, and
      // their near-misses
      "T12:30", "T12:30 EST", "T12:30 PM", "T1230", "SUNDAY", "SUN,",
      "SUN, 05 JAN 1999", "WED, 05 JAN 1999 12:30:15 EST",
      "MON TUE 5 JAN 1999", "SUN 12:30:15", "SUN 1999", "SUN 99",
      "SUN 5", "SUN JAN", "SAT JAN 1999", "SUN 1999-01", "SUNJAN",
      "TUES 5 JAN 1999", "SUN, 2014-01-10T12:30:15+05:00",
      "1999 JAN 5", "1999 5 JAN", "5 JAN 99", "10.JAN.1999",
      "JAN-5-1999", "5/MAR/2001", "JAN 5", "MAY 99", "JAN",
      "5 6 JAN", "JAN 5 6", "JAN 32 1999", "JAN--5--1999",
      "1999 JAN 5 9:30 PM", "10.JAN.1999 12:30 EST",
      "JAN-5-1999 9:30PM+5", "1999 MARCH 21ST", ",JAN 5 1999",
      "01-05-1999", "13-05-1999", "13.05.1999", "13.5.99",
      "1999 01 05", "5 6 7", "1/2/345", "13/5/1999", "31/12/99",
      "13/5/99 12:30", "01-05-1999 9:30.5 PM", "01-05-1999T12:30",
      "1999.01.05 12:30", "01-05.1999", "01,05,1999", "1ST 2 1999",
      "13.05", "01-05", "00-00-1999", "JAN5 1999", "5 JAN 1999 SUN",
      "19990105T123015", "19990105T1230", "19990105T12", "19990105T",
      "19990105 T12", "19990105T123015.5", "19990105T1230.5",
      "19990105T1230PM", "19990105T12 EST", "19990105T1230Z",
      "19990105T1230+5", "19990105T123", "0105T12",
      "12:30:15,123", "12:30,5", "12:30:15,", "12,30",
      "2014-01-10 12:30:15,123 UTC", "12:30:15,123 PM",
      "THU,OCTOBER 5", "SAT 27, DECEMBER", "80/8/29", "32/24/12",
      "4:10UTC -23:63", "4:10EST -23:63", "19970704T BLURG +12",
      "SUN DECEMBER 57 2:19:28X+2", "FRI, AUGUST 15:1+13")
    val rnd = new scala.util.Random(13)
    val alphabet = "0123456789/.,- :APMUTCGJANFEBRYLOVDESWHI+"
    val fuzz = (1 to 2000).map(_ =>
      (1 to (1 + rnd.nextInt(16))).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (fixed ++ fuzz).map(Tuple1(_)).toDF("x")
      .select(col("x"),
        Grabbers.permissiveTimestamp(upper(trim(col("x")))).as("kern"),
        graft.operators.DateCascade.permissiveTimestamp(upper(trim(col("x")))).as("spec"))
    df.collect().foreach { r =>
      assert(Option(r.get(1)) === Option(r.get(2)), s"input '${r.getString(0)}'")
    }
  }

  test("permissiveTimestamp month-name formats (dateutil parity subset)") {
    import Grabbers._
    // dateGrabber upper-cases before parsing (conversions.py:589), so the
    // goldens feed uppercase like the pipeline does
    val cases = Seq(
      "JAN 5, 1999"      -> "1999-01-05 00:00:00.0",
      "JANUARY 5, 1999"  -> "1999-01-05 00:00:00.0",
      "JAN 5 1999"       -> "1999-01-05 00:00:00.0",
      "5 MARCH 2001"     -> "2001-03-05 00:00:00.0",
      "5 MAR 2001"       -> "2001-03-05 00:00:00.0",
      "28 FEBRUARY 1987" -> "1987-02-28 00:00:00.0",
      // missing day defaults to 1 (dateutil default=datetime(1,1,1))
      "MARCH 2001"       -> "2001-03-01 00:00:00.0",
      "DEC 1964"         -> "1964-12-01 00:00:00.0",
      "5-MAR-2001"       -> "2001-03-05 00:00:00.0",
      "28-FEBRUARY-1987" -> "1987-02-28 00:00:00.0",
      "1999.03.05"       -> "1999-03-05 00:00:00.0",
      // ordinal days and the compact form (dateutil accepts all three)
      "JUNE 1ST, 2000"   -> "2000-06-01 00:00:00.0",
      "JUNE 21ST 2000"   -> "2000-06-21 00:00:00.0",
      "1ST MARCH 2001"   -> "2001-03-01 00:00:00.0",
      "2ND APRIL 1999"   -> "1999-04-02 00:00:00.0",
      "3RD MAY 1998"     -> "1998-05-03 00:00:00.0",
      "4TH JUN 1997"     -> "1997-06-04 00:00:00.0",
      "20140110"         -> "2014-01-10 00:00:00.0",
      // two-digit years: dateutil's convertyear windows to ±50 of the
      // RUN year — goldens computed against the same run-year the plan
      // captures, so they hold in any calendar year
      "1/2/34"           -> s"${pivotYear(34)}-01-02 00:00:00.0",
      "12/31/99"         -> s"${pivotYear(99)}-12-31 00:00:00.0",
      "6/15/49"          -> s"${pivotYear(49)}-06-15 00:00:00.0",
      "6/15/50"          -> s"${pivotYear(50)}-06-15 00:00:00.0",
      // time-bearing month-name forms (dateutil parses the clock; 12 AM
      // is midnight, 12 PM noon)
      "JAN 5, 1999 3:15 PM"      -> "1999-01-05 15:15:00.0",
      "JAN 5 1999 3:15PM"        -> "1999-01-05 15:15:00.0",
      "JAN 5, 1999 15:30"        -> "1999-01-05 15:30:00.0",
      "JAN 5, 1999 15:30:45"     -> "1999-01-05 15:30:45.0",
      "JANUARY 12, 1999 12:00 AM" -> "1999-01-12 00:00:00.0",
      "JANUARY 12, 1999 12:00 PM" -> "1999-01-12 12:00:00.0",
      // UTC/GMT suffixes (dateutil → +00:00; engine runs in UTC)
      "2014-01-10 12:30:15 UTC"  -> "2014-01-10 12:30:15.0",
      "2014-01-10T08:35:59.395 GMT" -> "2014-01-10 08:35:59.395",
      // slash date + clock
      "1/2/2014 3:15 PM"         -> "2014-01-02 15:15:00.0",
      "12/31/1999 23:59:59"      -> "1999-12-31 23:59:59.0",
      "1/2/2014 12:00 AM"        -> "2014-01-02 00:00:00.0",
      // zone-NAME suffixes: dateutil identifies the 1-5-letter token as
      // a tzname it cannot resolve and returns the NAIVE parse
      // (UnknownTimezoneWarning), which the reference pins to UTC
      // (conversions.py:592-598) — so the name is ignored entirely
      "2014-01-10 12:30:15 EST"  -> "2014-01-10 12:30:15.0",
      "2014-01-10T12:30:15 CST"  -> "2014-01-10 12:30:15.0",
      "2014-01-10 12:30:15 BLURG" -> "2014-01-10 12:30:15.0",
      "JAN 5, 1999 3:15 PM EST"  -> "1999-01-05 15:15:00.0",
      "1/2/2014 3:15 PM PST"     -> "2014-01-02 15:15:00.0",
      // ATTACHED zone names: dateutil's lexer splits at the letter
      // boundary, so "…15EST" parses naive exactly like "…15 EST"
      // (probed; "GMT" attached resolves to +00:00, same value in UTC)
      "2014-01-10 12:30:15EST"   -> "2014-01-10 12:30:15.0",
      "2014-01-10 12:30:15GMT"   -> "2014-01-10 12:30:15.0",
      // a longer run that merely STARTS with a meridiem is one unknown
      // tzname token — dateutil swallows the meridiem inside it
      // (probed: both give 03:15, not 15:15)
      "JAN 5, 1999 3:15PMEST"    -> "1999-01-05 03:15:00.0",
      "JAN 5, 1999 3:15 PMEST"   -> "1999-01-05 03:15:00.0",
      "2014-01-10 12:30AMEST"    -> "2014-01-10 12:30:00.0",
      // ISO clock + meridiem (shape 16), spaced/attached/bare-letter
      "2014-01-10 9:30 AM"       -> "2014-01-10 09:30:00.0",
      "2014-01-10 9:30AM"        -> "2014-01-10 09:30:00.0",
      "2014-01-10 9:30 A"        -> "2014-01-10 09:30:00.0",
      "2014-01-10 9:30P"         -> "2014-01-10 21:30:00.0",
      "2014-01-10 12:30 AM"      -> "2014-01-10 00:30:00.0",
      "2014-01-10 00:30 PM"      -> "2014-01-10 12:30:00.0",
      "2014-01-10 12:30:15P"     -> "2014-01-10 12:30:15.0",
      "2014-01-10 12:30:15A"     -> "2014-01-10 00:30:15.0",
      "2014-01-10 12:30:15 A"    -> "2014-01-10 00:30:15.0",
      // bare A/P through the month-name and slash time tails (12/14)
      "JAN 5, 1999 9:30P"        -> "1999-01-05 21:30:00.0",
      "JAN 5, 1999 9:30 A"       -> "1999-01-05 09:30:00.0",
      "1/2/2014 9:30A"           -> "2014-01-02 09:30:00.0",
      // meridiem prefix + zone suffix compose
      "2014-01-10 9:30 A EST"    -> "2014-01-10 09:30:00.0",
      "2014-01-10 9:30AM EST"    -> "2014-01-10 09:30:00.0",
      "1/2/2014 9:30P EST"       -> "2014-01-02 21:30:00.0",
      // a lone "M" is an unknown zone name, not a meridiem
      "2014-01-10 12:30 M"       -> "2014-01-10 12:30:00.0",
      // bare clocks: dateutil's default fills year-1 Jan 1 (probed)
      "12:30:15"                 -> "0001-01-01 12:30:15.0",
      "9:30"                     -> "0001-01-01 09:30:00.0",
      "12:30:15EST"              -> "0001-01-01 12:30:15.0",
      "9:30 P"                   -> "0001-01-01 21:30:00.0",
      "9:30 PM EST"              -> "0001-01-01 21:30:00.0",
      "23:59:59.999999"          -> "0001-01-01 23:59:59.999999",
      // zone name + POSIX offset: the printed sign INVERTS (GMT+5 is
      // UTC−5, so the UTC instant is naive + 5h; any 1-5-letter name
      // behaves identically; minutes past 59 carry — all probed)
      "2014-01-10 12:30:15 GMT+5" -> "2014-01-10 17:30:15.0",
      "2014-01-10 12:30:15GMT+5"  -> "2014-01-10 17:30:15.0",
      "2014-01-10 12:30:15 GMT-5" -> "2014-01-10 07:30:15.0",
      "2014-01-10 12:30:15 EST+5" -> "2014-01-10 17:30:15.0",
      "2014-01-10 12:30:15 GMT+5:30" -> "2014-01-10 18:00:15.0",
      "2014-01-10 12:30:15 GMT+5:67" -> "2014-01-10 18:37:15.0",
      "9:30:15 GMT+5"            -> "0001-01-01 14:30:15.0",
      "JAN 5, 1999 3:15 PM GMT+5" -> "1999-01-05 20:15:00.0",
      "1/2/2014 3:15PM GMT+5"    -> "2014-01-02 20:15:00.0",
      // 1-digit minutes/seconds (dateutil's tokenizer has no width
      // minimum — all probed, r10)
      "1:2"                      -> "0001-01-01 01:02:00.0",
      "3:45:6"                   -> "0001-01-01 03:45:06.0",
      "1:2:3"                    -> "0001-01-01 01:02:03.0",
      "12:3 AM"                  -> "0001-01-01 00:03:00.0",
      "1:2 PM"                   -> "0001-01-01 13:02:00.0",
      "2014-01-10 1:2"           -> "2014-01-10 01:02:00.0",
      "2014-1-2 3:4"             -> "2014-01-02 03:04:00.0",
      "JAN 5, 1999 3:5 PM"       -> "1999-01-05 15:05:00.0",
      "1/2/2014 3:5 PM"          -> "2014-01-02 15:05:00.0",
      "1:2 EST"                  -> "0001-01-01 01:02:00.0",
      "1:2:3 GMT+5"              -> "0001-01-01 06:02:03.0",
      // minute fractions (dateutil: second = int(60·frac), sub-second
      // remainder dropped — all probed, r10)
      "9:30.5"                   -> "0001-01-01 09:30:30.0",
      "9:30.5 PM"                -> "0001-01-01 21:30:30.0",
      "9:30.999"                 -> "0001-01-01 09:30:59.0",
      "1:02.5"                   -> "0001-01-01 01:02:30.0",
      "10:15.25 PM"              -> "0001-01-01 22:15:15.0",
      "2014-01-10 9:30.5"        -> "2014-01-10 09:30:30.0",
      "9:30.5EST"                -> "0001-01-01 09:30:30.0",
      "2014-01-10 12:00.5 UTC"   -> "2014-01-10 12:00:30.0",
      "9:30.5 GMT+5"             -> "0001-01-01 14:30:30.0",
      // zone name + SPACED offset (shape 19, probed r10): after
      // UTC/GMT/Z the orphan offset is DROPPED (naive clock = the
      // instant); after any other name it replaces the zone's offset
      // with the AS-WRITTEN sign (UTC instant = naive − offset — no
      // POSIX inversion, unlike the attached GMT+5 form)
      "2014-01-10 12:30:15 GMT +5"   -> "2014-01-10 12:30:15.0",
      "2014-01-10 12:30:15 UTC +0500" -> "2014-01-10 12:30:15.0",
      "2014-01-10 12:30:15 Z +3"     -> "2014-01-10 12:30:15.0",
      "12:30:15 GMT +5"              -> "0001-01-01 12:30:15.0",
      "JAN 5, 1999 3:15 PM GMT +5"   -> "1999-01-05 15:15:00.0",
      "1/2/2014 3:15PM GMT +5"       -> "2014-01-02 15:15:00.0",
      "2014-01-10 12:30:15 EST +5"   -> "2014-01-10 07:30:15.0",
      "2014-01-10 12:30:15 EST -7"   -> "2014-01-10 19:30:15.0",
      "2014-01-10 12:30:15 EST +0500" -> "2014-01-10 07:30:15.0",
      "2014-01-10 12:30:15 EST +5:30" -> "2014-01-10 07:00:15.0",
      "2014-01-10 12:30 M +5"        -> "2014-01-10 07:30:00.0",
      // bare signed offset, NO zone name (shape 20, probed r10):
      // tzoffset(None, as-written) — UTC = naive − offset, meridiem
      // applied to the hour first, NO POSIX inversion
      "12:30:15 +5"              -> "0001-01-01 07:30:15.0",
      "2014-01-10 12:30:15 +5"   -> "2014-01-10 07:30:15.0",
      "2014-01-10 12:30:15+5"    -> "2014-01-10 07:30:15.0",
      "12:30:15 +5:30"           -> "0001-01-01 07:00:15.0",
      "12:30:15 -0500"           -> "0001-01-01 17:30:15.0",
      "12:30:15 +05:00"          -> "0001-01-01 07:30:15.0",
      "1:2 -5"                   -> "0001-01-01 06:02:00.0",
      "9:30 PM +5"               -> "0001-01-01 16:30:00.0",
      "9:30PM+5"                 -> "0001-01-01 16:30:00.0",
      "9:30 P +5"                -> "0001-01-01 16:30:00.0",
      "9:30AM+5"                 -> "0001-01-01 04:30:00.0",
      "9:30 AM+0500"             -> "0001-01-01 04:30:00.0",
      "9:30 PM -7"               -> "0001-01-02 04:30:00.0",
      "10:15.25 PM +5"           -> "0001-01-01 17:15:15.0",
      "JAN 5, 1999 3:15 PM +5"   -> "1999-01-05 10:15:00.0",
      "1/2/2014 3:15PM +5"       -> "2014-01-02 10:15:00.0",
      "2014-01-10 12:30:15 A +5" -> "2014-01-09 19:30:15.0",
      // meridiem directly before an ATTACHED offset: dateutil reads a
      // meridiem + tzoffset, NOT a POSIX tzstr name (probed r10 — the
      // pre-r10 kernel classified "PM+5" as a zone name and inverted)
      "9:30 PMEST+5"             -> "0001-01-01 14:30:00.0",
      // empty clock fractions are swallowed ("9:30." ≡ "9:30", also
      // mid-string before any suffix family; probed r10)
      "9:30."                    -> "0001-01-01 09:30:00.0",
      "9:30.."                   -> "0001-01-01 09:30:00.0",
      "9:30. PM"                 -> "0001-01-01 21:30:00.0",
      "1:2:3."                   -> "0001-01-01 01:02:03.0",
      "2014-01-10 9:30."         -> "2014-01-10 09:30:00.0",
      "12:3. AM"                 -> "0001-01-01 00:03:00.0",
      "9:30. EST"                -> "0001-01-01 09:30:00.0",
      "9:30. GMT+5"              -> "0001-01-01 14:30:00.0",
      "2014-01-10 12:30. UTC"    -> "2014-01-10 12:30:00.0",
      "9:30.+5"                  -> "0001-01-01 04:30:00.0",
    )
    for ((in, want) <- cases) {
      val got = one(permissiveTimestamp(upper(trim(col("x")))), in)
      assert(!got.isNullAt(0) && got.getTimestamp(0).toString == want,
        s"$in -> ${got}")
    }
    // non-dates and junk month names stay null, ISO family still works
    assert(one(permissiveTimestamp(col("x")), "SMARCH 5, 1999").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "FOO BAR").isNullAt(0))
    // word times: dateutil itself REJECTS "NOON"/"MIDNIGHT" (ParserError,
    // probed against dateutil directly), so the reference's try/except
    // yields None and null here IS the parity answer — not a divergence
    assert(one(permissiveTimestamp(col("x")), "NOON").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "JAN 5, 1999 NOON").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "MIDNIGHT").isNullAt(0))
    // a zone name attaches only to a parsed TIME (dateutil ParserError
    // on date-only + zone)
    assert(one(permissiveTimestamp(col("x")), "JAN 5, 1999 EST").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "2014-01-10 EST").isNullAt(0))
    // DOUBLE zone = dateutil ParserError (probed): the prefix of a
    // zone-name suffix may not itself carry a zone
    assert(one(permissiveTimestamp(col("x")),
      "2014-01-10 12:30:15 UTC EST").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")),
      "2014-01-10 12:30:15 EST EST").isNullAt(0))
    // hour > 12 with an explicit meridiem = dateutil ParserError (probed)
    assert(one(permissiveTimestamp(col("x")), "2014-01-10 13:30 A").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "JAN 5, 1999 13:30 AM").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "1/2/2014 13:30 PM").isNullAt(0))
    // bare-clock validation and offset bounds (probed: 25:30, 12:61
    // and 1:75 are ParserErrors; a 24h+ offset is a ValueError — for
    // the spaced form too; an offset needs a TIME; a spaced SIGN
    // ("GMT + 5"), a 3-digit offset ("+530") and a zone after a
    // spaced offset are ParserErrors — all probed r10)
    assert(one(permissiveTimestamp(col("x")), "25:30").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "12:61").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "1:75").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")),
      "2014-01-10 12:30:15 GMT+24").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "2014-01-10 GMT+5").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")),
      "12:30:15 GMT+5 EST").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")),
      "2014-01-10 12:30:15 EST +25").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")),
      "2014-01-10 12:30:15 GMT +530").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")),
      "2014-01-10 12:30:15 GMT + 5").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "2014-01-10 GMT +5").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")),
      "12:30:15 GMT +5 EST").isNullAt(0))
    // bare-offset family nulls (probed r10): spaced sign, 3-digit
    // offset, ≥24h, meridiem-hour violation, zone after the offset —
    // all dateutil errors
    assert(one(permissiveTimestamp(col("x")), "9:30 PM +25").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "9:30 PM +530").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "9:30 PM + 5").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "9:30 PM +5 EST").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "13:30 PM +5").isNullAt(0))
    // "9:30.5." stays null — DOCUMENTED divergence: dateutil misreads
    // the trailing "5." as a DAY token (→ 0001-01-05 09:30, probed);
    // that lunacy is not worth reproducing
    assert(one(permissiveTimestamp(col("x")), "9:30.5.").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "9:30...").isNullAt(0))
    // shape-matching junk parses to null, never an ANSI error
    assert(one(permissiveTimestamp(col("x")), "99/99/99").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "JAN 99TH, 1999").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "99999999").isNullAt(0))
    assert(one(permissiveTimestamp(col("x")), "2014-01-10").getTimestamp(0)
      .toString == "2014-01-10 00:00:00.0")
  }

  test("r11 flex date families (dateutil parity subset, all probed)") {
    import Grabbers._
    def firstWd(y: Int, wd: java.time.DayOfWeek): String =
      java.time.LocalDate.of(y, 1, 1)
        .`with`(java.time.temporal.TemporalAdjusters.nextOrSame(wd))
        .atStartOfDay().toString.replace('T', ' ') + ":00.0"
    import java.time.DayOfWeek.{SATURDAY, SUNDAY}
    val cases = Seq(
      // ISO bare-T clocks (the pre-r11 fall-through to Spark's cast
      // anchored these to the CURRENT date — a nondeterministic value)
      "T12:30"            -> "0001-01-01 12:30:00.0",
      "T12:30 EST"        -> "0001-01-01 12:30:00.0",
      "T12:30 PM"         -> "0001-01-01 12:30:00.0",
      "T12:30:15.5"       -> "0001-01-01 12:30:15.5",
      // weekday tokens: skipped before a dated remainder (RFC-style
      // RSS/HTTP dates), day-adjusting otherwise
      "SUN, 05 JAN 1999"  -> "1999-01-05 00:00:00.0",
      "SUN, 05 JAN 1999 12:30:15" -> "1999-01-05 12:30:15.0",
      "WED, 05 JAN 1999 12:30:15 EST" -> "1999-01-05 12:30:15.0",
      "SUN, 05 JAN 1999 9:30 PM GMT+5" -> "1999-01-06 02:30:00.0",
      "SUNDAY JANUARY 5 1999" -> "1999-01-05 00:00:00.0",
      "MON 5 JAN 1999"    -> "1999-01-05 00:00:00.0",
      "MON,5 JAN 1999"    -> "1999-01-05 00:00:00.0",
      "MON TUE 5 JAN 1999" -> "1999-01-05 00:00:00.0",
      "MON, JAN 5, 1999"  -> "1999-01-05 00:00:00.0",
      "TUE JAN 5, 1999 3:15 PM" -> "1999-01-05 15:15:00.0",
      "SUN, 1/2/2014"     -> "2014-01-02 00:00:00.0",
      "SUN, 2014-01-10 12:30" -> "2014-01-10 12:30:00.0",
      "SUN, 2014-01-10T12:30:15+05:00" -> "2014-01-10 07:30:15.0",
      "SUNDAY"            -> "0001-01-07 00:00:00.0",
      "MONDAY"            -> "0001-01-01 00:00:00.0",
      "SATURDAY"          -> "0001-01-06 00:00:00.0",
      "SUN"               -> "0001-01-07 00:00:00.0",
      "SUN,"              -> "0001-01-07 00:00:00.0",
      "SUN 12:30:15"      -> "0001-01-07 12:30:15.0",
      "MON 0:0"           -> "0001-01-01 00:00:00.0",
      "SUN 1999"          -> firstWd(1999, SUNDAY),
      "SUN 99"            -> firstWd(pivotYear(99), SUNDAY),
      "SUN 2014"          -> firstWd(2014, SUNDAY),
      "SUN 1999-01"       -> firstWd(1999, SUNDAY),
      "SUN JAN"           -> "0001-01-07 00:00:00.0",
      "SAT JAN 1999"      -> firstWd(1999, SATURDAY),
      "SUN 5"             -> "0001-01-05 00:00:00.0",
      // month-name permutations (shape 22/25)
      "JAN"               -> "0001-01-01 00:00:00.0",
      "JANUARY"           -> "0001-01-01 00:00:00.0",
      "JAN 1999"          -> "1999-01-01 00:00:00.0",
      "1999 JAN"          -> "1999-01-01 00:00:00.0",
      "1999 JAN 5"        -> "1999-01-05 00:00:00.0",
      "1999 5 JAN"        -> "1999-01-05 00:00:00.0",
      "10.JAN.1999"       -> "1999-01-10 00:00:00.0",
      "JAN-5-1999"        -> "1999-01-05 00:00:00.0",
      "JAN.5.1999"        -> "1999-01-05 00:00:00.0",
      "1999-JAN-5"        -> "1999-01-05 00:00:00.0",
      "5/MAR/2001"        -> "2001-03-05 00:00:00.0",
      "JAN 5"             -> "0001-01-05 00:00:00.0",
      "5 JAN"             -> "0001-01-05 00:00:00.0",
      "JAN 5-1999"        -> "1999-01-05 00:00:00.0",
      "JAN. 5, 1999"      -> "1999-01-05 00:00:00.0",
      "JAN,5,1999"        -> "1999-01-05 00:00:00.0",
      "1999, JAN, 5"      -> "1999-01-05 00:00:00.0",
      ",JAN 5 1999"       -> "1999-01-05 00:00:00.0",
      "JAN 5, 1999,"      -> "1999-01-05 00:00:00.0",
      "1999 MARCH 21ST"   -> "1999-03-21 00:00:00.0",
      "MAR  2001"         -> "2001-03-01 00:00:00.0",
      "5   JAN   1999"    -> "1999-01-05 00:00:00.0",
      // dateutil's _ymd single/double numeric resolution: 3+ digits or
      // >31 = year (windowed below 100); month-LAST pairs read (year,
      // day), others (day, year)
      "MAY 99"            -> s"${pivotYear(99)}-05-01 00:00:00.0",
      "MAY 999"           -> "0999-05-01 00:00:00.0",
      "5 JAN 99"          -> s"${pivotYear(99)}-01-05 00:00:00.0",
      "JAN 5 99"          -> s"${pivotYear(99)}-01-05 00:00:00.0",
      "99 JAN 5"          -> s"${pivotYear(99)}-01-05 00:00:00.0",
      "5 JAN 6"           -> s"${pivotYear(6)}-01-05 00:00:00.0",
      "JAN 5 6"           -> s"${pivotYear(6)}-01-05 00:00:00.0",
      "5 6 JAN"           -> s"${pivotYear(5)}-01-06 00:00:00.0",
      "25 JAN 5"          -> s"${pivotYear(5)}-01-25 00:00:00.0",
      "JAN 25 5"          -> s"${pivotYear(5)}-01-25 00:00:00.0",
      "32 JAN 5"          -> s"${pivotYear(32)}-01-05 00:00:00.0",
      // month-name + clock permutations
      "1999 JAN 5 12:30"  -> "1999-01-05 12:30:00.0",
      "1999 JAN 5, 12:30" -> "1999-01-05 12:30:00.0",
      "1999 JAN 5 9:30 PM" -> "1999-01-05 21:30:00.0",
      "1999 JAN 5 9:30.5" -> "1999-01-05 09:30:30.0",
      "05 JAN 1999 12:30:15" -> "1999-01-05 12:30:15.0",
      "05 JAN 1999 9:30 PM" -> "1999-01-05 21:30:00.0",
      "10.JAN.1999 12:30" -> "1999-01-10 12:30:00.0",
      "JAN-5-1999 12:30:15" -> "1999-01-05 12:30:15.0",
      "5 JAN 1999 12:30:15.5" -> "1999-01-05 12:30:15.5",
      "5 JAN 1999 3:15P"  -> "1999-01-05 15:15:00.0",
      "JAN 5 1999 3:15 A" -> "1999-01-05 03:15:00.0",
      "1999-JAN-5 12:30"  -> "1999-01-05 12:30:00.0",
      "1999 JAN 5 12:30:15 GMT" -> "1999-01-05 12:30:15.0",
      "10.JAN.1999 12:30 EST" -> "1999-01-10 12:30:00.0",
      "JAN-5-1999 9:30PM+5" -> "1999-01-05 16:30:00.0",
      "05 JAN 1999 12:30:15 GMT +5" -> "1999-01-05 12:30:15.0",
      "1999 JAN 5 12:30+5" -> "1999-01-05 07:30:00.0",
      // numeric permutations (shape 23/26): M-D-Y with dateutil's
      // month/day auto-swap; leading 4-digit years are Y-M-D (no swap)
      "01-05-1999"        -> "1999-01-05 00:00:00.0",
      "13-05-1999"        -> "1999-05-13 00:00:00.0",
      "05-13-1999"        -> "1999-05-13 00:00:00.0",
      "31-12-1999"        -> "1999-12-31 00:00:00.0",
      "01-05-99"          -> s"${pivotYear(99)}-01-05 00:00:00.0",
      "10.01.1999"        -> "1999-10-01 00:00:00.0",
      "13.05.1999"        -> "1999-05-13 00:00:00.0",
      "13.5.99"           -> s"${pivotYear(99)}-05-13 00:00:00.0",
      "1999.5.13"         -> "1999-05-13 00:00:00.0",
      "1999 01 05"        -> "1999-01-05 00:00:00.0",
      "01 05 1999"        -> "1999-01-05 00:00:00.0",
      "1999 12 31"        -> "1999-12-31 00:00:00.0",
      "31 12 1999"        -> "1999-12-31 00:00:00.0",
      "12 31 1999"        -> "1999-12-31 00:00:00.0",
      "99 01 05"          -> s"${pivotYear(99)}-01-05 00:00:00.0",
      "5 6 7"             -> s"${pivotYear(7)}-05-06 00:00:00.0",
      "1/2/345"           -> "0345-01-02 00:00:00.0",
      "123/4/5"           -> "0123-04-05 00:00:00.0",
      "1ST 2 1999"        -> "1999-01-02 00:00:00.0",
      // numeric + clock, the slash swap, and 2-digit-year slash clocks
      "13/5/1999"         -> "1999-05-13 00:00:00.0",
      "31/1/1999"         -> "1999-01-31 00:00:00.0",
      "31/12/99"          -> s"${pivotYear(99)}-12-31 00:00:00.0",
      "13/5/1999 12:30"   -> "1999-05-13 12:30:00.0",
      "13/5/99 12:30"     -> s"${pivotYear(99)}-05-13 12:30:00.0",
      "1/2/34 12:30"      -> s"${pivotYear(34)}-01-02 12:30:00.0",
      "1999/1/5 12:30"    -> "1999-01-05 12:30:00.0",
      "13-05-1999 3:15 PM" -> "1999-05-13 15:15:00.0",
      "05-13-99 12:30"    -> s"${pivotYear(99)}-05-13 12:30:00.0",
      "01-05-1999 12:30:15" -> "1999-01-05 12:30:15.0",
      "01-05-1999 9:30.5 PM" -> "1999-01-05 21:30:30.0",
      "01-05-1999T12:30"  -> "1999-01-05 12:30:00.0",
      "1999.01.05 12:30"  -> "1999-01-05 12:30:00.0",
      "1999.01.05 9:30 PM" -> "1999-01-05 21:30:00.0",
      "10.01.1999 12:30"  -> "1999-10-01 12:30:00.0",
      "01-05-1999 12:30:15 EST" -> "1999-01-05 12:30:15.0",
      "13/5/1999 12:30 GMT+5" -> "1999-05-13 17:30:00.0",
      // compact yyyyMMdd + 'T' clocks (shape 24)
      "19990105T123015"   -> "1999-01-05 12:30:15.0",
      "19990105T1230"     -> "1999-01-05 12:30:00.0",
      "19990105T12"       -> "1999-01-05 12:00:00.0",
      "19990105T"         -> "1999-01-05 00:00:00.0",
      "19990105 T12"      -> "1999-01-05 12:00:00.0",
      "19990105T123015.5" -> "1999-01-05 12:30:15.5",
      "19990105T1230PM"   -> "1999-01-05 12:30:00.0",
      "19990105T1230 PM"  -> "1999-01-05 12:30:00.0",
      "19990105T12 EST"   -> "1999-01-05 12:00:00.0",
      "19990105T1230Z"    -> "1999-01-05 12:30:00.0",
      "19990105T1230+5"   -> "1999-01-05 07:30:00.0",
      // clock comma = dateutil's decimal comma
      "12:30:15,123"      -> "0001-01-01 12:30:15.123",
      "12:30,5"           -> "0001-01-01 12:30:30.0",
      "12:30:15,"         -> "0001-01-01 12:30:15.0",
      "2014-01-10 12:30:15,123" -> "2014-01-10 12:30:15.123",
      "2014-01-10 12:30:15,123 UTC" -> "2014-01-10 12:30:15.123",
      "12:30:15,123 PM"   -> "0001-01-01 12:30:15.123",
      // differential findings (r11, 20k random vectors vs dateutil):
      // a weekday only applies when the day was NOT given
      "THU,OCTOBER 5"     -> "0001-10-05 00:00:00.0",
      "FRI,MAR 12"        -> "0001-03-12 00:00:00.0",
      "SAT 27, DECEMBER"  -> "0001-12-27 00:00:00.0",
      "TUESDAY DECEMBER-1" -> "0001-12-01 00:00:00.0",
      // a >31 lead slash field is a windowed YEAR, and year-first
      // never swaps
      "80/8/29"           -> s"${pivotYear(80)}-08-29 00:00:00.0",
      "33/9/19"           -> s"${pivotYear(33)}-09-19 00:00:00.0",
      "31/8/29"           -> s"${pivotYear(29)}-08-31 00:00:00.0",
      // a UTC-equivalent name drops its orphan offset UNVALIDATED
      "4:10UTC -23:63"    -> "0001-01-01 04:10:00.0")
    for ((in, want) <- cases) {
      val got = one(permissiveTimestamp(upper(trim(col("x")))), in)
      assert(!got.isNullAt(0) && got.getTimestamp(0).toString == want,
        s"$in -> ${got}")
    }
    // probed dateutil ParserErrors stay null; the last group pins the
    // r11 DOCUMENTED divergences (each null here, lunacy in dateutil):
    // "T1230" → year 1230; 2-token numerics ("13.05" → decimal-token
    // day); comma-separated numeric triples ("01,05,1999" → decimal
    // comma eats the day); letter-digit adjacency ("JAN5 1999" →
    // dateutil's lexer splits, here one bad token); weekday AFTER the
    // date ("5 JAN 1999 SUN" — leading-position weekdays only)
    for (in <- Seq("T1230", "JAN 32 1999", "0 JAN 1999", "JAN 0 1999",
      "1999 JAN FEB", "JAN--5--1999", "JAN 5,, 1999", "13/13/1999",
      "1999/13/5", "1999.13.5", "00-00-1999", "01-05.1999", "1 2 3 4",
      "111/2/34", "19990105T1", "19990105T123", "19990105T1230.5",
      "0105T12", "JAN 5, 1999 EST", "01-05-1999 EST", "19990105T123 EST",
      "JAN 5 1999 25:00", "TUES 5 JAN 1999", "THURS 5 JAN 1999",
      "SUNJAN", "12,30", "13.05", "01-05", "1/2", "12H30", "JAN5 1999",
      "01,05,1999", "5 JAN 1999 SUN",
      // r11 differential: year-first never swaps; a zone needs actual
      // clock digits after a compact 'T'
      "32/24/12", "19970704T BLURG +12", "20570803 T +14"))
      assert(one(permissiveTimestamp(upper(trim(col("x")))), in).isNullAt(0),
        s"$in should be null")
  }

  test("date fallback composes from year/month/day (test:209-221)") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Map("dwc:year" -> "2014", "dwc:month" -> "01",
      "dwc:day" -> "10"))).toDF("data")
    val r = Enrich.records(df).select("datecollected", "startdayofyear").collect()(0)
    assert(r.getTimestamp(0).toString === "2014-01-10 00:00:00.0")
    assert(r.getInt(1) === 10)
  }

  test("date fallback: year + startDayOfYear") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Map("dwc:year" -> "1987", "dwc:month" -> "8",
      "dwc:startDayOfYear" -> "233"))).toDF("data")
    val r = Enrich.records(df).select("datecollected").collect()(0)
    assert(r.getTimestamp(0).toString === "1987-08-21 00:00:00.0")
  }

  test("geo pre-flip swaps transposed coordinates (conversions.py:460-465)") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Map(
      "dwc:decimalLatitude" -> "134.567", "dwc:decimalLongitude" -> "34.567",
      "dwc:geodeticDatum" -> "WGS84"))).toDF("data")
    val r = Enrich.records(df).select("geopoint", "flags").collect()(0)
    val gp = r.getStruct(0)
    assert(gp.getDouble(0) === 134.567 && gp.getDouble(1) === 34.567)
    assert(r.getSeq[String](1).contains("geopoint_pre_flip"))
  }

  test("geo bounds: out-of-range nulls the point and flags (:467-475)") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Map(
      "dwc:decimalLatitude" -> "91.0", "dwc:decimalLongitude" -> "200.0")))
      .toDF("data")
    val r = Enrich.records(df).select("geopoint", "flags").collect()(0)
    assert(r.isNullAt(0))
    assert(r.getSeq[String](1).contains("geopoint_bounds"))
  }

  test("geo low-precision flag at <= 2 decimals (:476-477)") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Map(
      "dwc:decimalLatitude" -> "18.34", "dwc:decimalLongitude" -> "-64.7131",
      "dwc:geodeticDatum" -> "WGS84"))).toDF("data")
    val r = Enrich.records(df).select("flags").collect()(0)
    assert(r.getSeq[String](0).contains("geopoint_low_precision"))
  }

  test("datum: unknown datum flags error; alias resolves (:485-509)") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1, Map("dwc:decimalLatitude" -> "10.123", "dwc:decimalLongitude" -> "20.123",
        "dwc:geodeticDatum" -> "World Geodetic System 1984")),
      (2, Map("dwc:decimalLatitude" -> "10.123", "dwc:decimalLongitude" -> "20.123",
        "dwc:geodeticDatum" -> "Mars 2000")),
    ).toDF("id", "data")
    val rows = Enrich.records(df.orderBy("id")).select("flags").collect()
    assert(!rows(0).getSeq[String](0).exists(_.startsWith("geopoint_datum")))
    assert(rows(1).getSeq[String](0).contains("geopoint_datum_error"))
  }

  test("crossfill: genus+epithet builds scientificname with flag (:745-768)") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Map("dwc:genus" -> "Puma",
      "dwc:specificEpithet" -> "concolor"))).toDF("data")
    val r = Enrich.records(df).select("scientificname", "flags").collect()(0)
    assert(r.getString(0) === "puma concolor")
    assert(r.getSeq[String](1).contains("scientificname_added"))
  }

  test("crossfill reverse: scientificname splits to genus/epithet") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Map("dwc:scientificName" -> "Puma concolor"))).toDF("data")
    val r = Enrich.records(df)
      .select("genus", "specificepithet", "flags").collect()(0)
    assert(r.getString(0) === "puma")
    assert(r.getString(1) === "concolor")
    assert(r.getSeq[String](2).contains("genus_added"))
    assert(r.getSeq[String](2).contains("specificepithet_added"))
  }

  test("parseSciName: authorship, subgenus, rank markers (gnparser-equivalent)") {
    val s = spark
    import s.implicits._
    // input is lowercased upstream (verbatimGrabber) — goldens feed the
    // same shape; expected pairs match gnparser's genus/species extraction
    val cases = Seq(
      ("puma concolor (linnaeus, 1771)", "puma", "concolor"),   // trailing authorship
      ("quercus alba l.", "quercus", "alba"),                   // abbreviated author
      ("puma (puma) concolor", "puma", "concolor"),             // subgenus skipped
      ("carex sp.", "carex", null),                             // sp. is not an epithet
      ("abies cf. alba", "abies", null),                        // cf. blocks the slot
      ("aus var. bus", "aus", null),                            // rank marker not epithet
      ("homo sapiens", "homo", "sapiens"),
      // hybrid markers (×, lowercased x): a leading marker prefixes a
      // hybrid genus; an infix marker names a binomial hybrid — both
      // shapes keep genus/epithet like gnparser's details extraction
      ("x triticosecale", "triticosecale", null),               // hybrid genus, uninomial
      ("x sorbaronia fallax", "sorbaronia", "fallax"),          // hybrid genus binomial
      ("salix × sepulcralis", "salix", "sepulcralis"),          // named hybrid
      ("acer x rubrum", "acer", "rubrum"),                      // letter-form marker
      ("123 weird", null, null),                                // junk
    )
    for ((in, g, e) <- cases) {
      val (gc, ec) = Grabbers.parseSciName(col("x"))
      val r = Seq(Tuple1(in)).toDF("x").select(gc, ec).collect()(0)
      assert(Option(r.getString(0)) == Option(g), s"genus of '$in': $r")
      assert(Option(r.getString(1)) == Option(e), s"epithet of '$in': $r")
    }
  }

  test("enrich plan is UDF-free single-stage (no shuffle)") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1(Map("dwc:genus" -> "x"))).toDF("data")
    val plan = Enrich.records(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "enrich must not shuffle")
    assert(!plan.toLowerCase.contains("scalaudf"), "enrich must not use UDFs")
  }
}
