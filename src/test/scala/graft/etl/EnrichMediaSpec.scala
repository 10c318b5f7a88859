package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The mediarecords grabAll pipeline (conversions.py:932-964 over the
  * :138-160 field table), asserted against goldens from the reference's
  * suite (tests/idb/test_helpers_conversions.py:385-414
  * test_grab_all_on_mediarecord) plus targeted cases for the license
  * vote, accessuri suppression, and the xpixels grab swap.
  */
class EnrichMediaSpec extends SparkSpec {

  private def run(data: Map[String, String],
      siblings: Map[String, Seq[String]] = null) = {
    val s = spark
    import s.implicits._
    val base = Seq(Tuple1(data)).toDF("data")
    val df =
      if (siblings == null) base
      else Seq((data, siblings)).toDF("data", "siblings")
    Enrich.mediarecords(df).collect()(0)
  }

  test("grabAll golden (test_helpers_conversions.py:385-414)") {
    val r = run(Map(
      "dcterms:type" -> "StillImage",
      "xmpRights:UsageTerms" -> "CC BY-NC-SA (Attribution-NonCommercial-ShareAlike)",
      "dcterms:format" -> "image/jpeg",
      "dcterms:identifier" -> "https://x/lg.jpg",
      "dcterms:rights" -> "http://creativecommons.org/licenses/by-nc/3.0/",
      "ac:accessURI" -> "https://x/access.jpg"))
    assert(r.getAs[String]("format") === "image/jpeg")
    assert(r.getAs[String]("mediatype") === "images")
    assert(r.getAs[String]("accessuri") === "https://x/access.jpg")
    // xmpRights:UsageTerms is prose (not an acceptable-license URL), so
    // only dcterms:rights votes: CC3 BY-NC expands to its detail triple
    assert(r.getAs[String]("rights") === "BY-NC")
    // CC3 logo URLs are http:// in the reference table (CC4's are https)
    assert(r.getAs[String]("licenselogourl") ===
      "http://i.creativecommons.org/l/by-nc/3.0/88x31.png")
    assert(r.getAs[String]("webstatement") ===
      "http://creativecommons.org/licenses/by-nc/3.0/")
    // dc:type absent (the fixture uses dcterms:type) → null, like the
    // reference's verbatim grab of "dc:type"
    assert(r.isNullAt(r.fieldIndex("type")))
    assert(r.getAs[Seq[String]]("flags") === Seq.empty)
    val dqs = r.getAs[Double]("dqs")
    assert(dqs >= 0.0 && dqs <= 1.0)
  }

  test("license majority vote and first-seen tiebreak") {
    val by4 = "http://creativecommons.org/licenses/by/4.0/"
    val cc0 = "http://creativecommons.org/publicdomain/zero/1.0/"
    // 2 votes BY vs 1 vote CC0 → BY
    val maj = run(Map("dcterms:rights" -> by4, "dc:rights" -> by4,
      "dcterms:license" -> cc0))
    assert(maj.getAs[String]("rights") === "BY")
    // 1-1 tie → first candidate field in document order wins
    val tie = run(Map("dcterms:rights" -> by4, "dcterms:license" -> cc0))
    assert(tie.getAs[String]("rights") === "BY")
    // no acceptable license anywhere → all three detail fields null
    val none = run(Map("dcterms:rights" -> "All rights reserved"))
    assert(none.isNullAt(none.fieldIndex("rights")))
    assert(none.isNullAt(none.fieldIndex("licenselogourl")))
    assert(none.isNullAt(none.fieldIndex("webstatement")))
  }

  test("accessuri fallback suppressed by any ac: key (conversions.py:711-722)") {
    assert(run(Map("ac:accessURI" -> "u1", "dcterms:identifier" -> "u2"))
      .getAs[String]("accessuri") === "u1")
    assert(run(Map("ac:bestQualityAccessURI" -> "u3"))
      .getAs[String]("accessuri") === "u3")
    // identifier is used only when NO ac: key is present at all
    assert(run(Map("dcterms:identifier" -> "u4"))
      .getAs[String]("accessuri") === "u4")
    assert(run(Map("dc:identifier" -> "u5")).getAs[String]("accessuri") === "u5")
    val suppressed = run(Map("dcterms:identifier" -> "u6", "ac:tag" -> "t"))
    assert(suppressed.isNullAt(suppressed.fieldIndex("accessuri")))
  }

  test("xpixels grabs exif:PixelYDimension (reference swap, conversions.py:367-368)") {
    val r = run(Map("exif:PixelXDimension" -> "640", "exif:PixelYDimension" -> "480"))
    assert(r.getAs[Long]("xpixels") === 480L)
    assert(r.getAs[Long]("ypixels") === 640L)
  }

  test("relations: records list, recordset, hasSpecimen (:246-254)") {
    val r = run(Map.empty,
      siblings = Map(
        "recordset" -> Seq("40250f4d-7aa6-4fcc-ac38-2868fa4846bd"),
        "record" -> Seq("0000012b-9bb8-42f4-ad3b-c958cb22ae45")))
    assert(r.getAs[String]("recordset") === "40250f4d-7aa6-4fcc-ac38-2868fa4846bd")
    assert(r.getAs[Seq[String]]("records") ===
      Seq("0000012b-9bb8-42f4-ad3b-c958cb22ae45"))
    assert(r.getAs[Boolean]("hasSpecimen"))
    val no = run(Map.empty)
    assert(!no.getAs[Boolean]("hasSpecimen"))
  }

  test("pipeline plan is UDF-free (license vote + accessuri stay in codegen)") {
    val s = spark
    import s.implicits._
    val df = Enrich.mediarecords(Seq(Tuple1(Map("dc:type" -> "x"))).toDF("data"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"))
  }

  test("licenseKey native probe matches the when-chain spec on the full table") {
    val s = spark
    import s.implicits._
    // every key in the acceptable-licenses table, plus misses and null
    val inputs = Vocab.licenseTrans.keys.toSeq ++
      Seq("not a license", "", "CC0 ", "cc0\n") :+ null
    val df = inputs.map(Tuple1(_)).toDF("v").select(
      col("v"),
      graft.etl.Grabbers.licenseKey(col("v")).as("probe"),
      graft.operators.GrabberForms.licenseKey(col("v")).as("spec"))
    df.collect().foreach { r =>
      assert(Option(r.getString(1)) === Option(r.getString(2)),
        s"input '${r.getString(0)}'")
    }
  }
}
