package graft.queries

import graft.Tables
import graft.etl.{Enrich, FieldSchema, GeoCorrection}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The grabAll enrichment pipeline (SURVEY §2.8) as a CORRECTNESS query:
  * raw `dwc:*` records are synthesized deterministically from `orders`
  * (string building via integer concat only, so both engines see
  * byte-identical inputs), pushed through the real
  * [[graft.etl.Enrich.records]] pipeline, and compared against a DuckDB
  * mirror of the SQL-expressible semantics: number grabbing with
  * thousands separators, date parsing + day-of-year, geo parse + flag
  * set, basisOfRecord vocabulary fixing, crossfill, flag folding, and
  * the data-quality score.
  */
object EtlQueries {

  def qEnrich(s: SparkSession, dir: String): DataFrame =
    enrichedProjection(s, dir, sortedSource = true)

  /** The synthesized-raw → [[Enrich.records]] → projected-fields body
    * of [[qEnrich]], factored so the composed §3.3 index-run gate
    * ([[qIndexRun]]) enriches through ONE definition. `sortedSource`
    * applies qEnrich's sort-at-the-scan (its output contract is
    * id-ordered); the composed gate passes false — its join and final
    * uuid sort would discard the ordering, so the range-sampling job
    * + global sort would be pure waste on its hot path. */
  private def enrichedProjection(s: SparkSession, dir: String,
      sortedSource: Boolean): DataFrame = {
    val o = Tables.orders(s, dir)
    val latStr = concat(
      (col("o_orderkey") % 170 - 85).cast("string"), lit("."),
      lpad((col("o_orderkey") % 1000).cast("string"), 3, "0"))
    val lonStr = concat(
      (col("o_orderkey") % 340 - 170).cast("string"), lit("."),
      lpad((col("o_custkey") % 1000).cast("string"), 3, "0"))
    val elevStr = concat((col("o_orderkey") % 5000).cast("string"), lit(".5 m"))
    val countStr = concat((col("o_custkey") % 9 + 1).cast("string"), lit(","),
      lpad((col("o_orderkey") % 1000).cast("string"), 3, "0"))
    val sciname = concat(lit("Genus"), (col("o_custkey") % 50).cast("string"),
      lit(" epithet"), (col("o_orderkey") % 100).cast("string"))
    val borStr = when(col("o_orderpriority") === "1-URGENT", "Preserved Specimen")
      .when(col("o_orderpriority") === "2-HIGH", "Fossil bones")
      .when(col("o_orderpriority") === "3-MEDIUM", "machine observation")
      .when(col("o_orderpriority") === "4-NOT SPECIFIED", "mystery meat")
      .otherwise("unknown sheet")
    // Sort at the SOURCE, not on the enriched result: a top-level orderBy
    // range-samples its child, which re-executes the entire enrich
    // projection a second time just to pick partition boundaries. Sorting
    // the scan first means the sampling job reads only the pruned orders
    // columns, and the enrich projection (order-preserving, narrow) runs
    // once, in parallel, over already-ranged partitions.
    val src = if (sortedSource) o.orderBy(col("o_orderkey")) else o
    val raw = src.select(
      col("o_orderkey").as("id"),
      map(
        lit("dwc:scientificName"), sciname,
        lit("dwc:eventDate"), col("o_orderdate").cast("string"),
        lit("dwc:decimalLatitude"), latStr,
        lit("dwc:decimalLongitude"), lonStr,
        lit("dwc:minimumElevationInMeters"), elevStr,
        lit("dwc:individualCount"), countStr,
        lit("dwc:basisOfRecord"), borStr,
      ).as("data"))
    Enrich.records(raw).select(
      col("id"),
      col("scientificname"), col("genus"), col("specificepithet"),
      col("basisofrecord"),
      col("minelevation"), col("individualcount"),
      col("geopoint.lat").as("lat"), col("geopoint.lon").as("lon"),
      col("datecollected"), col("startdayofyear"), col("eventdate"),
      array_join(col("flags"), ",").as("flags"),
      col("dqs"),
    )
  }

  val qEnrichSql: String = {
    val maxScore = FieldSchema.maxScores("records")
    s"""WITH raw AS (
       |  SELECT o_orderkey AS id,
       |    lower('Genus' || CAST(o_custkey % 50 AS VARCHAR) ||
       |          ' epithet' || CAST(o_orderkey % 100 AS VARCHAR)) AS sciname,
       |    CAST(o_orderdate AS VARCHAR) AS event_str,
       |    o_orderdate,
       |    CAST(CAST(o_orderkey % 170 - 85 AS VARCHAR) || '.' ||
       |         lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') AS DOUBLE) AS lat,
       |    CAST(CAST(o_orderkey % 340 - 170 AS VARCHAR) || '.' ||
       |         lpad(CAST(o_custkey % 1000 AS VARCHAR), 3, '0') AS DOUBLE) AS lon,
       |    (o_orderkey % 5000) + 0.5 AS minelevation,
       |    CAST((o_custkey % 9 + 1) * 1000 + (o_orderkey % 1000) AS DOUBLE)
       |      AS individualcount,
       |    CASE o_orderpriority
       |      WHEN '1-URGENT' THEN 'preservedspecimen'
       |      WHEN '2-HIGH' THEN 'fossilspecimen'
       |      WHEN '3-MEDIUM' THEN 'machineobservation'
       |      ELSE NULL END AS bor_fixed
       |  FROM orders)
       |SELECT id, sciname AS scientificname,
       |  string_split(sciname, ' ')[1] AS genus,
       |  string_split(sciname, ' ')[2] AS specificepithet,
       |  bor_fixed AS basisofrecord,
       |  minelevation, individualcount, lat, lon,
       |  CAST(o_orderdate AS TIMESTAMP) AS datecollected,
       |  CAST(dayofyear(o_orderdate) AS INT) AS startdayofyear,
       |  event_str AS eventdate,
       |  concat_ws(',',
       |    CASE WHEN lat = 0 OR lon = 0 THEN 'geopoint_0_coord' END,
       |    CASE WHEN abs(lat) = abs(lon) THEN 'geopoint_similar_coord' END,
       |    'geopoint_datum_missing',
       |    'genus_added', 'specificepithet_added',
       |    CASE WHEN bor_fixed IS NULL THEN 'dwc_basisofrecord_removed' END,
       |    CASE WHEN bor_fixed IS NULL THEN 'dwc_basisofrecord_invalid' END
       |  ) AS flags,
       |  ((CASE WHEN bor_fixed IS NULL THEN 10 ELSE 11 END)
       |   - (3 + (CASE WHEN lat = 0 OR lon = 0 THEN 1 ELSE 0 END)
       |        + (CASE WHEN abs(lat) = abs(lon) THEN 1 ELSE 0 END)
       |        + (CASE WHEN bor_fixed IS NULL THEN 2 ELSE 0 END)))
       |  / $maxScore AS dqs
       |FROM raw ORDER BY id""".stripMargin
  }

  /** The §3.3 INDEXING RUN composed as ONE gate — `index_record`
    * (idb/indexing/index_helper.py:30-115), the per-entity dispatch of
    * the reference's `idb index full` path (SURVEY §3.3), over an
    * orders-derived store slice:
    *
    *  - a TOMBSTONED entity (etag == the fixed tombstone etag,
    *    db.py:33) becomes a DELETE action carrying the uuid alone
    *    (index_helper.py:45-54) — no correction, no enrichment, no
    *    envelope;
    *  - every other entity runs the REAL correct+grabAll pipeline
    *    ([[Enrich.records]], the exact [[qEnrich]] body via
    *    [[enrichedProjection]] — one definition) and merges the store
    *    envelope (idigbio:uuid/etag/parent/recordIds/dateModified
    *    isoformat, index_helper.py:58-66), then serializes through the
    *    REAL [[graft.etl.Serialize.prepForEs]] (timestamps →
    *    ISO-8601 strings, indexer.py:50-89) — this gate makes
    *    prepForEs load-bearing under the oracle, not just spec'd.
    *
    * The oracle embeds [[qEnrichSql]] VERBATIM as a CTE (one
    * definition of the enrichment semantics) and replays the
    * dispatch + envelope + serialization around it. Scale shape: the
    * dispatch is a filter, the enrichment one codegen projection, the
    * envelope a key-aligned join — no shuffle beyond the store's own
    * keys (in production this feeds the bulk sink, §2.1's streaming
    * foreachBatch merge). */
  def qIndexRun(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val reg = o.select(
      col("o_orderkey").as("id"),
      concat(lit("u"), col("o_orderkey")).as("uuid"),
      concat(lit("rs"), col("o_custkey") % 5).as("parent"),
      (col("o_orderkey") % 97 === 0).as("_tomb"),
      col("o_orderdate").cast("timestamp").as("modified"))
    // BOTH timestamps (the envelope's dateModified and the enriched
    // datecollected) stay TimestampType into prepForEs — the ONE
    // definition of the ES ISO serialization — and take their
    // serialized names after
    val indexRows = graft.etl.Serialize.prepForEs(
      reg.where(!col("_tomb"))
        .join(enrichedProjection(s, dir, sortedSource = false), Seq("id"))
        .select(
          col("uuid"), lit("index").as("op"), col("parent"),
          md5(concat(lit("body:"), col("id"))).as("etag"),
          col("modified"),
          concat(lit("order:"), col("id")).as("recordids_csv"),
          col("scientificname"), col("genus"), col("basisofrecord"),
          col("lat"), col("lon"),
          col("datecollected"),
          col("flags"), col("dqs")))
      .withColumnRenamed("modified", "modified_iso")
      .withColumnRenamed("datecollected", "datecollected_iso")
    def nullS = lit(null).cast("string")
    def nullD = lit(null).cast("double")
    val deleteRows = reg.where(col("_tomb")).select(
      col("uuid"), lit("delete").as("op"), nullS.as("parent"),
      lit(graft.store.RecordStore.TombstoneEtag).as("etag"),
      nullS.as("modified_iso"), nullS.as("recordids_csv"),
      nullS.as("scientificname"), nullS.as("genus"),
      nullS.as("basisofrecord"), nullD.as("lat"), nullD.as("lon"),
      nullS.as("datecollected_iso"), nullS.as("flags"),
      nullD.as("dqs"))
    // the top-level sort's range-sampling pass would re-evaluate the
    // whole correct+enrich+join composition a SECOND time (the close
    // bench read 4.35 s ≈ 2× q_enrich — exactly double evaluation;
    // qEnrich's sort-at-the-source trick doesn't survive a join) —
    // cut the lineage once, sort the materialized cut
    graft.Staging.registerPinned(s,
      graft.operators.Graph.cut(indexRows.unionByName(deleteRows)))
      .orderBy(col("uuid"))
  }

  val qIndexRunSql: String =
    s"""WITH enr AS ($qEnrichSql),
       |reg AS (SELECT o_orderkey AS id, 'u'||o_orderkey AS uuid,
       |  'rs'||(o_custkey%5) AS parent, (o_orderkey%97 = 0) AS tomb,
       |  CAST(o_orderdate AS TIMESTAMP) AS modified FROM orders)
       |SELECT uuid, op, parent, etag, modified_iso, recordids_csv,
       |  scientificname, genus, basisofrecord, lat, lon,
       |  datecollected_iso, flags, dqs FROM (
       |SELECT r.uuid, 'index' AS op, r.parent,
       |  md5('body:'||r.id) AS etag,
       |  strftime(r.modified, '%Y-%m-%dT%H:%M:%SZ') AS modified_iso,
       |  'order:'||r.id AS recordids_csv,
       |  e.scientificname, e.genus, e.basisofrecord, e.lat, e.lon,
       |  strftime(e.datecollected, '%Y-%m-%dT%H:%M:%SZ')
       |    AS datecollected_iso,
       |  e.flags, e.dqs
       |FROM reg r JOIN enr e ON e.id = r.id WHERE NOT r.tomb
       |UNION ALL
       |SELECT uuid, 'delete', NULL,
       |  '${graft.store.RecordStore.TombstoneEtag}',
       |  NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
       |FROM reg WHERE tomb
       |) ORDER BY uuid""".stripMargin

  // ---------------------------------------------------------------------
  // q_geo_correct: the reverse-geocode correction stage
  // (conversions.py:514-563, rg.py:14-78) exercised END-TO-END through
  // Enrich.records with a fixture country index. Points are synthesized
  // inside rectangle "countries", then deterministically corrupted with
  // the exact error classes the reference's 7-way flip search repairs
  // (sign flips, transposition), plus ocean points (rev_geocode_failure)
  // and wrong-countrycode rows (rev_geocode_mismatch). The oracle mirrors
  // the full decision procedure in SQL: point-in-rectangle stands in for
  // point-in-polygon (the ray-cast agrees on rectangle interiors), and
  // the candidate CASE replays the reference's priority order.
  // ---------------------------------------------------------------------

  /** Fixture countries: (code, lon0, lon1, lat0, lat1), chosen so no
    * synthesized point lands on a boundary and ranges stay disjoint
    * under every corruption. */
  private val rgRects = Seq(
    ("aa", 9.5, 31.5, 44.5, 65.5),
    ("bb", -81.5, -59.5, 34.5, 55.5),
    ("cc", 59.5, 80.5, -41.5, -19.5))

  def rgFixtureIndex: GeoCorrection.CountryIndex =
    new GeoCorrection.CountryIndex(rgRects.map { case (code, x0, x1, y0, y1) =>
      GeoCorrection.CountryShape(code,
        Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1)))
    })

  /** SQL twin of CountryIndex.countryOf over the fixture rectangles. */
  private def countrySql(lon: String, lat: String): String =
    "CASE " + rgRects.map { case (c, x0, x1, y0, y1) =>
      s"WHEN $lon > $x0 AND $lon < $x1 AND $lat > $y0 AND $lat < $y1 THEN '$c'"
    }.mkString(" ") + " END"

  def qGeoCorrect(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val k = col("o_orderkey") % 5   // corruption class
    val ci = col("o_custkey") % 4   // country (3 = ocean)
    val lonI = when(ci === 0, 10).when(ci === 1, -80)
      .when(ci === 2, 60).otherwise(-150) + col("o_orderkey") % 20
    val latI = when(ci === 0, 45).when(ci === 1, 35)
      .otherwise(-40) + col("o_custkey") % 20
    val lonS = concat(lonI.cast("string"), lit("."),
      lpad((col("o_orderkey") % 1000).cast("string"), 3, "0"))
    val latS = concat(latI.cast("string"), lit("."),
      lpad((col("o_custkey") % 1000).cast("string"), 3, "0"))
    def negS(c: Column): Column =
      when(substring(c, 1, 1) === "-", substring(c, 2, 64))
        .otherwise(concat(lit("-"), c))
    val lonC = when(k === 1 || k === 3, negS(lonS))
      .when(k === 4, latS).otherwise(lonS)
    val latC = when(k === 2 || k === 3, negS(latS))
      .when(k === 4, lonS).otherwise(latS)
    // countrycode: absent for ocean rows; deliberately wrong every 7th key
    val ccTrue = when(ci === 0, "aa").when(ci === 1, "bb").otherwise("cc")
    val ccWrong = when(ci === 0, "bb").when(ci === 1, "cc").otherwise("aa")
    val cc = when(col("o_orderkey") % 7 === 0, ccWrong).otherwise(ccTrue)
    // Barriers between fixture synthesis and the pipeline: without
    // them CollapseProject fuses the corruption CASE trees into
    // Enrich's stage-0 map-consumption span (measured 11 KB > the 8 KB
    // JIT ceiling → the whole span ran interpreted). Production inputs
    // are source columns, so stage 0's own span stays small — the
    // barriers make the fixture feed look like one. Two spans because
    // the map() constructor copies each value tree into both CASE
    // branches: value synthesis first (the big trees, once), then the
    // cheap map assembly over bound attributes.
    val parts = graft.plans.CodegenBarrier(
      o.orderBy(col("o_orderkey")).select(
        col("o_orderkey").as("id"), ci.as("_ci"),
        lonC.as("_lonc"), latC.as("_latc"), cc.as("_cc")))
    val base = Seq(
      lit("dwc:decimalLatitude"), col("_latc"),
      lit("dwc:decimalLongitude"), col("_lonc"),
      lit("dwc:geodeticDatum"), lit("WGS84"),
      lit("dwc:basisOfRecord"), lit("PreservedSpecimen"))
    val raw = graft.plans.CodegenBarrier(
      parts.select(
        col("id"),
        when(col("_ci") === 3, map(base: _*))
          .otherwise(map(base ++ Seq(lit("idigbio:isoCountryCode"), col("_cc")): _*))
          .as("data")))
    Enrich.records(raw, geo = Some((rgFixtureIndex, None))).select(
      col("id"),
      col("geopoint.lon").as("lon"), col("geopoint.lat").as("lat"),
      array_join(col("flags"), ",").as("flags"))
  }

  val qGeoCorrectSql: String = {
    def c(lon: String, lat: String) = countrySql(lon, lat)
    s"""WITH base AS (
       |  SELECT o_orderkey AS id, o_orderkey % 5 AS k, o_custkey % 4 AS ci,
       |    CAST(CASE o_custkey % 4 WHEN 0 THEN 10 WHEN 1 THEN -80
       |           WHEN 2 THEN 60 ELSE -150 END + o_orderkey % 20 AS VARCHAR)
       |      || '.' || lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') AS lon_s,
       |    CAST(CASE o_custkey % 4 WHEN 0 THEN 45 WHEN 1 THEN 35
       |           ELSE -40 END + o_custkey % 20 AS VARCHAR)
       |      || '.' || lpad(CAST(o_custkey % 1000 AS VARCHAR), 3, '0') AS lat_s,
       |    CASE WHEN o_custkey % 4 = 3 THEN NULL
       |         WHEN o_orderkey % 7 = 0 THEN
       |           (CASE o_custkey % 4 WHEN 0 THEN 'bb' WHEN 1 THEN 'cc' ELSE 'aa' END)
       |         ELSE (CASE o_custkey % 4 WHEN 0 THEN 'aa' WHEN 1 THEN 'bb' ELSE 'cc' END)
       |    END AS cc
       |  FROM orders),
       |corr AS (
       |  SELECT id, cc,
       |    CAST(CASE WHEN k IN (1, 3) THEN
       |           (CASE WHEN substr(lon_s, 1, 1) = '-' THEN substr(lon_s, 2)
       |                 ELSE '-' || lon_s END)
       |         WHEN k = 4 THEN lat_s ELSE lon_s END AS DOUBLE) AS plon,
       |    CAST(CASE WHEN k IN (2, 3) THEN
       |           (CASE WHEN substr(lat_s, 1, 1) = '-' THEN substr(lat_s, 2)
       |                 ELSE '-' || lat_s END)
       |         WHEN k = 4 THEN lon_s ELSE lat_s END AS DOUBLE) AS plat
       |  FROM base),
       |g1 AS (
       |  SELECT *, ((plat >= -180 AND plat < -90) OR (plat > 90 AND plat <= 180))
       |    AND plon BETWEEN -90 AND 90 AS pre_flip FROM corr),
       |g2 AS (
       |  SELECT id, cc, pre_flip,
       |    CASE WHEN pre_flip THEN plat ELSE plon END AS lon1,
       |    CASE WHEN pre_flip THEN plon ELSE plat END AS lat1 FROM g1),
       |g3 AS (
       |  SELECT *, NOT (lat1 BETWEEN -90 AND 90 AND lon1 BETWEEN -180 AND 180)
       |    AS oob FROM g2),
       |g4 AS (
       |  SELECT *, CASE WHEN NOT oob THEN ${c("lon1", "lat1")} END AS r0 FROM g3),
       |g5 AS (
       |  SELECT *,
       |    CASE WHEN NOT oob AND cc IS NOT NULL AND (r0 IS NULL OR r0 != cc) THEN
       |      CASE WHEN ${c("(-lon1)", "lat1")} = cc THEN 1
       |           WHEN ${c("lon1", "(-lat1)")} = cc THEN 2
       |           WHEN ${c("(-lon1)", "(-lat1)")} = cc THEN 3
       |           WHEN abs(lon1) <= 90 AND ${c("lat1", "lon1")} = cc THEN 4
       |           WHEN abs(lon1) <= 90 AND ${c("(-lat1)", "lon1")} = cc THEN 5
       |           WHEN abs(lon1) <= 90 AND ${c("lat1", "(-lon1)")} = cc THEN 6
       |           WHEN abs(lon1) <= 90 AND ${c("(-lat1)", "(-lon1)")} = cc THEN 7
       |           ELSE 0 END
       |    ELSE 0 END AS cidx FROM g4),
       |g6 AS (
       |  SELECT *,
       |    CASE WHEN oob THEN NULL
       |         WHEN cidx IN (1, 3) THEN -lon1 WHEN cidx IN (4, 6) THEN lat1
       |         WHEN cidx IN (5, 7) THEN -lat1 ELSE lon1 END AS lon,
       |    CASE WHEN oob THEN NULL
       |         WHEN cidx IN (2, 3) THEN -lat1 WHEN cidx IN (4, 5) THEN lon1
       |         WHEN cidx IN (6, 7) THEN -lon1 ELSE lat1 END AS lat
       |  FROM g5)
       |SELECT id, lon, lat,
       |  concat_ws(',',
       |    CASE WHEN lon IS NOT NULL AND (lon = 0 OR lat = 0)
       |      THEN 'geopoint_0_coord' END,
       |    CASE WHEN lon IS NOT NULL AND abs(lon) = abs(lat)
       |      THEN 'geopoint_similar_coord' END,
       |    CASE WHEN pre_flip THEN 'geopoint_pre_flip' END,
       |    CASE WHEN oob THEN 'geopoint_bounds' END,
       |    CASE WHEN NOT oob AND r0 IS NULL THEN 'rev_geocode_failure' END,
       |    CASE WHEN NOT oob AND cc IS NOT NULL AND (r0 IS NULL OR r0 != cc)
       |      THEN 'rev_geocode_mismatch' END,
       |    CASE cidx WHEN 1 THEN 'rev_geocode_lon_sign'
       |      WHEN 2 THEN 'rev_geocode_lat_sign'
       |      WHEN 3 THEN 'rev_geocode_both_sign'
       |      WHEN 4 THEN 'rev_geocode_flip'
       |      WHEN 5 THEN 'rev_geocode_flip_lat_sign'
       |      WHEN 6 THEN 'rev_geocode_flip_lon_sign'
       |      WHEN 7 THEN 'rev_geocode_flip_both_sign' END,
       |    CASE WHEN cidx > 0 THEN 'rev_geocode_corrected' END
       |  ) AS flags
       |FROM g6 ORDER BY id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_enrich_media: the mediarecords grabAll pipeline
  // (conversions.py:932-964 over the :138-160 field table) end-to-end:
  // license majority vote with first-seen tiebreak, accessuri fallback
  // with the any-ac:-key suppression, media-type bucketing, the
  // reference's xpixels↔ypixels grab swap, and the presence-based dqs.
  // Scenario classes are keyed off small moduli so every branch of every
  // grabber appears at sf0.01.
  // ---------------------------------------------------------------------

  private val ccBy4 = "http://creativecommons.org/licenses/by/4.0/"
  private val ccByNc4 = "http://creativecommons.org/licenses/by-nc/4.0/"
  private val ccBySa3 = "http://creativecommons.org/licenses/by-sa/3.0/"
  private val cc0 = "http://creativecommons.org/publicdomain/zero/1.0/"

  def qEnrichMedia(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val m7 = col("o_orderkey") % 7  // license scenario
    val m5 = col("o_custkey") % 5   // format scenario
    val m4 = col("o_orderkey") % 4  // accessuri scenario
    val m3 = col("o_custkey") % 3   // ac:tag presence (gates identifier fallback)
    val t3 = col("o_orderkey") % 3  // dc:type presence
    val idS = col("o_orderkey").cast("string")
    val empty = typedLit(Map.empty[String, String])
    val data = map_concat(
      map(
        lit("dcterms:modified"), col("o_orderdate").cast("string"),
        lit("idigbio:dateModified"), col("o_orderdate").cast("string"),
        lit("exif:PixelXDimension"), (col("o_custkey") % 3000 + 100).cast("string"),
        lit("exif:PixelYDimension"), (col("o_orderkey") % 4000 + 100).cast("string")),
      when(t3 =!= 2, map(lit("dc:type"),
        when(t3 === 0, "StillImage").otherwise("Sound"))).otherwise(empty),
      when(m3 =!= 0, map(lit("ac:tag"),
        concat(lit("media tag "), (col("o_custkey") % 10).cast("string"))))
        .otherwise(empty),
      when(m4 === 0, map(lit("ac:accessURI"), concat(lit("http://img/"), idS)))
        .when(m4 === 1, map(lit("ac:bestQualityAccessURI"), concat(lit("http://best/"), idS)))
        .when(m4 === 2, map(lit("dcterms:identifier"), concat(lit("http://ident/"), idS)))
        .otherwise(map(lit("dc:identifier"), concat(lit("http://dc/"), idS))),
      when(m5 === 0, map(lit("dcterms:format"), lit(" Image/JPEG ")))
        .when(m5 === 1, map(lit("dcterms:format"), lit("video/mp4")))
        .when(m5 === 2, map(lit("ac:bestQualityFormat"), lit("audio/mpeg")))
        .when(m5 === 3, map(lit("dcterms:format"), lit("text/plain")))
        .otherwise(empty),
      when(m7 === 0, map(lit("dcterms:rights"), lit(ccBy4)))
        .when(m7 === 1, map(
          lit("dcterms:rights"), lit(ccBy4), lit("dc:rights"), lit(ccBy4),
          lit("dcterms:license"), lit(cc0)))
        .when(m7 === 2, map(
          lit("dcterms:rights"), lit(ccByNc4), lit("dcterms:license"), lit(cc0)))
        .when(m7 === 3, map(lit("xmpRights:UsageTerms"), lit(ccBySa3)))
        .when(m7 === 4, map(lit("dcterms:rights"), lit("All rights reserved")))
        .when(m7 === 5, map(lit("dcterms:license"), lit(cc0)))
        .otherwise(empty))
    val raw = o.orderBy(col("o_orderkey"))
      .select(col("o_orderkey").as("id"), data.as("data"))
    Enrich.mediarecords(raw).select(
      col("id"), col("type"), col("tag"),
      col("xpixels"), col("ypixels"),
      col("format"), col("mediatype"), col("accessuri"),
      col("rights"), col("licenselogourl"), col("webstatement"),
      col("modified"), col("hasSpecimen"), col("dqs"))
  }

  // ---------------------------------------------------------------------
  // q_datum: datum → WGS84 reprojection (conversions.py:485-509) through
  // Enrich.records. Every shifted datum (NAD27 incl. its long-name alias,
  // ED50, OSGB36, WGS72), the identity datum (WGS84), the missing case,
  // and the unknown case (datum_error, point untouched) each appear as a
  // fixture class. The oracle consumes the SAME generated Molodensky SQL
  // the engine runs via expr() — one formula source, two engines — and
  // both sides round to 7 decimals (≈1 cm) to absorb sin/cos last-ulp
  // differences between the JVM and libm.
  // ---------------------------------------------------------------------

  def qDatum(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val k = col("p_partkey")
    val m8 = k % 12
    val latS = concat(((k % 140) - 70).cast("string"), lit(".123456"))
    val lonS = concat(((k % 340) - 170).cast("string"), lit(".654321"))
    val base = Seq(
      lit("dwc:decimalLatitude"), latS,
      lit("dwc:decimalLongitude"), lonS)
    val datum = when(m8 === 0, "NAD27")
      .when(m8 === 1, "North American Datum 1927")
      .when(m8 === 2, "ED50")
      .when(m8 === 3, "OSGB36")
      .when(m8 === 4, "WGS72")
      .when(m8 === 5, "WGS84")
      .when(m8 === 8, "TOKYO")
      .when(m8 === 9, "AGD66")
      .when(m8 === 10, "AGD84")
      .when(m8 === 11, "SAD69")
      .otherwise("MARS 2000")
    val raw = p.orderBy(k).select(
      k.as("id"),
      when(m8 === 6, map(base: _*))
        .otherwise(map(base ++ Seq(lit("dwc:geodeticDatum"), datum): _*))
        .as("data"))
    Enrich.records(raw).select(
      col("id"),
      round(col("geopoint.lon"), 7).as("lon"),
      round(col("geopoint.lat"), 7).as("lat"),
      array_join(col("flags"), ",").as("flags"))
  }

  val qDatumSql: String = {
    import graft.etl.Datums
    s"""WITH base AS (
       |  SELECT p_partkey AS id, p_partkey % 12 AS m8,
       |    CAST(CAST(p_partkey % 140 - 70 AS VARCHAR) || '.123456' AS DOUBLE) AS plat,
       |    CAST(CAST(p_partkey % 340 - 170 AS VARCHAR) || '.654321' AS DOUBLE) AS plon
       |  FROM part),
       |d AS (
       |  SELECT *, CASE m8 WHEN 0 THEN 'NAD27' WHEN 1 THEN 'NAD27'
       |    WHEN 2 THEN 'ED50' WHEN 3 THEN 'OSGB36' WHEN 4 THEN 'WGS72'
       |    WHEN 5 THEN 'WGS84' WHEN 7 THEN 'MARS2000'
       |    WHEN 8 THEN 'TOKYO' WHEN 9 THEN 'AGD66' WHEN 10 THEN 'AGD84'
       |    WHEN 11 THEN 'SAD69' END AS datum_norm
       |  FROM base)
       |SELECT id,
       |  round(${Datums.lonCaseSql("plon", "plat", "datum_norm")}, 7) AS lon,
       |  round(${Datums.latCaseSql("plon", "plat", "datum_norm")}, 7) AS lat,
       |  -- the fixture has no basisOfRecord: the reference flags absent
       |  -- bor as invalid (conversions.py:892-893), hence the constant
       |  concat_ws(',',
       |    CASE WHEN m8 = 6 THEN 'geopoint_datum_missing'
       |         WHEN m8 = 7 THEN 'geopoint_datum_error' END,
       |    'dwc_basisofrecord_invalid') AS flags
       |FROM d ORDER BY id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_enrich_recordset / q_enrich_publisher: grabAll for the two
  // dimension types (conversions.py:932-964 over the field tables
  // :162-188). A recordset's raw document comes from the RSS/EML harvest
  // (bare keys: collection_name, data_rights, link, eml_link, logo_url),
  // with the nested contacts "custom" field (conversions.py:190-203)
  // passed through typed; a publisher's from the registry row (name).
  // Fixtures synthesize both shapes deterministically from customer /
  // supplier so every branch (missing keys, null contacts, 1-vs-2
  // contact lists, versioned "V3" strings) appears at sf0.01.
  // ---------------------------------------------------------------------

  def qEnrichRecordset(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val k = col("c_custkey")
    val m3 = k % 3; val m5 = k % 5
    val m4 = col("c_nationkey") % 4
    val kS = k.cast("string")
    val empty = typedLit(Map.empty[String, String])
    val roles = Seq("Collection Manager", "Data Manager", "Curator")
    val roleOf = (i: Column) =>
      when(i % 3 === 0, roles(0)).when(i % 3 === 1, roles(1)).otherwise(roles(2))
    val contact1 = struct(
      concat(lit("First"), (col("c_nationkey") % 10).cast("string")).as("first_name"),
      concat(lit("Last"), (k % 7).cast("string")).as("last_name"),
      concat(lit("c"), kS, lit("@example.org")).as("email"),
      roleOf(k).as("role"))
    val contact2 = struct(
      lit("Second").as("first_name"),
      concat(lit("Last"), (k % 11).cast("string")).as("last_name"),
      concat(lit("alt"), kS, lit("@example.org")).as("email"),
      roleOf(k + 1).as("role"))
    val data = map_concat(
      map(
        lit("idigbio:uuid"), concat(lit("RS-"), kS),
        lit("idigbio:dateModified"),
          concat(lit("2024-"), lpad((k % 12 + 1).cast("string"), 2, "0"),
            lit("-"), lpad((k % 28 + 1).cast("string"), 2, "0"), lit("T00:00:00")),
        lit("idigbio:version"), concat(lit("V"), (k % 9).cast("string")),
        lit("collection_name"), concat(lit("Collection "), col("c_name")),
        lit("link"), concat(lit("http://Archive.example/"), kS)),
      when(m4 === 0, map(lit("data_rights"), lit("CC0")))
        .when(m4 === 1, map(lit("data_rights"), lit("Public Domain")))
        .when(m4 === 2, map(lit("data_rights"),
          lit("http://creativecommons.org/licenses/by/4.0/")))
        .otherwise(empty),
      when(m3 =!= 0, map(lit("eml_link"),
        concat(lit("http://eml.example/"), kS))).otherwise(empty),
      when(m5 =!= 4, map(lit("logo_url"),
        concat(lit("http://logo.example/"), kS, lit(".png")))).otherwise(empty))
    val contacts = when(m5 === 0, lit(null).cast(graft.etl.Enrich.contactsType))
      .when(k % 2 === 0, array(contact1, contact2))
      .otherwise(array(contact1))
    val raw = c.orderBy(k).select(
      k.as("id"), data.as("data"),
      concat(lit("pub-"), (k % 20).cast("string")).as("parent"),
      contacts.as("contacts"))
    Enrich.recordsets(raw).select(
      col("id"), col("uuid"), col("name"), col("publisher"), col("rights"),
      col("archivelink"), col("emllink"), col("logourl"),
      col("version"), col("datemodified"),
      to_json(col("contacts")).as("contacts_json"),
      size(col("contacts")).as("n_contacts"),
      array_join(col("flags"), ",").as("flags"), col("dqs"))
  }

  val qEnrichRecordsetSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_name, c_nationkey,
      |    c_custkey % 3 AS m3, c_custkey % 5 AS m5, c_nationkey % 4 AS m4
      |  FROM customer),
      |ct AS (
      |  SELECT *,
      |    {'first_name': 'First' || CAST(c_nationkey % 10 AS VARCHAR),
      |     'last_name': 'Last' || CAST(k % 7 AS VARCHAR),
      |     'email': 'c' || CAST(k AS VARCHAR) || '@example.org',
      |     'role': CASE k % 3 WHEN 0 THEN 'Collection Manager'
      |             WHEN 1 THEN 'Data Manager' ELSE 'Curator' END} AS c1,
      |    {'first_name': 'Second',
      |     'last_name': 'Last' || CAST(k % 11 AS VARCHAR),
      |     'email': 'alt' || CAST(k AS VARCHAR) || '@example.org',
      |     'role': CASE (k + 1) % 3 WHEN 0 THEN 'Collection Manager'
      |             WHEN 1 THEN 'Data Manager' ELSE 'Curator' END} AS c2
      |  FROM base)
      |SELECT k AS id,
      |  'rs-' || CAST(k AS VARCHAR) AS uuid,
      |  lower('Collection ' || c_name) AS name,
      |  'pub-' || CAST(k % 20 AS VARCHAR) AS publisher,
      |  CASE m4 WHEN 0 THEN 'cc0' WHEN 1 THEN 'public domain'
      |    WHEN 2 THEN 'http://creativecommons.org/licenses/by/4.0/' END AS rights,
      |  'http://archive.example/' || CAST(k AS VARCHAR) AS archivelink,
      |  CASE WHEN m3 != 0
      |    THEN 'http://eml.example/' || CAST(k AS VARCHAR) END AS emllink,
      |  CASE WHEN m5 != 4
      |    THEN 'http://logo.example/' || CAST(k AS VARCHAR) || '.png' END AS logourl,
      |  CAST(k % 9 AS BIGINT) AS version,
      |  CAST('2024-' || lpad(CAST(k % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
      |       lpad(CAST(k % 28 + 1 AS VARCHAR), 2, '0') || 'T00:00:00'
      |       AS TIMESTAMP) AS datemodified,
      |  CASE WHEN m5 = 0 THEN NULL
      |       WHEN k % 2 = 0 THEN CAST(to_json([c1, c2]) AS VARCHAR)
      |       ELSE CAST(to_json([c1]) AS VARCHAR) END AS contacts_json,
      |  CASE WHEN m5 = 0 THEN NULL
      |       WHEN k % 2 = 0 THEN 2 ELSE 1 END AS n_contacts,
      |  '' AS flags, 0.0 AS dqs
      |FROM ct ORDER BY id""".stripMargin

  def qEnrichPublisher(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    val k = col("s_suppkey")
    val kS = k.cast("string")
    val data = map(
      lit("idigbio:uuid"), concat(lit("PUB-"), kS),
      lit("name"), concat(lit("Publisher "), col("s_name")),
      lit("idigbio:dateModified"),
        concat(lit("2023-"), lpad((k % 12 + 1).cast("string"), 2, "0"),
          lit("-"), lpad((k % 28 + 1).cast("string"), 2, "0"), lit(" 12:30:00")),
      lit("idigbio:version"), (k % 5).cast("string"))
    val siblings = when(k % 7 === 0,
        lit(null).cast("map<string,array<string>>"))
      .otherwise(map(lit("recordset"),
        when(k % 2 === 0,
          array(concat(lit("rs-"), kS, lit("-1")), concat(lit("rs-"), kS, lit("-2"))))
          .otherwise(array(concat(lit("rs-"), kS, lit("-1"))))))
    val raw = sup.orderBy(k).select(
      k.as("id"), data.as("data"), siblings.as("siblings"))
    Enrich.publishers(raw).select(
      col("id"), col("uuid"), col("name"), col("version"), col("datemodified"),
      array_join(col("recordsets"), ",").as("recordsets"),
      size(col("recordsets")).as("n_recordsets"),
      array_join(col("flags"), ",").as("flags"), col("dqs"))
  }

  val qEnrichPublisherSql: String =
    """SELECT s_suppkey AS id,
      |  'pub-' || CAST(s_suppkey AS VARCHAR) AS uuid,
      |  lower('Publisher ' || s_name) AS name,
      |  CAST(s_suppkey % 5 AS BIGINT) AS version,
      |  CAST('2023-' || lpad(CAST(s_suppkey % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
      |       lpad(CAST(s_suppkey % 28 + 1 AS VARCHAR), 2, '0') || ' 12:30:00'
      |       AS TIMESTAMP) AS datemodified,
      |  CASE WHEN s_suppkey % 7 = 0 THEN NULL
      |       WHEN s_suppkey % 2 = 0 THEN
      |         'rs-' || CAST(s_suppkey AS VARCHAR) || '-1,rs-' ||
      |         CAST(s_suppkey AS VARCHAR) || '-2'
      |       ELSE 'rs-' || CAST(s_suppkey AS VARCHAR) || '-1' END AS recordsets,
      |  CASE WHEN s_suppkey % 7 = 0 THEN NULL
      |       WHEN s_suppkey % 2 = 0 THEN 2 ELSE 1 END AS n_recordsets,
      |  '' AS flags, 0.0 AS dqs
      |FROM supplier ORDER BY id""".stripMargin

  val qEnrichMediaSql: String = {
    // exact detail triples from rights_strings.py:116-185 (note the CC3
    // logo is http://, not https://)
    val lic = Map(
      "BY" -> ("BY", "https://i.creativecommons.org/l/by/4.0/88x31.png",
        "http://creativecommons.org/licenses/by/4.0/"),
      "BY-NC" -> ("BY-NC", "https://i.creativecommons.org/l/by-nc/4.0/88x31.png",
        "http://creativecommons.org/licenses/by-nc/4.0/"),
      "BY-SA" -> ("BY-SA", "http://i.creativecommons.org/l/by-sa/3.0/88x31.png",
        "http://creativecommons.org/licenses/by-sa/3.0/"),
      "CC0" -> ("CC0", "http://i.creativecommons.org/p/zero/1.0/88x31.png",
        "http://creativecommons.org/publicdomain/zero/1.0/"))
    def licCase(i: Int): String = {
      def v(t: (String, String, String)) = t.productElement(i).toString
      s"""CASE o_orderkey % 7
         |      WHEN 0 THEN '${v(lic("BY"))}' WHEN 1 THEN '${v(lic("BY"))}'
         |      WHEN 2 THEN '${v(lic("BY-NC"))}' WHEN 3 THEN '${v(lic("BY-SA"))}'
         |      WHEN 5 THEN '${v(lic("CC0"))}' END""".stripMargin
    }
    s"""SELECT o_orderkey AS id,
       |  CASE o_orderkey % 3 WHEN 0 THEN 'stillimage' WHEN 1 THEN 'sound' END AS type,
       |  CASE WHEN o_custkey % 3 != 0
       |    THEN 'media tag ' || CAST(o_custkey % 10 AS VARCHAR) END AS tag,
       |  CAST(o_orderkey % 4000 + 100 AS BIGINT) AS xpixels,
       |  CAST(o_custkey % 3000 + 100 AS BIGINT) AS ypixels,
       |  CASE o_custkey % 5 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'video/mp4'
       |    WHEN 2 THEN 'audio/mpeg' WHEN 3 THEN 'text/plain' END AS format,
       |  CASE o_custkey % 5 WHEN 0 THEN 'images' WHEN 1 THEN 'video'
       |    WHEN 2 THEN 'sounds' END AS mediatype,
       |  CASE o_orderkey % 4
       |    WHEN 0 THEN 'http://img/' || CAST(o_orderkey AS VARCHAR)
       |    WHEN 1 THEN 'http://best/' || CAST(o_orderkey AS VARCHAR)
       |    -- identifier fallback is suppressed when ANY ac: key exists:
       |    -- ac:tag (custkey%3!=0) or ac:bestQualityFormat (custkey%5=2)
       |    WHEN 2 THEN (CASE WHEN o_custkey % 3 = 0 AND o_custkey % 5 != 2
       |      THEN 'http://ident/' || CAST(o_orderkey AS VARCHAR) END)
       |    ELSE (CASE WHEN o_custkey % 3 = 0 AND o_custkey % 5 != 2
       |      THEN 'http://dc/' || CAST(o_orderkey AS VARCHAR) END)
       |  END AS accessuri,
       |  ${licCase(0)} AS rights,
       |  ${licCase(1)} AS licenselogourl,
       |  ${licCase(2)} AS webstatement,
       |  CAST(o_orderdate AS TIMESTAMP) AS modified,
       |  false AS hasSpecimen,
       |  (1 + 1 + 1
       |   + (CASE WHEN o_orderkey % 3 != 2 THEN 1 ELSE 0 END)
       |   + (CASE WHEN o_custkey % 3 != 0 THEN 1 ELSE 0 END)
       |   + (CASE WHEN o_custkey % 5 != 4 THEN 1 ELSE 0 END)
       |   + (CASE WHEN o_custkey % 5 IN (0, 1, 2) THEN 1 ELSE 0 END)
       |   + (CASE WHEN o_orderkey % 4 IN (0, 1)
       |        OR (o_custkey % 3 = 0 AND o_custkey % 5 != 2)
       |        THEN 1 ELSE 0 END)
       |   + (CASE WHEN o_orderkey % 7 IN (0, 1, 2, 3, 5) THEN 3 ELSE 0 END)
       |  ) / 11.0 AS dqs
       |FROM orders ORDER BY id""".stripMargin
  }

  // q_sci_authors: the structured-authorship parse (sciParse's
  // gnparser-shaped basionym/combination extraction, Grabbers
  // .parseSciAuthors twin) under the oracle gate. Same pattern as
  // q_geo_correct: name forms are SYNTHESIZED deterministically from
  // table words (part.p_name — two plain lowercase words per row,
  // verified marker/connector-free), one decoration class per key
  // residue, and the oracle replays the GENERATION rules — for known
  // inputs the expected parse is a closed-form of the class, so the
  // DuckDB side needs no parser. Covers: bare binomial, parenthesized
  // basionym + year, combination author + year, leading hybrid
  // marker, dotted rank marker + infra epithet + initial, the full
  // "(smith & jones, 1850) brown ex green, 1900" two-group form, and
  // a parenthesized subgenus (no authorship at all).
  // ---------------------------------------------------------------------

  def qSciAuthors(s: SparkSession, dir: String): DataFrame = {
    // sort at the SOURCE (the qEnrich discipline) — the parse is a
    // per-row map, so the id-ordered contract rides the pruned scan
    // instead of a result-resampling top-level orderBy
    val p = Tables.part(s, dir).orderBy(col("p_partkey"))
    val w = split(col("p_name"), " ")
    val w1 = element_at(w, 1)
    val w2 = element_at(w, 2)
    val k = col("p_partkey") % 7
    val name = when(k === 0, concat_ws(" ", w1, w2))
      .when(k === 1, concat_ws(" ", w1, w2,
        concat(lit("("), w2, lit(", 1850)"))))
      .when(k === 2, concat_ws(" ", w1, w2,
        concat(w2, lit(",")), lit("1900")))
      .when(k === 3, concat_ws(" ", lit("x"), w1, w2))
      .when(k === 4, concat_ws(" ", w1, w2, lit("var."), w2, lit("l.")))
      .when(k === 5, concat_ws(" ", w1, w2,
        lit("(smith & jones, 1850) brown ex green, 1900")))
      .otherwise(concat_ws(" ", w1, concat(lit("("), w1, lit(")")), w2))
    p.select(col("p_partkey").as("id"), name.as("name"))
      .withColumn("_p", graft.functions.NativeText.sciParse(col("name")))
      .select(col("id"), col("name"),
        col("_p.genus").as("genus"),
        col("_p.epithet").as("epithet"),
        col("_p.year").as("year"),
        array_join(col("_p.basionym_authors"), " ").as("basionym"),
        array_join(col("_p.combination_authors"), " ").as("combination"))
  }

  val qSciAuthorsSql: String =
    """WITH e AS (
      |  SELECT p_partkey AS id,
      |    string_split(p_name, ' ')[1] AS w1,
      |    string_split(p_name, ' ')[2] AS w2,
      |    p_partkey % 7 AS k
      |  FROM part)
      |SELECT id,
      |  CASE k WHEN 0 THEN w1 || ' ' || w2
      |         WHEN 1 THEN w1 || ' ' || w2 || ' (' || w2 || ', 1850)'
      |         WHEN 2 THEN w1 || ' ' || w2 || ' ' || w2 || ', 1900'
      |         WHEN 3 THEN 'x ' || w1 || ' ' || w2
      |         WHEN 4 THEN w1 || ' ' || w2 || ' var. ' || w2 || ' l.'
      |         WHEN 5 THEN w1 || ' ' || w2 ||
      |           ' (smith & jones, 1850) brown ex green, 1900'
      |         ELSE w1 || ' (' || w1 || ') ' || w2 END AS name,
      |  w1 AS genus,
      |  w2 AS epithet,
      |  CAST(CASE k WHEN 1 THEN 1850 WHEN 2 THEN 1900 WHEN 5 THEN 1850 END
      |       AS INTEGER) AS "year",
      |  CASE k WHEN 1 THEN w2 WHEN 5 THEN 'smith jones' END AS basionym,
      |  CASE k WHEN 2 THEN w2 WHEN 4 THEN 'l.'
      |         WHEN 5 THEN 'brown green' END AS combination
      |FROM e ORDER BY id""".stripMargin
}
