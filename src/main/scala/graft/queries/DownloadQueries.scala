package graft.queries

import graft.{Staging, Tables}
import graft.dsl.{Compile, Query}
import graft.export.{Download, Exports}
import graft.operators.Graph
import graft.store.RecordStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The §3.2 bulk-download path composed as ONE gate — the reference's
  * #1 user flow (idigbio_workers/lib/download.py:360-577) end to end:
  *
  *   1. two DSL queries (records + media) parse through [[Query]] and
  *      compile through [[Compile]];
  *   2. [[Download.generateQueries]] cross-injects them — the record
  *      side gains has_child{mediarecords}, the media side gains
  *      has_parent{records} with the inner_hits parent carry;
  *   3. the record core resolves via a semi-join, the media extension
  *      via [[RecordStore.innerHits]] (first-matching-parent carry);
  *   4. the raw core member reads each record's LATEST stored body
  *      (the store's max_by read path, db.py:37-44);
  *   5. the multimedia member's coreid is the media doc's first indexed
  *      parent (download.py:235 `_source["records"][0]`);
  *   6. citation files count recordsets of both composed result sets
  *      (download.py:49-79, :134-147);
  *   7. meta.xml assembles from [[Exports.makeFileBlock]] with the
  *      reference's field-list split and long-name conversion
  *      (download.py:536-556, :303-310).
  *
  * The gate's output is the archive MANIFEST: one row per member with
  * its row count and a content checksum over the member's formatted
  * rows, plus the meta.xml row hashing the full XML string — the
  * oracle replays the entire composition as a single CTE program built
  * from the same fragments the per-stage gates use (the q_pipeline
  * discipline), so drift in ANY stage (DSL compile, either relational
  * injection, the carry, the latest-body read, citations, meta
  * emission) goes hash-red.
  *
  * Entity model: derived from `events` exactly as
  * [[StoreQueries.storeFrom]] derives the store tables — each user is
  * a record whose index terms (genus / scientificname / locality) are
  * deterministic functions of user_id; each event_id % 200 is a
  * mediarecord; sibling edges link them; version bodies are event
  * props.
  *
  * Scale shape: every member is a scan + hash-join/aggregate
  * projection — the corpus shuffles only on its own keys (record uuid,
  * media uuid, recordset); the parent side of the carry join is the
  * FILTERED record query (broadcast-eligible); checksums are
  * partial-aggregable sums. Nothing iterates rows on the driver — in
  * production each member is a distributed CSV write
  * ([[Exports.csvFormat]]) and the zip is the bounded driver tail the
  * reference's worker also runs.
  */
object DownloadQueries {

  /** The two user queries, as DSL JSON (terms-OR + prefix on the record
    * side, term on the media side — three predicate families through
    * the real parser/compiler). */
  val recordQueryJson: String =
    """{"genus": ["genus1", "genus3", "genus5"],
      | "locality": {"type": "prefix", "value": "locality 1"}}""".stripMargin
  val mediaQueryJson: String = """{"format": "image/jpeg"}"""

  /** The download's field lists (download.py record_fields /
    * mediarecord_fields): the record list mixes index terms with a raw
    * `data.*` field, exercising the split at :536-556. */
  val recordFields: Seq[String] =
    Seq("genus", "scientificname", "locality", "data.props")
  val mediaFields: Seq[String] = Seq("format", "accessuri")

  // --- the indexed entity views (events-derived, one per download run) --

  /** records view: one row per user; index terms are deterministic
    * functions of user_id. The three entity views are STAGED per
    * (session, dir): the download family's four gates derive them
    * repeatedly (each manifest member re-reads its entity set, as the
    * reference's per-member ES scans do) — at scale these ARE the
    * indexed store tables, read not recomputed, and staging bills
    * their one materialization to the registry's "staging" map. */
  def recordsView(s: SparkSession, dir: String): DataFrame =
    graft.Staging.stage(s, s"download:records:$dir") {
      Tables.events(s, dir).select(col("user_id")).distinct()
        .select(
          concat(lit("u"), col("user_id")).as("uuid"),
          concat(lit("rs"), col("user_id") % 5).as("recordset"),
          (col("user_id") % 97 === 0).as("deleted"),
          concat(lit("genus"), col("user_id") % 7).as("genus"),
          concat(lit("Genus"), col("user_id") % 7,
            lit(" epithet "), col("user_id") % 13).as("scientificname"),
          concat(lit("Locality "), col("user_id") % 11).as("locality"))
    }

  /** mediarecords view: one row per event_id % 200. */
  def mediaView(s: SparkSession, dir: String): DataFrame =
    graft.Staging.stage(s, s"download:media:$dir") {
      Tables.events(s, dir).select((col("event_id") % 200).as("mid"))
        .distinct()
        .select(
          concat(lit("m"), col("mid")).as("media_uuid"),
          concat(lit("rs"), col("mid") % 5).as("recordset"),
          when(col("mid") % 2 === 0, lit("image/jpeg"))
            .otherwise(lit("audio/mpeg")).as("format"),
          concat(lit("http://media.example/"), col("mid")).as("accessuri"))
    }

  /** record ⇄ media sibling edges. */
  def sibEdges(s: SparkSession, dir: String): DataFrame =
    graft.Staging.stage(s, s"download:edges:$dir") {
      Tables.events(s, dir).select(
        concat(lit("u"), col("user_id")).as("r1"),
        concat(lit("m"), col("event_id") % 200).as("r2")).distinct()
    }

  private val oracleModel: String =
    """ru AS (SELECT DISTINCT 'u'||user_id AS uuid,
      |         'rs'||(user_id%5) AS recordset,
      |         (user_id%97 = 0) AS deleted,
      |         'genus'||(user_id%7) AS genus,
      |         'Genus'||(user_id%7)||' epithet '||(user_id%13) AS scientificname,
      |         'Locality '||(user_id%11) AS locality
      |       FROM events),
      |mu AS (SELECT DISTINCT 'm'||(event_id%200) AS media_uuid,
      |         'rs'||((event_id%200)%5) AS recordset,
      |         CASE WHEN (event_id%200)%2 = 0 THEN 'image/jpeg'
      |              ELSE 'audio/mpeg' END AS format,
      |         'http://media.example/'||(event_id%200) AS accessuri
      |       FROM events),
      |sib AS (SELECT DISTINCT 'u'||user_id AS r1,
      |          'm'||(event_id%200) AS r2 FROM events),
      |recs_rq AS (SELECT * FROM ru WHERE NOT deleted
      |  AND lower(genus) IN ('genus1','genus3','genus5')
      |  AND lower(locality) LIKE 'locality 1%'),
      |media_mq AS (SELECT * FROM mu WHERE lower(format) = 'image/jpeg'),
      |hit AS (SELECT sib.r2 AS media_uuid, min(sib.r1) AS parent_uuid
      |        FROM sib JOIN recs_rq r ON r.uuid = sib.r1 GROUP BY sib.r2)""".stripMargin

  /** Shared oracle CTE fragments (the copy-pasted-fragment hygiene
    * rule): the coreid (first indexed NON-DELETED parent,
    * download.py:235) and latest-props tails used by both records-core
    * variants' oracles. */
  private val coreidLpCtes: String =
    """coreid AS (SELECT sib.r2 AS media_uuid, min(sib.r1) AS coreid
      |           FROM sib JOIN ru ON ru.uuid = sib.r1 AND NOT ru.deleted
      |           GROUP BY sib.r2),
      |lp AS (SELECT uuid, props FROM (
      |  SELECT 'u'||user_id AS uuid, props,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1)""".stripMargin

  /** ONE oracle rendering of the member checksum idiom (mirrors the
    * engine's h(): 60-bit md5 prefix mod prime, summed, 0 when empty).
    * `colsExpr` must already carry the coalesce-to-'' NULL convention. */
  private def checksumSql(colsExpr: String): String =
    s"CAST(coalesce(sum(try_cast('0x'||substr(md5($colsExpr),1,15) " +
      "AS BIGINT) % 1000000007), 0) AS BIGINT)"

  /** ONE oracle rendering of a citation member (mirrors
    * [[citationMember]]: the checksum shape + the zero-records drop as
    * HAVING over the aggregate). `cte` must expose (recordset, n). */
  private def citationSelectSql(loc: String, cte: String): String =
    s"""SELECT '$loc', count(*),
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(recordset,'')||'|'||coalesce(CAST(n AS VARCHAR),'')),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT)
       |FROM $cte HAVING count(*) > 0""".stripMargin

  /** The composed queries + filtered sides, shared by the gates. An
    * ABSENT media query ([[qDownloadRqOnly]]) composes to mq =
    * match_all ∧ has_parent{records: rq} (generate_queries' else
    * branch at download.py:413-425 + the :381-389 injection) — the
    * media side filter is `lit(true)` and the parent restriction is
    * the inner-hits join itself. */
  private def composedSides(s: SparkSession, dir: String,
      mediaQuery: Option[Query] = Some(Query.parse(mediaQueryJson)))
      : (Download.ComposedQueries, DataFrame, DataFrame) = {
    val cq = Download.generateQueries(
      Some(Query.parse(recordQueryJson)), mediaQuery)
    val recsRq = recordsView(s, dir)
      .where(!col("deleted") && Compile.query(Query(cq.rq)))
    val mediaMq = mediaView(s, dir).where(Compile.query(Query(cq.mq)))
    (cq, recsRq, mediaMq)
  }

  /** has_parent + inner_hits carry, row-level (the §3.2 media-side
    * injection made visible): media matching mq whose parent matches
    * rq, each row carrying the first matching parent's scientificname
    * and locality (download.py:244-253's `hits[0]["_source"]`). */
  def qInnerHits(s: SparkSession, dir: String): DataFrame = {
    val (cq, recsRq, mediaMq) = composedSides(s, dir)
    require(cq.mqHasParent && cq.innerHits.nonEmpty)
    RecordStore.innerHits(
        mediaMq, "media_uuid", recsRq, "uuid",
        sibEdges(s, dir), "r2", "r1",
        carry = Seq("scientificname" -> "scientificname",
          "locality" -> "locality"),
        hitKeyName = "parent_uuid")
      .select(col("media_uuid"), col("parent_uuid"),
        col("scientificname"), col("locality"), col("format"))
      .orderBy(col("media_uuid"))
  }

  val qInnerHitsSql: String =
    s"""WITH $oracleModel
       |SELECT m.media_uuid, h.parent_uuid, r.scientificname, r.locality,
       |  m.format
       |FROM media_mq m
       |JOIN hit h USING (media_uuid)
       |JOIN recs_rq r ON r.uuid = h.parent_uuid
       |ORDER BY m.media_uuid""".stripMargin

  // --- the composed manifest gate --------------------------------------

  /** Row-content hash: 60-bit md5 prefix mod a prime, summed per member
    * (the qDwcaRoundtrip checksum idiom — order-free, overflow-free). */
  private def h(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % 1000000007L

  /** ONE NULL convention on both engines for member checksums: every
    * hashed column is coalesced to '' BEFORE the '|' join. Without it
    * Spark's concat_ws silently SKIPS a NULL column (no separator)
    * while the oracle's '||' nulls the whole row out of the sum — a
    * nullable hashed column (e.g. a raw props body) would diverge
    * SILENTLY instead of going hash-red. The oracle fragments wrap
    * each column in coalesce(x, '') to match. */
  private def hashCols(cols: Column*): Column =
    concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit(""))): _*)

  private def member(s: SparkSession, loc: String, rows: DataFrame,
      content: Column): DataFrame =
    rows.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(h(content)), lit(0L)).as("checksum"))
      .select(lit(loc).as("location"), col("n_rows"), col("checksum"))

  /** Citation member with the reference's zero-records drop rule
    * (write_citation_file returns None when no records matched,
    * download.py:58-59) expressed relationally: the member row exists
    * only when the counted set is non-empty. ONE definition for every
    * download variant's citation files. */
  private def citationMember(s: SparkSession, loc: String,
      rows: DataFrame): DataFrame =
    member(s, loc, Exports.citationCounts(rows, "recordset"),
        hashCols(col("recordset"), col("itemCount")))
      .where(col("n_rows") > 0)

  /** The records-core manifest member list — ONE definition shared by
    * [[qDownload]] (rq+mq) and [[qDownloadRqOnly]] (rq alone): the six
    * members differ between the two variants ONLY through the artifact
    * relations they aggregate. */
  private def recordsCoreMembers(s: SparkSession, core: DataFrame,
      ext: DataFrame, latestProps: DataFrame): Seq[DataFrame] = Seq(
    member(s, "occurrence.csv", core,
      hashCols(col("uuid"), col("genus"),
        col("scientificname"), col("locality"))),
    member(s, "occurrence_raw.csv", core.join(latestProps, Seq("uuid")),
      hashCols(col("uuid"), col("props"))),
    member(s, "multimedia.csv", ext,
      hashCols(col("coreid"), col("accessuri"), col("format"))),
    citationMember(s, "records.citation.csv", core),
    citationMember(s, "mediarecords.citation.csv", ext),
    s.range(1).select(lit("meta.xml").as("location"),
      lit(3L).as("n_rows"), h(lit(metaXml)).as("checksum")))

  /** The meta.xml string for this download, built with the reference's
    * field-list split + long-name conversion. Core block first
    * (download.py:558 "core must be first"), then the raw-records and
    * multimedia extensions in the reference's member order. */
  def metaXml: String = {
    val (recIdx, recRaw) = Download.splitFields(recordFields)
    val (medIdx, _) = Download.splitFields(mediaFields)
    Exports.makeMeta(Seq(
      Exports.makeFileBlock("occurrence.csv",
        Download.convertFields("records", recIdx),
        core = true, rowType = Exports.rowTypes("records")),
      Exports.makeFileBlock("occurrence_raw.csv",
        Download.rawFieldNames(recRaw),
        core = false, rowType = Exports.rowTypes("records")),
      Exports.makeFileBlock("multimedia.csv",
        Download.convertFields("mediarecords", medIdx),
        core = false, rowType = Exports.rowTypes("mediarecords"))))
  }

  /** The records-core artifact relations — ONE definition shared by
    * the [[qDownload]] manifest gate and the physical
    * [[writeArchive]] writer, so the zip a user receives and the
    * relations the oracle gates can never drift. */
  /** core membership: records matching rq AND (when the media query
    * exists) has_child{mediarecords: mq} — ONE definition for every
    * variant's core. */
  private def composedCore(cq: Download.ComposedQueries, recsRq: DataFrame,
      mediaMq: DataFrame, edges: DataFrame): DataFrame =
    if (cq.rqHasChild)
      recsRq.join(
        edges.join(mediaMq.select(col("media_uuid").as("r2")), "r2")
          .select(col("r1").as("uuid")),
        Seq("uuid"), "left_semi")
    else recsRq

  private def recordArtifacts(s: SparkSession, dir: String,
      mediaQuery: Option[Query] = Some(Query.parse(mediaQueryJson)))
      : (DataFrame, DataFrame, DataFrame) = {
    val (cq, recsRq, mediaMq) = composedSides(s, dir, mediaQuery)
    val edges = sibEdges(s, dir)
    // Download-sized intermediates consumed by several manifest members
    // are cut and registered with the session: without the cut each
    // member's aggregate re-derives the whole core/extension
    // composition — q_download's plan carried four copies of the core
    // semi-join and two of the inner-hits extension (r21 plan audit;
    // guide §2.4, remove repeated work the optimizer cannot share).
    // Cut only the COMPOSED core (rq ∧ has_child semi-join): the
    // rq-only variant's core is a plain filter over the staged records
    // view, where an eager materialization costs more than the
    // recomputation it saves (measured r21: +13% on q_download_rq_only)
    val core0 = composedCore(cq, recsRq, mediaMq, edges)
    val core =
      if (cq.rqHasChild) Staging.registerPinned(s, Graph.cut(core0)) else core0
    // extension: media matching mq AND has_parent{records: rq}, with
    // the inner-hits carry (locality rides along into q_inner_hits's
    // row-level gate; here the membership itself is load-bearing),
    // plus coreid = the media doc's first indexed parent
    // (download.py:235) — min over ALL non-deleted parents, not just
    // rq-matching ones
    val coreids = edges
      .join(recordsView(s, dir).where(!col("deleted"))
        .select(col("uuid").as("r1")), "r1")
      .groupBy(col("r2").as("media_uuid"))
      .agg(min(col("r1")).as("coreid"))
    val ext = Staging.registerPinned(s, Graph.cut(RecordStore.innerHits(
        mediaMq, "media_uuid", recsRq, "uuid", edges, "r2", "r1",
        carry = Seq("locality" -> "_carry_locality"),
        hitKeyName = "parent_uuid")
      .join(coreids, Seq("media_uuid"))))
    // raw core member source: each core record's LATEST stored body
    val latestProps = Tables.events(s, dir)
      .groupBy(concat(lit("u"), col("user_id")).as("uuid"))
      .agg(max(struct(col("ts"), col("event_id"), col("props"))).as("_t"))
      .select(col("uuid"), col("_t.props").as("props"))
    (core, ext, latestProps)
  }

  /** The composed download manifest: one row per archive member with
    * row count + content checksum. See the object doc for the stages
    * each member makes load-bearing. */
  def qDownload(s: SparkSession, dir: String): DataFrame = {
    val (core, ext, latestProps) = recordArtifacts(s, dir)
    recordsCoreMembers(s, core, ext, latestProps)
      .reduce(_.unionByName(_)).orderBy(col("location"))
  }

  /** Physically materialize the records-core download as a REAL DwC-A
    * zip — the worker's `generate_files(form="dwca")` tail
    * (download.py:474-490): the SAME artifact relations [[qDownload]]
    * hashes, encoded through [[Exports.csvFormat]] (id/coreid first,
    * long-named headers, non-scalars JSON), written as RFC4180 CSV
    * members, plus both citation files and the meta.xml manifest.
    * Returns the zip path; DownloadArchiveSpec round-trips it through
    * the full [[graft.ingest.Dwca]] reader. */
  def writeArchive(s: SparkSession, dir: String, outZip: String): String = {
    val (core, ext, latestProps) = recordArtifacts(s, dir)
    val (recIdx, recRaw) = Download.splitFields(recordFields)
    val (medIdx, _) = Download.splitFields(mediaFields)
    val coreCsv = Exports.csvText(Exports.csvFormat(
      core.orderBy(col("uuid")).withColumnRenamed("uuid", "id"),
      "records", "id", recIdx))
    val rawCsv = Exports.csvText(
      core.join(latestProps, Seq("uuid")).orderBy(col("uuid"))
        .select(col("uuid").as("coreid"),
          col("props").as(Download.rawFieldNames(recRaw).head)))
    val mediaCsv = Exports.csvText(Exports.csvFormat(
      ext.orderBy(col("media_uuid"))
        .withColumn("coreid", coalesce(col("coreid"), lit(""))),
      "mediarecords", "coreid", medIdx))
    val recCit = Exports.csvText(
      Exports.citationCounts(core, "recordset"))
    val medCit = Exports.csvText(
      Exports.citationCounts(ext, "recordset"))
    Exports.writeDwcaZip(outZip, Map(
      "meta.xml" -> metaXml,
      "occurrence.csv" -> coreCsv,
      "occurrence_raw.csv" -> rawCsv,
      "multimedia.csv" -> mediaCsv,
      "records.citation.csv" -> recCit,
      "mediarecords.citation.csv" -> medCit))
    outZip
  }

  // --- the static-datasets worker (per-recordset downloads) ------------

  /** The static-datasets worker
    * (idigbio_workers/generate_static_datasets.py): the reference
    * loops the recordset terms-agg and runs ONE records-core download
    * per recordset (record_query = {"recordset": id}, no media query —
    * the rq-only composition, per recordset). The Spark-first
    * re-expression is ONE GROUPED PASS, not N queries: every
    * recordset's occurrence member (count + checksum over its
    * non-deleted records) and multimedia member (media with ≥1 parent
    * in THAT recordset, coreid = the first such parent — the
    * per-recordset has_parent/inner-hits composition; a media doc
    * with parents in k recordsets legitimately appears in k
    * manifests) computed by recordset-keyed aggregation — two
    * shuffles total where the reference pays a full query per
    * recordset. EML emission rides [[graft.ingest.Eml]]'s gate; the
    * zip tail is [[writeArchive]]'s. */
  def qStaticDatasets(s: SparkSession, dir: String): DataFrame = {
    val recs = recordsView(s, dir).where(!col("deleted"))
    val occ = recs.groupBy(col("recordset"))
      .agg(count(lit(1)).as("n_records"),
        coalesce(sum(h(hashCols(col("uuid"), col("genus"),
          col("scientificname"), col("locality")))), lit(0L))
          .as("records_checksum"))
    val mediaPerRs = sibEdges(s, dir)
      .join(recs.select(col("uuid").as("r1"), col("recordset")), "r1")
      .groupBy(col("recordset"), col("r2").as("media_uuid"))
      .agg(min(col("r1")).as("coreid"))
      // project away mediaView's own recordset — the manifest groups
      // by the PARENT record's recordset (the download's rq side)
      .join(mediaView(s, dir)
        .select(col("media_uuid"), col("format"), col("accessuri")),
        Seq("media_uuid"))
      .groupBy(col("recordset"))
      .agg(count(lit(1)).as("n_media"),
        coalesce(sum(h(hashCols(col("coreid"), col("accessuri"),
          col("format")))), lit(0L)).as("media_checksum"))
    occ.join(mediaPerRs, Seq("recordset"), "left")
      .select(col("recordset"), col("n_records"), col("records_checksum"),
        coalesce(col("n_media"), lit(0L)).as("n_media"),
        coalesce(col("media_checksum"), lit(0L)).as("media_checksum"))
      .orderBy(col("recordset"))
  }

  /** The static-datasets INDEX builder
    * (idigbio_workers/generate_static_datasets_index.py:37-100): per
    * recordset, elect the institution/collection codes the index.txt
    * row advertises — a nested terms aggregation with a DOMINANCE
    * rule:
    *  - no institutioncode buckets → ic = cc = ""
    *  - exactly one bucket, OR the top bucket holds > 0.9 of the
    *    recordset's TOTAL doc_count (missing-ic docs included in the
    *    denominator — the reference divides by rs doc_count) → ic =
    *    get_true_ic(top key); cc from the top bucket's collectioncode
    *    sub-buckets (0 → "", 1 → that key, else "MULTIPLE")
    *  - otherwise ic = cc = "MULTIPLE"
    * get_true_ic (:28-35) canonicalizes the WINNING key only: the
    * trailing parenthesized pure-letter code if present, else the raw
    * key, lowercased and stripped. The > 0.9 float test is algebraized
    * to the exact integer comparison icn·10 > n·9 so both engines
    * decide borderline recordsets identically.
    *
    * The occurrence view derives from `orders` with per-recordset
    * regime variety: rsn % 3 = 0 recordsets are genuinely mixed (five
    * ~equal codes → MULTIPLE), = 1 carry one paren-coded museum label
    * (single-bucket election + the get_true_ic extraction), = 2 are
    * dominant-with-minority (the > 0.9 arithmetic decides); rs39 has
    * NO codes (the empty election) and rs1 no collection codes (the
    * empty sub-election); odd dominant recordsets carry two cc values
    * (the sub-MULTIPLE case).
    *
    * Scale shape: one (rs, ic) aggregate carrying the cc sub-stats
    * (count distinct + the single key), one rs-sized election
    * aggregate via min_by over the (−count, key) struct — the ES
    * terms order without a window — and one rs-sized totals join.
    * The reference pays an ES agg per page of 1000 recordsets; this
    * is two shuffles regardless of recordset count. */
  def qDatasetIndex(s: SparkSession, dir: String): DataFrame = {
    val rsn = col("o_custkey") % 40
    val ok = col("o_orderkey")
    val v = Tables.orders(s, dir).select(
      concat(lit("rs"), rsn).as("rs"),
      when(rsn === 39 || ok % 13 === 0, lit(null).cast("string"))
        .when(rsn % 3 === 0, concat(lit("IC"), ok % 5))
        .when(rsn % 3 === 1, concat(lit("Museum "), rsn, lit(" (MUSA)")))
        .when(ok % 100 === 0, lit("ICB")).otherwise(lit("ICA")).as("ic"),
      when(rsn === 1 || ok % 7 === 0, lit(null).cast("string"))
        .when(rsn % 2 === 0, concat(lit("CC"), rsn))
        .otherwise(concat(lit("CC"), ok % 2)).as("cc"))
    val totals = v.groupBy(col("rs")).agg(count(lit(1)).as("n"))
    val perIc = v.where(col("ic").isNotNull)
      .groupBy(col("rs"), col("ic"))
      .agg(count(lit(1)).as("icn"),
        countDistinct(col("cc")).as("n_cc"), min(col("cc")).as("cc_one"))
    val elect = perIc.groupBy(col("rs")).agg(
      count(lit(1)).as("n_ic"),
      min_by(struct(col("ic"), col("icn"), col("n_cc"), col("cc_one")),
        struct((lit(0L) - col("icn")).as("_neg"), col("ic"))).as("tp"))
    def getTrueIc(c: Column): Column = {
      val ex = regexp_extract(c, "^.*\\(([a-zA-Z]+)\\)$", 1)
      lower(trim(when(ex =!= "", ex).otherwise(c)))
    }
    val dominant = col("n_ic") === 1 ||
      col("tp.icn") * 10 > col("n") * 9
    totals.join(elect, Seq("rs"), "left")
      .select(col("rs").as("recordset_id"), col("n").as("n_records"),
        when(col("n_ic").isNull, lit(""))
          .when(dominant, getTrueIc(col("tp.ic")))
          .otherwise(lit("MULTIPLE")).as("institutioncode"),
        when(col("n_ic").isNull, lit(""))
          .when(dominant,
            when(col("tp.n_cc") === 0, lit(""))
              .when(col("tp.n_cc") === 1, col("tp.cc_one"))
              .otherwise(lit("MULTIPLE")))
          .otherwise(lit("MULTIPLE")).as("collectioncode"))
      .orderBy(col("recordset_id"))
  }

  val qDatasetIndexSql: String =
    """WITH v AS (
      |  SELECT 'rs' || (o_custkey % 40) AS rs,
      |    CASE WHEN (o_custkey % 40) = 39 OR o_orderkey % 13 = 0 THEN NULL
      |         WHEN (o_custkey % 40) % 3 = 0 THEN 'IC' || (o_orderkey % 5)
      |         WHEN (o_custkey % 40) % 3 = 1
      |           THEN 'Museum ' || (o_custkey % 40) || ' (MUSA)'
      |         WHEN o_orderkey % 100 = 0 THEN 'ICB' ELSE 'ICA' END AS ic,
      |    CASE WHEN (o_custkey % 40) = 1 OR o_orderkey % 7 = 0 THEN NULL
      |         WHEN (o_custkey % 40) % 2 = 0 THEN 'CC' || (o_custkey % 40)
      |         ELSE 'CC' || (o_orderkey % 2) END AS cc
      |  FROM orders),
      |tot AS (SELECT rs, count(*) AS n FROM v GROUP BY 1),
      |pi AS (SELECT rs, ic, count(*) AS icn,
      |    count(DISTINCT cc) AS n_cc, min(cc) AS cc_one
      |  FROM v WHERE ic IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT rs, ic, icn, n_cc, cc_one,
      |    row_number() OVER (PARTITION BY rs ORDER BY icn DESC, ic) AS rk,
      |    count(*) OVER (PARTITION BY rs) AS n_ic
      |  FROM pi),
      |tp AS (SELECT * FROM r WHERE rk = 1)
      |SELECT tot.rs AS recordset_id, CAST(tot.n AS BIGINT) AS n_records,
      |  CASE WHEN tp.rs IS NULL THEN ''
      |       WHEN tp.n_ic = 1 OR tp.icn * 10 > tot.n * 9 THEN
      |         lower(trim(CASE
      |           WHEN regexp_extract(tp.ic, '^.*\(([a-zA-Z]+)\)$', 1) <> ''
      |           THEN regexp_extract(tp.ic, '^.*\(([a-zA-Z]+)\)$', 1)
      |           ELSE tp.ic END))
      |       ELSE 'MULTIPLE' END AS institutioncode,
      |  CASE WHEN tp.rs IS NULL THEN ''
      |       WHEN tp.n_ic = 1 OR tp.icn * 10 > tot.n * 9 THEN
      |         CASE WHEN tp.n_cc = 0 THEN ''
      |              WHEN tp.n_cc = 1 THEN tp.cc_one
      |              ELSE 'MULTIPLE' END
      |       ELSE 'MULTIPLE' END AS collectioncode
      |FROM tot LEFT JOIN tp USING (rs)
      |ORDER BY recordset_id""".stripMargin

  val qStaticDatasetsSql: String =
    s"""WITH $oracleModel,
       |recs AS (SELECT * FROM ru WHERE NOT deleted),
       |occ AS (SELECT recordset, count(*) AS n_records,
       |    ${checksumSql("coalesce(uuid,'')||'|'||coalesce(genus,'')" +
            "||'|'||coalesce(scientificname,'')||'|'||coalesce(locality,'')")}
       |      AS records_checksum
       |  FROM recs GROUP BY 1),
       |mpr AS (SELECT r.recordset, sib.r2 AS media_uuid,
       |    min(sib.r1) AS coreid
       |  FROM sib JOIN recs r ON r.uuid = sib.r1
       |  GROUP BY 1, 2),
       |med AS (SELECT mpr.recordset, count(*) AS n_media,
       |    ${checksumSql("coalesce(coreid,'')||'|'||coalesce(accessuri,'')" +
            "||'|'||coalesce(format,'')")}
       |      AS media_checksum
       |  FROM mpr JOIN mu USING (media_uuid) GROUP BY 1)
       |SELECT occ.recordset, occ.n_records, occ.records_checksum,
       |  CAST(coalesce(med.n_media, 0) AS BIGINT) AS n_media,
       |  CAST(coalesce(med.media_checksum, 0) AS BIGINT) AS media_checksum
       |FROM occ LEFT JOIN med USING (recordset)
       |ORDER BY occ.recordset""".stripMargin

  // --- the §3.3 media index run (parent routing + deletes) -------------

  /** The mediarecords half of the §3.3 indexing run — the BULK-ACTION
    * formatting the records-side gate (q_index_run) can't exercise
    * (indexer.py:291-301 + index_helper.py:45-54):
    *
    *  - a media INDEX action routes to `records[0]` — the FIRST
    *    (sorted) non-deleted record sibling — or to the literal '0'
    *    when the doc has no record siblings;
    *  - a media DELETE action looks its routing parent up from the
    *    live index (query_for_one; here the store view IS the live
    *    index) and is DROPPED entirely when the doc isn't indexed
    *    (indexer.py:294-296 `continue`) — expressed relationally as
    *    the inner join on the sibling lookup;
    *  - both action kinds carry the records sibling list
    *    (index_helper.py:48-53 for deletes; the indexed doc's
    *    `records` array otherwise).
    *
    * Tombstoned media (mid % 13 = 0 — the gate's dispatch driver) take
    * the delete branch with the tombstone etag; everything else
    * indexes with a content etag. The media FIELD enrichment is
    * q_enrich_media's gate; here the membership, dispatch, routing,
    * and sibling carry are the load-bearing composition. */
  def qIndexRunMedia(s: SparkSession, dir: String): DataFrame = {
    // orphan media (mid 200-219, derived from events so they exist at
    // every scale) have NO sibling edges by construction — they are
    // what makes the '0'-routing branch and the unindexed-delete DROP
    // fire instead of being fixture-dead (every mid%200 doc has a
    // live sibling at any realistic scale)
    val orphans = Tables.events(s, dir)
      .select((col("event_id") % 20 + 200).as("mid")).distinct()
      .select(concat(lit("m"), col("mid")).as("media_uuid"),
        concat(lit("rs"), col("mid") % 5).as("recordset"),
        when(col("mid") % 2 === 0, lit("image/jpeg"))
          .otherwise(lit("audio/mpeg")).as("format"),
        concat(lit("http://media.example/"), col("mid")).as("accessuri"))
    val media = mediaView(s, dir).unionByName(orphans)
      .withColumn("_tomb",
        expr("CAST(substr(media_uuid, 2) AS BIGINT) % 13 = 0"))
    val sibs = sibEdges(s, dir)
      .join(recordsView(s, dir).where(!col("deleted"))
        .select(col("uuid").as("r1")), "r1")
      .groupBy(col("r2").as("media_uuid"))
      .agg(sort_array(collect_list(col("r1"))).as("_recs"))
      .select(col("media_uuid"),
        array_join(col("_recs"), ",").as("records_csv"),
        element_at(col("_recs"), 1).as("_first"))
    val indexRows = media.where(!col("_tomb"))
      .join(sibs, Seq("media_uuid"), "left")
      .select(col("media_uuid"), lit("index").as("op"),
        coalesce(col("_first"), lit("0")).as("routing"),
        coalesce(col("records_csv"), lit("")).as("records_csv"),
        md5(concat(lit("media:"), col("media_uuid"))).as("etag"),
        col("format"), col("accessuri"))
    val deleteRows = media.where(col("_tomb"))
      .join(sibs, Seq("media_uuid")) // inner: unindexed deletes DROP
      .select(col("media_uuid"), lit("delete").as("op"),
        col("_first").as("routing"), col("records_csv"),
        lit(graft.store.RecordStore.TombstoneEtag).as("etag"),
        lit(null).cast("string").as("format"),
        lit(null).cast("string").as("accessuri"))
    indexRows.unionByName(deleteRows).orderBy(col("media_uuid"))
  }

  val qIndexRunMediaSql: String =
    s"""WITH $oracleModel,
       |sibs AS (SELECT sib.r2 AS media_uuid,
       |    array_to_string(list_sort(list(sib.r1)), ',') AS records_csv,
       |    min(sib.r1) AS first_rec
       |  FROM sib JOIN ru ON ru.uuid = sib.r1 AND NOT ru.deleted
       |  GROUP BY sib.r2),
       |orph AS (SELECT DISTINCT 'm'||(event_id%20 + 200) AS media_uuid,
       |    'rs'||((event_id%20 + 200)%5) AS recordset,
       |    CASE WHEN (event_id%20 + 200)%2 = 0 THEN 'image/jpeg'
       |         ELSE 'audio/mpeg' END AS format,
       |    'http://media.example/'||(event_id%20 + 200) AS accessuri
       |  FROM events),
       |m AS (SELECT mu2.*,
       |    (CAST(substr(media_uuid, 2) AS BIGINT) % 13 = 0) AS tomb
       |  FROM (SELECT * FROM mu UNION ALL SELECT * FROM orph) mu2)
       |SELECT media_uuid, op, routing, records_csv, etag, format,
       |  accessuri FROM (
       |SELECT m.media_uuid, 'index' AS op,
       |  coalesce(s.first_rec, '0') AS routing,
       |  coalesce(s.records_csv, '') AS records_csv,
       |  md5('media:'||m.media_uuid) AS etag, m.format, m.accessuri
       |FROM m LEFT JOIN sibs s USING (media_uuid) WHERE NOT m.tomb
       |UNION ALL
       |SELECT m.media_uuid, 'delete', s.first_rec, s.records_csv,
       |  '${graft.store.RecordStore.TombstoneEtag}', NULL, NULL
       |FROM m JOIN sibs s USING (media_uuid) WHERE m.tomb
       |) ORDER BY media_uuid""".stripMargin

  // --- the rq-only download variant (record query, NO media query) -----

  /** The records-core download with a record query and NO media query
    * — the fourth generate_queries combination (download.py:373-379
    * normalizes an empty media query to None; :400-412's has_child
    * injection then never fires, and :413-425 composes the media side
    * as match_all ∧ has_parent{records: rq} with the inner_hits
    * carry). Member consequences, each oracle-checked:
    *  - the core is recs_rq ALONE (no has_child semi-join — records
    *    without any media still export);
    *  - the multimedia extension is EVERY media doc with an
    *    rq-matching parent (the has_parent join is the only media
    *    filter);
    *  - citation members follow the reference's member-drop rule
    *    (write_citation_file returns None at zero records,
    *    download.py:58-59) — expressed relationally as
    *    `WHERE n_rows > 0`;
    *  - meta.xml is [[metaXml]] verbatim (field lists don't depend on
    *    the query matrix). */
  def qDownloadRqOnly(s: SparkSession, dir: String): DataFrame = {
    val (core, ext, latestProps) = recordArtifacts(s, dir, mediaQuery = None)
    recordsCoreMembers(s, core, ext, latestProps)
      .reduce(_.unionByName(_)).orderBy(col("location"))
  }

  val qDownloadRqOnlySql: String = {
    val metaLit = metaXml.replace("'", "''")
    s"""WITH $oracleModel,
       |ext AS (SELECT m.*, h.parent_uuid FROM mu m
       |        JOIN hit h USING (media_uuid)),
       |$coreidLpCtes,
       |rc AS (SELECT recordset, count(*) AS n FROM recs_rq GROUP BY 1),
       |mc AS (SELECT recordset, count(*) AS n FROM ext GROUP BY 1)
       |SELECT location, n_rows, checksum FROM (
       |SELECT 'occurrence.csv' AS location, count(*) AS n_rows,
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(uuid,'')||'|'||coalesce(genus,'')||'|'||coalesce(scientificname,'')||'|'||coalesce(locality,'')
       |  ),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT) AS checksum
       |FROM recs_rq
       |UNION ALL
       |SELECT 'occurrence_raw.csv', count(*),
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(uuid,'')||'|'||coalesce(props,'')),1,15) AS BIGINT)
       |    % 1000000007), 0) AS BIGINT)
       |FROM recs_rq JOIN lp USING (uuid)
       |UNION ALL
       |SELECT 'multimedia.csv', count(*),
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(coreid,'')||'|'||coalesce(accessuri,'')||'|'||coalesce(format,'')
       |  ),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT)
       |FROM ext JOIN coreid USING (media_uuid)
       |UNION ALL
       |${citationSelectSql("records.citation.csv", "rc")}
       |UNION ALL
       |${citationSelectSql("mediarecords.citation.csv", "mc")}
       |UNION ALL
       |SELECT 'meta.xml', 3,
       |  CAST(try_cast('0x'||substr(md5('$metaLit'),1,15) AS BIGINT)
       |    % 1000000007 AS BIGINT)
       |) ORDER BY location""".stripMargin
  }

  // --- the media-core download variant ----------------------------------

  /** records view with the `hasImage` index flag (conversions.py sets
    * it at index time when a record has image media; here derived as
    * an exists-semi against the image-media siblings — the flag IS a
    * precomputed join in the reference's index too). */
  def recordsViewWithImage(s: SparkSession, dir: String): DataFrame = {
    val imaged = sibEdges(s, dir)
      .join(mediaView(s, dir)
        .where(lower(col("format")) === "image/jpeg")
        .select(col("media_uuid").as("r2")), "r2")
      .select(col("r1").as("uuid")).distinct()
      .withColumn("hasImage", lit(true))
    recordsView(s, dir).join(imaged, Seq("uuid"), "left")
      .withColumn("hasImage", coalesce(col("hasImage"), lit(false)))
  }

  /** meta.xml for the mediarecords-core run: multimedia.csv is the
    * core, occurrence.csv rides as the extension whose coreid is the
    * record's FIRST indexed media sibling (type_core_type_ids
    * ("mediarecords","records",...) at download.py:239 —
    * `_source["mediarecords"][0]`, the mirror image of the
    * records-core coreid). */
  def metaXmlMedia: String = {
    val (recIdx, _) = Download.splitFields(
      recordFields.filterNot(_.startsWith("data.")))
    val (medIdx, _) = Download.splitFields(mediaFields)
    Exports.makeMeta(Seq(
      Exports.makeFileBlock("multimedia.csv",
        Download.convertFields("mediarecords", medIdx),
        core = true, rowType = Exports.rowTypes("mediarecords")),
      Exports.makeFileBlock("occurrence.csv",
        Download.convertFields("records", recIdx),
        core = false, rowType = Exports.rowTypes("records"))))
  }

  /** The mediarecords-core download with NO record query
    * (download.py:366-371): generate_queries injects
    * `{"hasImage": true}` into the RECORD side — a boolean term
    * through the real DSL compiler over the derived index flag — and,
    * with the media query present, `has_child{mediarecords: mq}`; no
    * has_parent/inner_hits (record_query is None, :381 guard). The
    * media core is mq's matches keyed by their own uuid; the
    * occurrence extension is the hasImage ∧ has_child record set,
    * coreid = first indexed media sibling. */
  def qDownloadMedia(s: SparkSession, dir: String): DataFrame = {
    val cq = Download.generateQueries(
      None, Some(Query.parse(mediaQueryJson)), coreType = "mediarecords")
    require(!cq.mqHasParent && cq.rqHasChild && cq.innerHits.isEmpty)
    val edges = sibEdges(s, dir)
    val mediaMq = mediaView(s, dir).where(Compile.query(Query(cq.mq)))
    val recsRq = recordsViewWithImage(s, dir)
      .where(!col("deleted") && Compile.query(Query(cq.rq)))
    val occExt = Staging.registerPinned(s, Graph.cut(recsRq.join(
      edges.join(mediaMq.select(col("media_uuid").as("r2")), "r2")
        .select(col("r1").as("uuid")),
      Seq("uuid"), "left_semi")))
    // the record's indexed media array's first element: min sibling
    val mediaIds = edges
      .groupBy(col("r1").as("uuid"))
      .agg(min(col("r2")).as("coreid"))
    val members = Seq(
      member(s, "multimedia.csv", mediaMq,
        hashCols(col("media_uuid"), col("accessuri"), col("format"))),
      member(s, "occurrence.csv", occExt.join(mediaIds, Seq("uuid")),
        hashCols(col("coreid"), col("genus"),
          col("scientificname"), col("locality"))),
      citationMember(s, "records.citation.csv", occExt),
      citationMember(s, "mediarecords.citation.csv", mediaMq),
      s.range(1).select(lit("meta.xml").as("location"),
        lit(2L).as("n_rows"), h(lit(metaXmlMedia)).as("checksum")))
    members.reduce(_.unionByName(_)).orderBy(col("location"))
  }

  val qDownloadMediaSql: String = {
    val metaLit = metaXmlMedia.replace("'", "''")
    s"""WITH $oracleModel,
       |hi AS (SELECT DISTINCT sib.r1 AS uuid FROM sib
       |       JOIN media_mq m ON m.media_uuid = sib.r2),
       |recs_hi AS (SELECT ru.* FROM ru JOIN hi USING (uuid)
       |            WHERE NOT ru.deleted),
       |occ_ext AS (SELECT r.* FROM recs_hi r WHERE EXISTS (
       |  SELECT 1 FROM sib JOIN media_mq m ON m.media_uuid = sib.r2
       |  WHERE sib.r1 = r.uuid)),
       |mediaid AS (SELECT sib.r1 AS uuid, min(sib.r2) AS coreid
       |            FROM sib GROUP BY sib.r1),
       |rc AS (SELECT recordset, count(*) AS n FROM occ_ext GROUP BY 1),
       |mc AS (SELECT recordset, count(*) AS n FROM media_mq GROUP BY 1)
       |SELECT location, n_rows, checksum FROM (
       |SELECT 'multimedia.csv' AS location, count(*) AS n_rows,
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(media_uuid,'')||'|'||coalesce(accessuri,'')||'|'||coalesce(format,'')
       |  ),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT) AS checksum
       |FROM media_mq
       |UNION ALL
       |SELECT 'occurrence.csv', count(*),
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(coreid,'')||'|'||coalesce(genus,'')||'|'||coalesce(scientificname,'')||'|'||coalesce(locality,'')
       |  ),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT)
       |FROM occ_ext JOIN mediaid USING (uuid)
       |UNION ALL
       |${citationSelectSql("records.citation.csv", "rc")}
       |UNION ALL
       |${citationSelectSql("mediarecords.citation.csv", "mc")}
       |UNION ALL
       |SELECT 'meta.xml', 2,
       |  CAST(try_cast('0x'||substr(md5('$metaLit'),1,15) AS BIGINT)
       |    % 1000000007 AS BIGINT)
       |) ORDER BY location""".stripMargin
  }

  // --- the unique-core (uniquelocality) download variant ---------------

  /** meta.xml for the uniquelocality-core run: the locality uniquevals
    * file is the CORE (rowType Location, fields = long-named value +
    * idigbio:itemCount, make_file's unique branch at
    * download.py:318-345), the occurrence and multimedia members ride
    * as extensions. The record field list carries no data.* field, so
    * the raw member's field list is empty and the member is NOT
    * emitted (make_file returns None on empty fields, :297-298) — the
    * drop mechanism itself is part of the contract. */
  def metaXmlUnique: String = {
    val (recIdx, recRaw) = Download.splitFields(
      recordFields.filterNot(_.startsWith("data.")))
    require(recRaw.isEmpty)
    val (medIdx, _) = Download.splitFields(mediaFields)
    Exports.makeMeta(Seq(
      Exports.makeFileBlock("locality.csv",
        Download.convertFields("records", Seq("locality")) :+
          "idigbio:itemCount",
        core = true, rowType = Exports.rowTypes("uniquelocality")),
      Exports.makeFileBlock("occurrence.csv",
        Download.convertFields("records", recIdx),
        core = false, rowType = Exports.rowTypes("records")),
      Exports.makeFileBlock("multimedia.csv",
        Download.convertFields("mediarecords", medIdx),
        core = false, rowType = Exports.rowTypes("mediarecords"))))
  }

  /** The uniquelocality-core download (download.py:558-568 + the
    * unique* rows of type_core_type_ids at :243-253): the core member
    * is the locality uniquevals of the composed record set, and every
    * member's id function derives from a LOCALITY — for the multimedia
    * extension, the locality of the media row's FIRST MATCHING PARENT
    * (`inner_hits...hits[0]._source.locality`), so the inner-hits
    * carry is load-bearing INSIDE this manifest's checksums, not just
    * in q_inner_hits's row-level gate. Divergence note: the reference
    * ids these members as uuid5(locality) (identification.py:1-20);
    * the uuid5 column itself is golden-tested in ScalaTest (DuckDB has
    * no sha1), so the oracle checksums hash the pre-uuid5 locality
    * VALUE — same membership, same carry, same ordering. */
  def qDownloadUnique(s: SparkSession, dir: String): DataFrame = {
    val (cq, recsRq, mediaMq) = composedSides(s, dir)
    val edges = sibEdges(s, dir)
    val core = Staging.registerPinned(s,
      Graph.cut(composedCore(cq, recsRq, mediaMq, edges)))
    val uv = Exports.uniquevals(core, "records", "locality",
      Exports.identifyLocality)
    val ext = Staging.registerPinned(s, Graph.cut(RecordStore.innerHits(
      mediaMq, "media_uuid", recsRq, "uuid", edges, "r2", "r1",
      carry = Seq("locality" -> "parent_locality"),
      hitKeyName = "parent_uuid")))
    val members = Seq(
      member(s, "locality.csv", uv,
        hashCols(col("value"), col("itemCount"))),
      member(s, "occurrence.csv", core,
        hashCols(col("locality"), col("genus"),
          col("scientificname"), col("locality"))),
      member(s, "multimedia.csv", ext,
        hashCols(col("parent_locality"), col("accessuri"),
          col("format"))),
      citationMember(s, "records.citation.csv", core),
      citationMember(s, "mediarecords.citation.csv", ext),
      s.range(1).select(lit("meta.xml").as("location"),
        lit(3L).as("n_rows"), h(lit(metaXmlUnique)).as("checksum")))
    members.reduce(_.unionByName(_)).orderBy(col("location"))
  }

  val qDownloadUniqueSql: String = {
    val metaLit = metaXmlUnique.replace("'", "''")
    s"""WITH $oracleModel,
       |core AS (SELECT r.* FROM recs_rq r WHERE EXISTS (
       |  SELECT 1 FROM sib JOIN media_mq m ON m.media_uuid = sib.r2
       |  WHERE sib.r1 = r.uuid)),
       |uv AS (SELECT locality AS value, count(*) AS n
       |       FROM core GROUP BY 1),
       |ext AS (SELECT m.*, h.parent_uuid, r.locality AS parent_locality
       |        FROM media_mq m JOIN hit h USING (media_uuid)
       |        JOIN recs_rq r ON r.uuid = h.parent_uuid),
       |rc AS (SELECT recordset, count(*) AS n FROM core GROUP BY 1),
       |mc AS (SELECT recordset, count(*) AS n FROM ext GROUP BY 1)
       |SELECT location, n_rows, checksum FROM (
       |SELECT 'locality.csv' AS location, count(*) AS n_rows,
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(value,'')||'|'||coalesce(CAST(n AS VARCHAR),'')),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT)
       |    AS checksum
       |FROM uv
       |UNION ALL
       |SELECT 'occurrence.csv', count(*),
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(locality,'')||'|'||coalesce(genus,'')||'|'||coalesce(scientificname,'')||'|'||coalesce(locality,'')
       |  ),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT)
       |FROM core
       |UNION ALL
       |SELECT 'multimedia.csv', count(*),
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(parent_locality,'')||'|'||coalesce(accessuri,'')||'|'||coalesce(format,'')
       |  ),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT)
       |FROM ext
       |UNION ALL
       |${citationSelectSql("records.citation.csv", "rc")}
       |UNION ALL
       |${citationSelectSql("mediarecords.citation.csv", "mc")}
       |UNION ALL
       |SELECT 'meta.xml', 3,
       |  CAST(try_cast('0x'||substr(md5('$metaLit'),1,15) AS BIGINT)
       |    % 1000000007 AS BIGINT)
       |) ORDER BY location""".stripMargin
  }

  val qDownloadSql: String = {
    val metaLit = metaXml.replace("'", "''")
    s"""WITH $oracleModel,
       |core AS (SELECT r.* FROM recs_rq r WHERE EXISTS (
       |  SELECT 1 FROM sib JOIN media_mq m ON m.media_uuid = sib.r2
       |  WHERE sib.r1 = r.uuid)),
       |ext AS (SELECT m.*, h.parent_uuid
       |        FROM media_mq m JOIN hit h USING (media_uuid)),
       |coreid AS (SELECT sib.r2 AS media_uuid, min(sib.r1) AS coreid
       |           FROM sib JOIN ru ON ru.uuid = sib.r1 AND NOT ru.deleted
       |           GROUP BY sib.r2),
       |lp AS (SELECT uuid, props FROM (
       |  SELECT 'u'||user_id AS uuid, props,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events) WHERE rn = 1),
       |rc AS (SELECT recordset, count(*) AS n FROM core GROUP BY 1),
       |mc AS (SELECT recordset, count(*) AS n FROM ext GROUP BY 1)
       |SELECT location, n_rows, checksum FROM (
       |SELECT 'occurrence.csv' AS location, count(*) AS n_rows,
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(uuid,'')||'|'||coalesce(genus,'')||'|'||coalesce(scientificname,'')||'|'||coalesce(locality,'')
       |  ),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT) AS checksum
       |FROM core
       |UNION ALL
       |SELECT 'occurrence_raw.csv', count(*),
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(uuid,'')||'|'||coalesce(props,'')),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT)
       |FROM core JOIN lp USING (uuid)
       |UNION ALL
       |SELECT 'multimedia.csv', count(*),
       |  CAST(coalesce(sum(try_cast('0x'||substr(md5(
       |    coalesce(coreid,'')||'|'||coalesce(accessuri,'')||'|'||coalesce(format,'')
       |  ),1,15) AS BIGINT) % 1000000007), 0) AS BIGINT)
       |FROM ext JOIN coreid USING (media_uuid)
       |UNION ALL
       |${citationSelectSql("records.citation.csv", "rc")}
       |UNION ALL
       |${citationSelectSql("mediarecords.citation.csv", "mc")}
       |UNION ALL
       |SELECT 'meta.xml', 3,
       |  CAST(try_cast('0x'||substr(md5('$metaLit'),1,15) AS BIGINT)
       |    % 1000000007 AS BIGINT)
       |) ORDER BY location""".stripMargin
  }

  /** The download task DEDUP WINDOW decision table
    * ([[Download.dedupDecisions]] over [[Download.queryHashColumn]] —
    * v2_download.py:77-99): requests and the enqueue log both derive
    * from `events` (40 distinct query-param dicts keyed by
    * event_id % 40, hashed through the objectHasher recursion; every
    * 53rd event is a prior enqueue with a status cycling through
    * FAILURE/UNKNOWN/PENDING/SUCCESS, the rest are requests, every
    * 23rd forced) — the 30-day fixture span makes all five decision
    * reasons live at sf0.01: forced, no_task, expired (the 23 h
    * QUERY_VALID_TIME arithmetic), failed_status, valid_task. The
    * oracle replays the hash recursion, the most-recently-set-wins
    * pick (created desc, tid desc) and the validity interval. */
  def qDownloadDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("ts"),
      concat(lit("q"), col("event_id") % 40).as("qid"))
    val params = map(
      lit("core_source"), lit("indexterms"),
      lit("core_type"), lit("records"),
      lit("form"), lit("dwca-csv"),
      lit("rq"), concat(lit("genus:"), col("qid")))
    val hashed = ev.withColumn("query_hash",
      Download.queryHashColumn(params))
    val tasks = hashed.filter(col("event_id") % 53 === 0)
      .select(col("query_hash"),
        concat(lit("t"), col("event_id")).as("tid"),
        col("ts").as("created"),
        when(expr("event_id div 53") % 9 === 0, "FAILURE")
          .when(expr("event_id div 53") % 9 === 1, "UNKNOWN")
          .when(expr("event_id div 53") % 9 === 2, "PENDING")
          .otherwise("SUCCESS").as("task_status"))
    val requests = hashed.filter(col("event_id") % 53 =!= 0)
      .select(concat(lit("r"), col("event_id")).as("req_id"),
        col("query_hash"), col("ts").as("req_time"),
        (col("event_id") % 23 === 0).as("force"))
    Download.dedupDecisions(requests, tasks).orderBy(col("req_id"))
  }

  val qDownloadDedupSql: String =
    """WITH ev AS (SELECT event_id, ts, 'q' || (event_id % 40) AS qid
      |    FROM events),
      |h AS (SELECT event_id, ts, md5(
      |    'core_source' || md5('indexterms') ||
      |    'core_type'   || md5('records') ||
      |    'form'        || md5('dwca-csv') ||
      |    'rq'          || md5('genus:' || qid)) AS query_hash
      |  FROM ev),
      |tasks AS (SELECT query_hash, 't' || event_id AS tid, ts AS created,
      |    CASE (event_id // 53) % 9 WHEN 0 THEN 'FAILURE'
      |      WHEN 1 THEN 'UNKNOWN' WHEN 2 THEN 'PENDING'
      |      ELSE 'SUCCESS' END AS task_status
      |  FROM h WHERE event_id % 53 = 0),
      |req AS (SELECT 'r' || event_id AS req_id, query_hash,
      |    ts AS req_time, (event_id % 23 = 0) AS force
      |  FROM h WHERE event_id % 53 <> 0),
      |cand AS (SELECT r.req_id, t.tid, t.created, t.task_status,
      |    row_number() OVER (PARTITION BY r.req_id
      |      ORDER BY t.created DESC, t.tid DESC) AS rn
      |  FROM req r JOIN tasks t ON r.query_hash = t.query_hash
      |    AND t.created <= r.req_time),
      |latest AS (SELECT req_id, tid, created, task_status
      |  FROM cand WHERE rn = 1)
      |SELECT r.req_id, r.query_hash,
      |  CASE WHEN r.force THEN 'enqueue'
      |    WHEN l.tid IS NULL THEN 'enqueue'
      |    WHEN NOT (r.req_time < l.created + INTERVAL 23 HOUR)
      |      THEN 'enqueue'
      |    WHEN l.task_status IN ('FAILURE', 'UNKNOWN') THEN 'enqueue'
      |    ELSE 'reuse' END AS decision,
      |  CASE WHEN r.force THEN 'forced'
      |    WHEN l.tid IS NULL THEN 'no_task'
      |    WHEN NOT (r.req_time < l.created + INTERVAL 23 HOUR)
      |      THEN 'expired'
      |    WHEN l.task_status IN ('FAILURE', 'UNKNOWN')
      |      THEN 'failed_status'
      |    ELSE 'valid_task' END AS reason,
      |  CASE WHEN NOT r.force AND l.tid IS NOT NULL
      |      AND r.req_time < l.created + INTERVAL 23 HOUR
      |      AND l.task_status NOT IN ('FAILURE', 'UNKNOWN')
      |    THEN l.tid END AS reused_tid
      |FROM req r LEFT JOIN latest l USING (req_id)
      |ORDER BY req_id""".stripMargin
}
