package graft.queries

import graft.{Staging, Tables}
import graft.etl.Corrections
import graft.etl.Corrections.Rule
import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The KV correction engine (record_corrector.py:186-255) as a
  * CORRECTNESS query. Records are customers joined to their nation;
  * the rule table sets an ISO-code for every country, and the
  * France rule additionally rewrites `dwc:kingdom` — exercising the
  * protected-kingdom guard (suspect flag, rule skipped), the
  * `_added`/`_replaced` flags, the never-overwrite-scientificname
  * guard, and sequential key-tuple application (a second-stage rule on
  * the CORRECTED kingdom adds a phylum).
  */
object CorrectionQueries {

  /** The corrected customers in id order: the result is cut, then the
    * CUT is sorted (the r21 verdict's q_corrections fix, shared by
    * q_corrections_geo). A source-side sort sits below
    * the broadcast joins, where Catalyst's EliminateSorts removes it —
    * sorts below joins are order-irrelevant TO THE OPTIMIZER, so the
    * id-ordered output contract was left riding on incidental file
    * order, a local-layout assumption that scrambles on multi-split
    * inputs. A plain top-level orderBy re-runs the whole map-only
    * pipeline in the range exchange's sampling pass; cutting first
    * means the sampling hits materialized rows, so the pipeline runs
    * once and exactly one Sort enforces the contract. */
  def qCorrections(s: SparkSession, dir: String): DataFrame =
    Staging.registerPinned(s, Graph.cut(correctedCustomers(s, dir)))
      .orderBy(col("id"))

  /** The corrections pipeline WITHOUT the ordered-output enforcement —
    * [[qDqStats]] aggregates it (order-free), so it must not pay the
    * gate's materialize+sort. */
  private def correctedCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val records = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        col("c_custkey").as("id"),
        col("n_name").as("country"),
        lit(null).cast("string").as("countrycode"),
        when(col("c_mktsegment") === "BUILDING", "Animalia")
          .when(col("c_mktsegment") === "MACHINERY", "Vehiclia").as("kingdom"),
        lit(null).cast("string").as("phylum"),
        lit("Placeholder name").as("scientificname"))

    // the corrections table: driver-side data, broadcast per stage
    val nations = n.select(col("n_name"), col("n_nationkey")).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue)).toSeq.sortBy(_._1)
    val countryRules = nations.map { case (name, key) =>
      val base = Map("idigbio:isoCountryCode" -> s"cc$key",
        "dwc:scientificname" -> "never applied")
      val set = if (name.equalsIgnoreCase("FRANCE"))
        base + ("dwc:kingdom" -> "plantae") else base
      Rule(Map("dwc:country" -> name.toLowerCase), set)
    }
    val kingdomRules = Seq(
      Rule(Map("dwc:kingdom" -> "plantae"), Map("dwc:phylum" -> "tracheophyta")))

    val fieldCol = Map(
      "dwc:country" -> "country", "idigbio:isoCountryCode" -> "countrycode",
      "dwc:kingdom" -> "kingdom", "dwc:phylum" -> "phylum",
      "dwc:scientificname" -> "scientificname")

    Corrections.foldFlags(
        Corrections.apply(records, countryRules ++ kingdomRules, fieldCol),
        "flags")
      .select(col("id"), col("country"), col("countrycode"), col("kingdom"),
        col("phylum"), col("scientificname"),
        array_join(col("flags"), ",").as("flags"))
  }

  // ---------------------------------------------------------------------
  // q_corrections_geo: the corrections engine over GEOGRAPHY rules in the
  // locality_data shape (locality.py:3-46 rule assembly over
  // locality_data.py tables — see graft.etl.Locality). Exercises:
  // stateprovince implied-parent fill (incl. Hawaii keeping "oceania"
  // because the US has no country-continent entry — a preserved data
  // quirk), variant canonicalization ("USA" → "united states"), ISO-code
  // fill on canonical names, kl_none junk blanking, sequential
  // country-stage-then-state-stage application, and the no-match
  // passthrough.
  // ---------------------------------------------------------------------

  def qCorrectionsGeo(s: SparkSession, dir: String): DataFrame = {
    // cut-then-sort — see [[qCorrections]]: the r21 sort-at-source form
    // was eliminated by Catalyst (sort below the rule-lookup joins),
    // leaving the id-ordered contract unenforced
    val o = Tables.orders(s, dir)
    val k = col("o_orderkey") % 12
    val records = o.select(
      col("o_orderkey").as("id"),
      when(k === 0, "Florida").when(k === 1, "Hawaii")
        .when(k === 7, "Texas")
        // round 9, full-table families: a kl stateprovince VARIANT —
        // "(wy)" canonicalizes to wyoming and inherits the state vds
        // entry (continent + country + the mutated-in ISO code)
        .when(k === 8, "(WY)").as("stateprovince"),
      when(k === 2, "USA").when(k === 3, "United States")
        .when(k === 4, "Federative Republic of Brazil")
        .when(k === 5, "unknown").when(k === 6, "Narnia")
        .when(k === 7, "usa")
        .when(k === 11, "U.S.A.").as("country"),
      // kl continent rules canonicalize only (no continent vds):
      // "EURASIA" → asia; kl_none junk blanks the field
      when(k === 9, "EURASIA").when(k === 10, "Unknown")
        .as("continent"),
      lit(null).cast("string").as("countrycode"),
      lit(null).cast("string").as("kingdom"))
    val fieldCol = Map(
      "dwc:stateProvince" -> "stateprovince", "dwc:country" -> "country",
      "dwc:continent" -> "continent",
      "idigbio:isoCountryCode" -> "countrycode", "dwc:kingdom" -> "kingdom")
    Staging.registerPinned(s, Graph.cut(
      Corrections.foldFlags(
          Corrections.apply(records, graft.etl.Locality.rules, fieldCol),
          "flags")
        .select(col("id"), col("stateprovince"), col("country"),
          col("continent"), col("countrycode"),
          array_join(col("flags"), ",").as("flags"))))
      .orderBy(col("id"))
  }

  val qCorrectionsGeoSql: String =
    """WITH base AS (SELECT o_orderkey AS id, o_orderkey % 12 AS k FROM orders)
      |SELECT id,
      |  -- class 8: the kl stateprovince variant rule REPLACES the value
      |  -- with its canonical form. classes 0/1/7 hit the kl IDENTITY
      |  -- rules (last-write-wins over the implied-parent rules), whose
      |  -- case-insensitive match keeps the original casing
      |  CASE k WHEN 0 THEN 'Florida' WHEN 1 THEN 'Hawaii'
      |    WHEN 7 THEN 'Texas' WHEN 8 THEN 'wyoming' END AS stateprovince,
      |  -- canonical-name rules set only the vds fields (ISO/continent),
      |  -- never dwc:country itself, so class 3 keeps its original casing
      |  CASE k WHEN 0 THEN 'united states' WHEN 1 THEN 'united states'
      |    WHEN 2 THEN 'united states' WHEN 3 THEN 'United States'
      |    WHEN 4 THEN 'brazil' WHEN 5 THEN '' WHEN 6 THEN 'Narnia'
      |    WHEN 7 THEN 'united states' WHEN 8 THEN 'united states'
      |    WHEN 11 THEN 'united states' END AS country,
      |  -- kl continent rules canonicalize only. kl_none blanks
      |  CASE k WHEN 0 THEN 'north america' WHEN 1 THEN 'oceania'
      |    WHEN 4 THEN 'south america' WHEN 7 THEN 'north america'
      |    WHEN 8 THEN 'north america' WHEN 9 THEN 'asia'
      |    WHEN 10 THEN '' END AS continent,
      |  CASE k WHEN 0 THEN 'usa' WHEN 1 THEN 'usa' WHEN 2 THEN 'usa'
      |    WHEN 3 THEN 'usa' WHEN 4 THEN 'bra' WHEN 7 THEN 'usa'
      |    WHEN 8 THEN 'usa' WHEN 11 THEN 'usa' END AS countrycode,
      |  CASE k
      |    WHEN 0 THEN 'dwc_continent_added,dwc_country_added,idigbio_isocountrycode_added'
      |    WHEN 1 THEN 'dwc_continent_added,dwc_country_added,idigbio_isocountrycode_added'
      |    WHEN 2 THEN 'dwc_country_replaced,idigbio_isocountrycode_added'
      |    WHEN 3 THEN 'idigbio_isocountrycode_added'
      |    WHEN 4 THEN 'dwc_continent_added,dwc_country_replaced,idigbio_isocountrycode_added'
      |    WHEN 5 THEN 'dwc_country_replaced'
      |    WHEN 6 THEN ''
      |    WHEN 7 THEN 'dwc_continent_added,dwc_country_replaced,idigbio_isocountrycode_added'
      |    WHEN 8 THEN 'dwc_continent_added,dwc_country_added,dwc_stateprovince_replaced,idigbio_isocountrycode_added'
      |    WHEN 9 THEN 'dwc_continent_replaced'
      |    WHEN 10 THEN 'dwc_continent_replaced'
      |    WHEN 11 THEN 'dwc_country_replaced,idigbio_isocountrycode_added'
      |  END AS flags
      |FROM base ORDER BY id""".stripMargin

  // ---------------------------------------------------------------------
  // q_dq_stats: the data-quality stats report (reporting/dq_stats.py:1-72)
  // — an ES _search with SIX sibling filter-aggregations (total, kingdom
  // exists, kingdom_added flag, phylum exists, phylum_added flag,
  // countrycode exists) reported as ratios. The Spark shape is the
  // one-pass equivalent: a single hash aggregate of conditional counts —
  // no explode, no join, one job over the corrected records.
  // ---------------------------------------------------------------------

  def qDqStats(s: SparkSession, dir: String): DataFrame = {
    // the UNCUT pipeline: this aggregate is order-free, so it must not
    // pay qCorrections' gate-side materialize+sort
    val corrected = correctedCustomers(s, dir)
    def has(flag: String) = when(col("flags").contains(flag), 1L).otherwise(0L)
    val agg = corrected.agg(
      count(lit(1)).as("t"),
      count(col("kingdom")).as("kc"),
      sum(has("dwc_kingdom_added")).as("ka"),
      count(col("phylum")).as("pc"),
      sum(has("dwc_phylum_added")).as("pa"),
      count(col("countrycode")).as("ccc"))
    agg.select(
      col("t"), col("kc"), col("ka"), col("pc"), col("pa"), col("ccc"),
      (col("kc").cast("double") / col("t")).as("kc_r"),
      (col("ka").cast("double") / col("t")).as("ka_r"),
      (col("pc").cast("double") / col("t")).as("pc_r"),
      (col("pa").cast("double") / col("t")).as("pa_r"),
      (col("ccc").cast("double") / col("t")).as("ccc_r"))
  }

  def qDqStatsSql: String =
    s"""WITH corrected AS (${qCorrectionsSql})
       |SELECT CAST(count(*) AS BIGINT) AS t,
       |  CAST(count(kingdom) AS BIGINT) AS kc,
       |  CAST(sum(CASE WHEN position('dwc_kingdom_added' IN flags) > 0
       |        THEN 1 ELSE 0 END) AS BIGINT) AS ka,
       |  CAST(count(phylum) AS BIGINT) AS pc,
       |  CAST(sum(CASE WHEN position('dwc_phylum_added' IN flags) > 0
       |        THEN 1 ELSE 0 END) AS BIGINT) AS pa,
       |  CAST(count(countrycode) AS BIGINT) AS ccc,
       |  CAST(count(kingdom) AS DOUBLE) / count(*) AS kc_r,
       |  CAST(sum(CASE WHEN position('dwc_kingdom_added' IN flags) > 0
       |        THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS ka_r,
       |  CAST(count(phylum) AS DOUBLE) / count(*) AS pc_r,
       |  CAST(sum(CASE WHEN position('dwc_phylum_added' IN flags) > 0
       |        THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pa_r,
       |  CAST(count(countrycode) AS DOUBLE) / count(*) AS ccc_r
       |FROM corrected""".stripMargin

  val qCorrectionsSql: String =
    """WITH rec AS (
      |  SELECT c_custkey AS id, n_name AS country, n_nationkey,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN 'Animalia'
      |         WHEN c_mktsegment = 'MACHINERY' THEN 'Vehiclia' END AS kingdom
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |st AS (
      |  SELECT id, country, n_nationkey, kingdom,
      |    lower(country) = 'france' AS fr,
      |    (lower(country) = 'france' AND kingdom = 'Animalia') AS suspect
      |  FROM rec),
      |applied AS (
      |  SELECT id, country, kingdom AS kingdom_in, fr, suspect,
      |    CASE WHEN NOT suspect THEN 'cc' || n_nationkey END AS countrycode,
      |    CASE WHEN fr AND NOT suspect THEN 'plantae' ELSE kingdom END AS kingdom
      |  FROM st)
      |SELECT id, country, countrycode, kingdom,
      |  CASE WHEN kingdom = 'plantae' THEN 'tracheophyta' END AS phylum,
      |  'Placeholder name' AS scientificname,
      |  concat_ws(',',
      |    CASE WHEN fr AND NOT suspect AND kingdom_in IS NULL
      |         THEN 'dwc_kingdom_added' END,
      |    CASE WHEN fr AND NOT suspect AND kingdom_in IS NOT NULL
      |              AND lower(kingdom_in) != 'plantae'
      |         THEN 'dwc_kingdom_replaced' END,
      |    CASE WHEN suspect THEN 'dwc_kingdom_suspect' END,
      |    CASE WHEN kingdom = 'plantae' THEN 'dwc_phylum_added' END,
      |    CASE WHEN NOT suspect THEN 'idigbio_isocountrycode_added' END
      |  ) AS flags
      |FROM applied ORDER BY id""".stripMargin
}
