package graft.queries

import graft.Tables
import graft.Tables.Money
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator conformance queries (SURVEY.md §2.3-§2.7) expressed
  * over the harness tables, each paired with an ANSI-SQL DuckDB oracle.
  *
  * Determinism rules (so the driver's sorted-column value hash matches):
  *  - every float aggregate goes through exact decimal and is cast to
  *    double only at the end;
  *  - every query has a total ORDER BY;
  *  - collect_list-style aggs are emitted as sorted strings.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  private def dec(c: Column): Column = c.cast(Money)
  /** sum in exact decimal, emit as double (bit-identical to DuckDB). */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  // --- §2.4 aggregations ----------------------------------------------

  /** TPC-H Q1-shaped pricing summary: groupBy + partial-agg-friendly
    * sums/avgs/counts. Maps the reference's recordset rollups
    * (idb/stats/collect.py:97-224) onto the harness star schema. */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2)) * (1 - CAST(l_discount AS DECIMAL(20,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Terms-agg / citation counts: groupBy one key, count, order by count
    * desc (download.py:99-131, write_citation_file). */
  def qTermsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_orderpriority"))

  val qTermsAggSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n FROM orders
      |GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority""".stripMargin

  /** ES nested terms aggregation (reporting/modelable_taxonids.py:12-13:
    * terms on taxonid with min_doc_count=20, sub-terms on canonicalname,
    * top sub-bucket taken per bucket): per event_type with ≥ the doc
    * floor, the count plus the modal props value — one groupBy for the
    * sub-buckets, max_by for the top sub-bucket (no window, no second
    * shuffle of raw rows: the outer rollup aggregates sub-bucket rows,
    * which are already vocabulary-sized). */
  def qTermsNested(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), col("props")).agg(count(lit(1)).as("sub_n"))
      .groupBy(col("event_type"))
      .agg(sum(col("sub_n")).as("n"),
        // ES sub-terms order is (count desc, key asc): min_by over the
        // (-count, key) struct replays it without a window
        min_by(col("props"),
          struct((lit(0L) - col("sub_n")).as("_neg"), col("props")))
          .as("top_props"))
      .filter(col("n") >= 20)
      .orderBy(col("event_type"))

  val qTermsNestedSql: String =
    """WITH sub AS (
      |  SELECT event_type, props, COUNT(*) AS sub_n
      |  FROM events GROUP BY event_type, props),
      |r AS (
      |  SELECT event_type, props,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY sub_n DESC, props) AS rk,
      |    CAST(SUM(sub_n) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM sub)
      |SELECT event_type, n, props AS top_props FROM r
      |WHERE rk = 1 AND n >= 20 ORDER BY event_type""".stripMargin

  /** Incremental watermark: max(modified) (index_from_postgres.py:71-89). */
  def qMaxWatermark(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(max(col("o_orderdate")).as("watermark"))

  val qMaxWatermarkSql: String =
    "SELECT MAX(o_orderdate) AS watermark FROM orders"

  /** Filtered count (db.py:381-385, es.count). */
  def qCount(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .agg(count(lit(1)).as("n"))

  val qCountSql: String =
    "SELECT COUNT(*) AS n FROM lineitem WHERE l_returnflag = 'R'"

  /** Children counts pivoted wide: GROUP BY parent,type + pivot
    * (collect.py:233-249 api_stats). Pivot columns fixed so the plan is
    * a single pass with conditional aggregation (no second job to
    * discover pivot values — matters at 100 TB). */
  def qChildrenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "error", 1)).as("n_error"))
      .orderBy(col("user_id"))

  val qChildrenCountsSql: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Usage-stats rollup: multi-metric groupBy (collect.py:97-224):
    * count / exact sum / distinct users per (event_type, day). */
  def qStatsRollup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("total"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"), col("event_type"))

  val qStatsRollupSql: String =
    """SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS total,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** The daily search-stats DIGEST (idb/stats/collect.py:97-221) — the
    * reference's per-recordset usage digest, composed as ONE gate: raw
    * stats rows (record_type, stat_type, query_hash, geocode, payload)
    * contribute per PAYLOAD ENTRY under the type-dependent rules the
    * two driver loops encode:
    *
    *  - `view`: each payload entry (record_key → recordset) adds 1 to
    *    count/total, the record key to items, the geocode to geocodes
    *    — NO query tracking (:143-149);
    *  - `seen`: as view PLUS the query hash into queries (:150-157);
    *  - everything else (search/download...): payload maps recordset →
    *    record_count; count +1 per entry but total/queries/geocodes
    *    weight by the record COUNT (:158-164).
    *
    * The digest emits one row per (harvest day, recordset,
    * record_type, stat_type) with the rolled-up count/total and the
    * distinct item/query/geocode cardinalities (the reference's
    * term-count arrays, summarized — their full contents are the
    * groupBy keys of the same stream). Shape: one explode of the
    * two-entry payloads + ONE grouped aggregate; the three distincts
    * ride the same grouped stream. Stats rows synthesize from events
    * (day = ts day — collect.py's date_trunc window, :88-95). */
  def qStatsDigest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val rows = ev.select(
      to_date(col("ts")).as("day"),
      when(col("event_type") === "click", "records")
        .otherwise("mediarecords").as("record_type"),
      when(col("event_id") % 3 === 0, "view")
        .when(col("event_id") % 3 === 1, "seen")
        .otherwise("search").as("stat_type"),
      md5(concat(lit("q"), col("event_id") % 11)).as("query_hash"),
      concat(lit("geo"), col("user_id") % 4).as("geocode"),
      col("event_id"), col("user_id"))
    val entries = rows.select(col("day"), col("record_type"),
        col("stat_type"), col("query_hash"), col("geocode"),
        explode(array(
          struct(
            concat(lit("ra"), col("event_id") % 100).as("rkey"),
            concat(lit("rs"), col("event_id") % 5).as("recordset"),
            (col("event_id") % 7 + 1).as("n")),
          struct(
            concat(lit("rb"), col("event_id") % 90).as("rkey"),
            concat(lit("rs"), col("user_id") % 5).as("recordset"),
            (col("user_id") % 3 + 1).as("n")))).as("e"))
      .select(col("day"), col("record_type"), col("stat_type"),
        col("query_hash"), col("geocode"),
        col("e.rkey").as("rkey"), col("e.recordset").as("recordset"),
        col("e.n").as("n"))
    entries
      .groupBy(col("day"), col("recordset"), col("record_type"),
        col("stat_type"))
      .agg(
        count(lit(1)).as("count"),
        sum(when(col("stat_type") === "search", col("n"))
          .otherwise(1L)).as("total"),
        countDistinct(when(col("stat_type") =!= "search", col("rkey")))
          .as("n_items"),
        countDistinct(when(col("stat_type") =!= "view", col("query_hash")))
          .as("n_queries"),
        countDistinct(col("geocode")).as("n_geocodes"),
        // the WEIGHTED accumulation totals (collect.py's queries[qh] /
        // geocodes[g] increments summed over the maps): view tracks no
        // queries, seen adds 1 per entry, search adds the record count
        sum(when(col("stat_type") === "view", 0L)
          .when(col("stat_type") === "seen", 1L)
          .otherwise(col("n"))).as("queries_weight"),
        sum(when(col("stat_type") === "search", col("n"))
          .otherwise(1L)).as("geocodes_weight"))
      .orderBy(col("day"), col("recordset"), col("record_type"),
        col("stat_type"))
  }

  val qStatsDigestSql: String =
    """WITH rows0 AS (SELECT CAST(ts AS DATE) AS day,
      |    CASE WHEN event_type = 'click' THEN 'records'
      |         ELSE 'mediarecords' END AS record_type,
      |    CASE WHEN event_id % 3 = 0 THEN 'view'
      |         WHEN event_id % 3 = 1 THEN 'seen'
      |         ELSE 'search' END AS stat_type,
      |    md5('q' || (event_id % 11)) AS query_hash,
      |    'geo' || (user_id % 4) AS geocode,
      |    event_id, user_id FROM events),
      |entries AS (
      |  SELECT day, record_type, stat_type, query_hash, geocode,
      |    'ra' || (event_id % 100) AS rkey,
      |    'rs' || (event_id % 5) AS recordset,
      |    (event_id % 7 + 1) AS n
      |  FROM rows0
      |  UNION ALL
      |  SELECT day, record_type, stat_type, query_hash, geocode,
      |    'rb' || (event_id % 90) AS rkey,
      |    'rs' || (user_id % 5) AS recordset,
      |    (user_id % 3 + 1) AS n
      |  FROM rows0)
      |SELECT day, recordset, record_type, stat_type,
      |  count(*) AS count,
      |  CAST(sum(CASE WHEN stat_type = 'search' THEN n ELSE 1 END)
      |    AS BIGINT) AS total,
      |  count(DISTINCT CASE WHEN stat_type != 'search' THEN rkey END)
      |    AS n_items,
      |  count(DISTINCT CASE WHEN stat_type != 'view' THEN query_hash END)
      |    AS n_queries,
      |  count(DISTINCT geocode) AS n_geocodes,
      |  CAST(sum(CASE WHEN stat_type = 'view' THEN 0
      |    WHEN stat_type = 'seen' THEN 1 ELSE n END) AS BIGINT)
      |    AS queries_weight,
      |  CAST(sum(CASE WHEN stat_type = 'search' THEN n ELSE 1 END)
      |    AS BIGINT) AS geocodes_weight
      |FROM entries GROUP BY 1, 2, 3, 4
      |ORDER BY day, recordset, record_type, stat_type""".stripMargin

  /** Duplicate detection by content key (db_check.py:271-297):
    * groupBy(key).count().filter(>1). */
  def qDupDetect(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy(col("l_orderkey"))

  val qDupDetectSql: String =
    """SELECT l_orderkey, COUNT(*) AS n FROM lineitem
      |GROUP BY l_orderkey HAVING COUNT(*) > 1 ORDER BY l_orderkey""".stripMargin

  // --- §2.3 joins --------------------------------------------------------

  /** Plain equi-join + agg: stats ⋈ queries analog (collect.py:116-119).
    * customer joins nation (small dim → broadcast). */
  /** As-of join ([[graft.operators.AsOf]]): each purchase matched to
    * the user's latest view at or before the purchase time — the
    * point-in-time join, executed as union + carry-forward window (one
    * key shuffle, no range-candidate explosion). The view side is
    * pre-aggregated to one row per (user, ts) so the oracle's ASOF
    * tie behavior never engages. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    graft.operators.AsOf.asofJoin(purchases, views, "user_id", "ts",
        Seq("view_id"))
      .select(col("event_id"), col("user_id"), col("view_id"))
      .orderBy(col("event_id"))
  }

  val qAsofJoinSql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts, max(event_id) AS view_id FROM events
      |      WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, v.view_id
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  /** Range (interval) join ([[graft.operators.AsOf.rangeJoin]]): each
    * click attributed to the signup session window containing it —
    * sessions are lead()-derived per user (disjoint by construction),
    * so the interval join runs as carry-forward + residual: one key
    * exchange, no non-equi join. Oracle is the plain containment
    * LEFT JOIN. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val sessions = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("session_id"))
      .withColumn("fin", lead(col("ts"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"))))
      .select(col("user_id"), col("ts").as("start"), col("fin"),
        col("session_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.AsOf.rangeJoin(clicks, sessions, "user_id", "ts",
        "start", "fin", Seq("session_id"))
      .select(col("event_id"), col("user_id"), col("session_id"))
      .orderBy(col("event_id"))
  }

  val qRangeJoinSql: String =
    """WITH sg AS (SELECT user_id, ts, max(event_id) AS session_id
      |            FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
      |s AS (SELECT user_id, ts AS start, session_id,
      |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS fin
      |      FROM sg),
      |c AS (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, s.session_id
      |FROM c LEFT JOIN s ON c.user_id = s.user_id
      |  AND s.start <= c.ts AND c.ts < s.fin
      |ORDER BY c.event_id""".stripMargin

  def qJoinEqui(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("n_name"))
  }

  val qJoinEquiSql: String =
    """SELECT n_name, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Fact-to-dim broadcast join with pushed-down dim filter:
    * lineitem ⋈ part (data-body join, db.py:75-78 shape). */
  def qJoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val p  = Tables.part(s, dir).filter(col("p_size") > 40)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("p_brand"))
  }

  val qJoinBroadcastSql: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size > 40 GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** The salted-join path under the driver gate: same revenue rollup as
    * a plain customer⋈orders join (the oracle IS the plain join), but
    * executed through [[graft.operators.Skew.saltedJoin]] — each order
    * row scatters to one of 8 sub-keys, the customer dimension
    * replicates 8×, and the hot key's rows spread over 8 reducers. The
    * gate thereby pins the salting transform to exact equality with the
    * unsalted semantics on real data. */
  def qJoinSalted(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.operators.Skew.saltedJoin(o, c, "o_custkey", n = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val qJoinSaltedSql: String =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Ed-Join fuzzy self-join under the driver gate: supplier-name pairs
    * within edit distance 1, found via rare-gram prefix filtering +
    * levenshtein verify ([[graft.operators.Fuzzy.editDistanceJoin]]).
    * The oracle is the brute-force n² levenshtein join, so the gate
    * hash-checks the filter theory's recall-is-1 claim on real data
    * (names share the hot "Supplier#00000" prefix — exactly the case
    * where naive any-shared-gram blocking degenerates). */
  def qFuzzyJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.Fuzzy.editDistanceJoin(
        Tables.supplier(s, dir), "s_suppkey", "s_name", maxDist = 1)
      .orderBy(col("id_1"), col("id_2"))

  val qFuzzyJoinSql: String =
    """WITH s AS (SELECT s_suppkey, s_name FROM supplier)
      |SELECT a.s_suppkey AS id_1, b.s_suppkey AS id_2,
      |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
      |FROM s a JOIN s b ON a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1
      |ORDER BY id_1, id_2""".stripMargin

  /** Record-linkage at volume for the Jaro-Winkler kernel (the r13
    * hand-off item): `customer.c_name` plus a deterministic "dirty"
    * copy (a leading zero of the digit block deleted, id shifted) is
    * linked via sorted-neighborhood blocking + JW verification
    * ([[graft.operators.Fuzzy.snmLinkage]]) at τ = 0.95. The blocking
    * key is the REVERSED name (the classic SNM key trick: c_name's
    * uniform "Customer#0…" prefix would otherwise make the table one
    * tie block) — measured recall on the planted twins is 1500/1500
    * at sf0.01. The candidate set is exactly n·window by construction
    * (plan-pinned in FuzzySpec — never n²); the oracle replays the
    * same rank window and scores the same ~30k candidates with
    * DuckDB's NATIVE jaro_winkler_similarity, cross-checking the
    * kernel against an independent implementation at volume.
    *
    * Round-15 hardening: (1) every 7th name gets a MULTI-BYTE prefix
    * ("Cüstömer#") before twinning, so the kernel's UTF-8 byte-parity
    * contract is exercised under the driver gate too (both engines
    * apply the identical accenting, char-based substr, byte-order
    * sort, and byte-based JW); (2) the dirty-id offset is max(custkey)
    * — a broadcast one-row scalar — instead of a constant 1e6 that
    * real custkeys would collide with at sf ≥ ~7. */
  /** The salted-twin linkage corpus shared by [[qLinkage]] and
    * [[qLinkageEval]]: every base customer gets one dirty copy (char
    * 10 deleted) at rec_id + max_key; every 7th name carries
    * multi-byte characters so the UTF-8-byte JW parity is exercised
    * under the gate. */
  private def linkageBase(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").cast("long").as("rec_id"),
      when(col("c_custkey") % 7 === 0,
        concat(lit("Cüstömer#"), substring(col("c_name"), 10, 1000000)))
        .otherwise(col("c_name")).as("name"))

  /** The SNM + JW pass at the lowest gated τ, staged once per
    * (session, dir) ([[graft.Staging]]) — q_linkage emits it,
    * q_linkage_eval sweeps thresholds over it; at scale the scored
    * pair list IS the stored product the review queue reads. */
  private def linkagePairsStaged(s: SparkSession, dir: String): DataFrame =
    graft.Staging.stage(s, s"linkage:pairs:$dir") {
      val base = linkageBase(s, dir)
      val mx = base.agg(max(col("rec_id")).as("_mx"))
      val dirty = base.crossJoin(broadcast(mx)) // 1-row scalar
        .select((col("rec_id") + col("_mx")).as("rec_id"),
          concat(substring(col("name"), 1, 9),
            substring(col("name"), 11, 1000000)).as("name"))
      graft.operators.Fuzzy.snmLinkage(base.unionByName(dirty), "rec_id",
        "name", window = 10, threshold = 0.95,
        sortKey = Some(reverse(col("name"))),
        // nested stage: boundary derivation is a prerequisite of the
        // linkage:pairs build (acyclic — Staging supports builder-
        // staged prerequisites), so its count + sample cost shows up
        // as its own staging line instead of inflating the pair pass
        stageKey = Some(s"linkage:bounds:revname16x32:$dir"))
    }

  def qLinkage(s: SparkSession, dir: String): DataFrame =
    linkagePairsStaged(s, dir)
      .orderBy(col("rec_a"), col("rec_b"))

  val qLinkageSql: String =
    """WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
      |base AS (
      |  SELECT c_custkey AS rec_id,
      |    CASE WHEN c_custkey % 7 = 0
      |         THEN 'Cüstömer#' || substr(c_name, 10)
      |         ELSE c_name END AS name
      |  FROM customer),
      |recs AS (
      |  SELECT rec_id, name FROM base
      |  UNION ALL
      |  SELECT rec_id + m, substr(name, 1, 9) || substr(name, 11)
      |  FROM base, mx),
      |r AS (SELECT rec_id, name,
      |        row_number() OVER (ORDER BY substr(reverse(name), 1, 16),
      |          rec_id) AS rn
      |      FROM recs),
      |cand AS (SELECT a.rec_id AS ra, a.name AS na,
      |               b.rec_id AS rb, b.name AS nb
      |         FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 10)
      |SELECT least(ra, rb) AS rec_a, greatest(ra, rb) AS rec_b,
      |  round(jaro_winkler_similarity(na, nb), 6) AS jw6
      |FROM cand
      |WHERE round(jaro_winkler_similarity(na, nb), 6) >= 0.95
      |ORDER BY rec_a, rec_b""".stripMargin

  /** Record-linkage scorecard: the precision / recall / F1 TUNING
    * CURVE of the gated SNM + Jaro-Winkler pipeline against the
    * PLANTED twin truth (every base record has exactly one dirty copy
    * at rec_id + max_key, so ground truth is replayable SQL, not
    * annotation) — one row per threshold τ ∈ {0.95, 0.97, 0.99},
    * scored from ONE linkage pass (jw6 is computed once at the lowest
    * τ; each sweep row re-thresholds it). tp = predicted pairs that
    * are twins; every count is an exact integer, the metrics are the
    * final divisions.
    *
    * The scorecard on this corpus (sf0.1: recall 1.0, precision
    * 0.086) is itself the lesson the gate teaches: on low-entropy
    * keys like "Customer#000000xxx", JW ≥ 0.95 accepts thousands of
    * near-identical NON-twins — the fixture where threshold tuning
    * (or a second blocking feature) earns its keep. */
  def qLinkageEval(s: SparkSession, dir: String): DataFrame = {
    val mx = linkageBase(s, dir).agg(max(col("rec_id")).as("_mx"),
      count(lit(1)).as("n_truth"))
    val pred = linkagePairsStaged(s, dir)
    val p = col("tp").cast("double") / col("n_pred").cast("double")
    val r = col("tp").cast("double") / col("n_truth").cast("double")
    // one linkage pass, the whole tuning curve: scores are computed
    // once at the lowest τ, each sweep row just re-thresholds jw6
    pred.crossJoin(broadcast(mx)) // 1-row scalar
      .select(col("*"),
        explode(array(lit(0.95), lit(0.97), lit(0.99))).as("tau"))
      .where(col("jw6") >= col("tau"))
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pred"),
        sum(when(col("rec_b") === col("rec_a") + col("_mx"), 1L)
          .otherwise(0L)).as("tp"),
        max(col("n_truth")).as("n_truth"))
      .select(col("tau"), col("n_truth"), col("n_pred"), col("tp"),
        (round(p, 6) + lit(0.0)).as("precision"),
        (round(r, 6) + lit(0.0)).as("recall"),
        (round(when(col("tp") === 0, lit(0.0))
          .otherwise(lit(2.0) * p * r / (p + r)), 6) + lit(0.0)).as("f1"))
      .orderBy(col("tau"))
  }

  val qLinkageEvalSql: String =
    """WITH mx AS (SELECT max(c_custkey) AS m,
      |    CAST(count(*) AS BIGINT) AS n_truth FROM customer),
      |base AS (
      |  SELECT c_custkey AS rec_id,
      |    CASE WHEN c_custkey % 7 = 0
      |         THEN 'Cüstömer#' || substr(c_name, 10)
      |         ELSE c_name END AS name
      |  FROM customer),
      |recs AS (
      |  SELECT rec_id, name FROM base
      |  UNION ALL
      |  SELECT rec_id + m, substr(name, 1, 9) || substr(name, 11)
      |  FROM base, mx),
      |r AS (SELECT rec_id, name,
      |        row_number() OVER (ORDER BY substr(reverse(name), 1, 16),
      |          rec_id) AS rn
      |      FROM recs),
      |cand AS (SELECT a.rec_id AS ra, a.name AS na,
      |               b.rec_id AS rb, b.name AS nb
      |         FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 10),
      |pred AS (SELECT least(ra, rb) AS rec_a, greatest(ra, rb) AS rec_b,
      |    round(jaro_winkler_similarity(na, nb), 6) AS jw6
      |  FROM cand
      |  WHERE round(jaro_winkler_similarity(na, nb), 6) >= 0.95),
      |taus AS (SELECT unnest([0.95::DOUBLE, 0.97::DOUBLE,
      |    0.99::DOUBLE]) AS tau),
      |agg AS (SELECT tau, CAST(count(*) AS BIGINT) AS n_pred,
      |    CAST(sum(CASE WHEN rec_b = rec_a + m THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tp,
      |    max(n_truth) AS n_truth
      |  FROM pred, mx, taus WHERE jw6 >= tau
      |  GROUP BY tau)
      |SELECT tau, n_truth, n_pred, tp,
      |  round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) + 0.0
      |    AS precision,
      |  round(CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) + 0.0
      |    AS recall,
      |  round(CASE WHEN tp = 0 THEN 0.0
      |    ELSE 2.0 * (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
      |    * (CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE))
      |    / (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
      |      + CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)) END, 6)
      |    + 0.0 AS f1
      |FROM agg ORDER BY tau""".stripMargin

  /** Bloom-prefiltered semi-join under the driver gate: orders of a
    * filtered customer subset, executed through
    * [[graft.operators.Skew.bloomSemiJoin]] — the dimension's keys
    * aggregate into one 64 KiB Bloom filter, the single-row filter
    * broadcasts, and the orders scan drops non-candidates at codegen
    * speed before any Exchange; the exact-verify semi-join then makes
    * the result identical to the plain semi-join (the oracle). Pins
    * the explicit runtime-filter path to exact equality on real data;
    * the plan shape (probe below the Exchange) is pinned in BloomSpec. */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000)
      .select(col("c_custkey"))
    graft.operators.Skew.bloomSemiJoin(o, c, "o_custkey", "c_custkey",
        numBits = 1 << 19, numHashes = 5)
      .orderBy(col("o_orderkey"))
  }

  val qBloomJoinSql: String =
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000)
      |ORDER BY o_orderkey""".stripMargin

  /** has_child semi-join (download.py:407-412): orders that have a
    * returned lineitem — left_semi keeps only the parent side. */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }

  val qSemiJoinSql: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |ORDER BY o_orderkey""".stripMargin

  /** Set difference / delete propagation (db_check.py:441-454):
    * customers with no orders — left_anti join. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Latest-version lateral join (db.py:37-44): top-1 per group by
    * timestamp desc. max_by(struct) avoids the sort a window would
    * need — single hash-agg pass, no per-partition sort at scale. */
  def qLatestVersion(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("top"))
      .select(
        col("o_custkey"),
        col("top.o_orderkey").as("latest_orderkey"),
        col("top.o_orderdate").as("latest_orderdate"))
      .orderBy(col("o_custkey"))

  val qLatestVersionSql: String =
    """SELECT o_custkey, o_orderkey AS latest_orderkey,
      |  o_orderdate AS latest_orderdate
      |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** Identifiers aggregation join (db.py:50-56 array_agg): emitted as a
    * sorted joined string so the hash compare is order-stable. */
  def qIdentifiersAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(concat_ws(",",
        sort_array(collect_list(col("o_orderkey")))).as("orderkeys"))
      .orderBy(col("o_custkey"))

  val qIdentifiersAggSql: String =
    """SELECT o_custkey,
      |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Sibling symmetric closure (db.py:58-73): undirected edges → union of
    * both directions → degree per node. Edges derived from supplier →
    * nation containment. */
  def qSiblingClosure(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("r1"), col("s_nationkey").cast("long").as("r2"))
    val closure = e.unionAll(e.select(col("r2").as("r1"), col("r1").as("r2")))
    closure.groupBy(col("r1")).agg(count(lit(1)).as("degree"))
      .orderBy(col("r1"))
  }

  val qSiblingClosureSql: String =
    """WITH e AS (SELECT s_suppkey AS r1, CAST(s_nationkey AS BIGINT) AS r2 FROM supplier),
      |c AS (SELECT r1, r2 FROM e UNION ALL SELECT r2, r1 FROM e)
      |SELECT r1, COUNT(*) AS degree FROM c GROUP BY r1 ORDER BY r1""".stripMargin

  // --- §2.6 sorts / limits / paging ---------------------------------------

  /** ORDER BY key LIMIT/OFFSET paging (db.py:357-411). offset+limit over a
    * sort plans as TakeOrderedAndProject: top-(offset+limit) per partition,
    * merged on the driver — no global single-partition window, so the same
    * plan holds at 100 TB (each task keeps only 200 rows). */
  def qPaging(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
      .offset(100)
      .limit(100)

  val qPagingSql: String =
    """SELECT c_custkey, c_name FROM customer
      |ORDER BY c_custkey LIMIT 100 OFFSET 100""".stripMargin

  /** Top-k by count desc (download.py:197 most_common). */
  def qTopK(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_partkey"))
      .limit(10)

  val qTopKSql: String =
    """SELECT l_partkey, COUNT(*) AS n FROM lineitem
      |GROUP BY l_partkey ORDER BY n DESC, l_partkey LIMIT 10""".stripMargin

  // --- §2.7 set operations -------------------------------------------------

  /** UNION of two selections (db.py:64-67). */
  def qUnion(s: SparkSession, dir: String): DataFrame = {
    val hi = Tables.customer(s, dir).filter(col("c_acctbal") > 9900)
      .select(col("c_custkey").as("key"), lit("cust_hi").as("src"))
    val lo = Tables.supplier(s, dir).filter(col("s_acctbal") > 9900)
      .select(col("s_suppkey").as("key"), lit("supp_hi").as("src"))
    hi.unionAll(lo).orderBy(col("src"), col("key"))
  }

  val qUnionSql: String =
    """SELECT c_custkey AS key, 'cust_hi' AS src FROM customer WHERE c_acctbal > 9900
      |UNION ALL
      |SELECT s_suppkey AS key, 'supp_hi' AS src FROM supplier WHERE s_acctbal > 9900
      |ORDER BY src, key""".stripMargin

  /** EXCEPT: existing − seen ⇒ deletes (db_check.py:441-454). */
  def qExcept(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val d1 = ev.filter(to_date(col("ts")) === "2024-01-01").select(col("user_id"))
    val d2 = ev.filter(to_date(col("ts")) === "2024-01-02").select(col("user_id"))
    d1.except(d2).orderBy(col("user_id"))
  }

  val qExceptSql: String =
    """SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
      |EXCEPT
      |SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'
      |ORDER BY user_id""".stripMargin

  /** The bucketed zero-Exchange store join under the driver gate —
    * SURVEY §1.1's "parquet bucketed by uuid" made an end-to-end
    * result check: events facts and per-user dims are WRITTEN via
    * Layout.writeBucketed (same bucket count, same key), joined
    * through the catalog (the scan itself reports the hash
    * partitioning, so the planner emits no Exchange — LayoutSpec pins
    * that plan shape), and reduced to per-type aggregates the oracle
    * replays from the raw table. Tables land under a fixed
    * per-(jvm,sf) path with overwrite (the q_jsonl discipline). */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val base = sys.props("java.io.tmpdir") +
      s"/graft_buckets_${Integer.toHexString(dir.hashCode)}"
    val ev = Tables.events(s, dir)
    graft.store.Layout.writeBucketed(
      ev.select(col("event_id"), col("user_id"), col("event_type")),
      "graft_ev_bucketed", s"$base/ev", buckets = 8, key = "user_id")
    graft.store.Layout.writeBucketed(
      ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"),
        max(col("event_id")).as("max_eid")),
      "graft_user_bucketed", s"$base/us", buckets = 8, key = "user_id")
    graft.store.Layout.bucketedJoin(s,
        "graft_ev_bucketed", "graft_user_bucketed", "user_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_events")).as("sum_ne"),
        sum(col("max_eid")).as("sum_me"))
      .orderBy(col("event_type"))
  }

  /** Gap-based sessionization (graft.operators.Events.sessionize) —
    * 6-hour inactivity gap over the events stream, emitted as one row
    * per (user, session) with count and exact-microsecond bounds. The
    * oracle replays the identical lag + running-sum formulation. */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.sessionize(
        Tables.events(s, dir), "user_id", "ts", gapMinutes = 360)
      .groupBy(col("user_id"), col("session"))
      .agg(count(lit(1)).as("n"),
        min(col("_us")).as("start_us"), max(col("_us")).as("end_us"))
      .orderBy(col("user_id"), col("session"))

  val qSessionizeSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |b AS (SELECT user_id, us,
      |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
      |       > 21600000000 THEN 1 ELSE 0 END AS brk FROM e),
      |s AS (SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id
      |  ORDER BY us ROWS UNBOUNDED PRECEDING) AS session FROM b)
      |SELECT user_id, CAST(session AS BIGINT) AS session, count(*) AS n,
      |  min(us) AS start_us, max(us) AS end_us
      |FROM s GROUP BY user_id, session
      |ORDER BY user_id, session""".stripMargin

  /** Ordered funnel (graft.operators.Events.funnel): view → click →
    * purchase, strictly-increasing min-ts chain per user; emitted as
    * users per reached depth. */
  def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.funnel(
        Tables.events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .groupBy(col("depth")).agg(count(lit(1)).as("n"))
      .orderBy(col("depth"))

  val qFunnelSql: String =
    """WITH f1 AS (SELECT user_id, min(ts) AS t0 FROM events
      |            WHERE event_type = 'view' GROUP BY user_id),
      |f2 AS (SELECT f1.user_id, t0, min(e.ts) AS t1
      |       FROM f1 LEFT JOIN events e ON e.user_id = f1.user_id
      |         AND e.event_type = 'click' AND e.ts > f1.t0
      |       GROUP BY f1.user_id, t0),
      |f3 AS (SELECT f2.user_id, t0, t1, min(e.ts) AS t2
      |       FROM f2 LEFT JOIN events e ON e.user_id = f2.user_id
      |         AND e.event_type = 'purchase' AND e.ts > f2.t1
      |       GROUP BY f2.user_id, t0, t1)
      |SELECT CAST((CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS depth,
      |  count(*) AS n
      |FROM f3 GROUP BY depth ORDER BY depth""".stripMargin

  /** Retention cohorts: users bucketed by the Monday-start week of
    * their first signup, counted per whole-week offset of any later
    * (or earlier — negative offsets kept, they expose data problems)
    * activity day. Two aggregations and one key join; cohort emitted
    * as a formatted string so both engines hash identical text. */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val first = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("d0"))
    val active = ev.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    first.join(active, "user_id")
      .select(col("user_id"),
        date_format(date_trunc("week", col("d0")), "yyyy-MM-dd").as("cohort"),
        floor(datediff(col("d"), col("d0")) / lit(7.0)).cast("long").as("wk"))
      .groupBy(col("cohort"), col("wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("wk"))
  }

  val qRetentionSql: String =
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
      |           WHERE event_type = 'signup' GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |j AS (SELECT f.user_id,
      |        strftime(date_trunc('week', f.d0), '%Y-%m-%d') AS cohort,
      |        CAST(floor((a.d - f.d0) / 7.0) AS BIGINT) AS wk
      |      FROM f JOIN a USING (user_id))
      |SELECT cohort, wk, count(DISTINCT user_id) AS n_users
      |FROM j GROUP BY cohort, wk ORDER BY cohort, wk""".stripMargin

  /** PageRank over an events-derived directed graph (user → content
    * bucket), two sweeps ([[graft.operators.Graph.pageRank]]). Bucket
    * node ids are offset by 1e6 so they can never collide with the
    * user-id space — the graph is genuinely bipartite as documented,
    * not an accidental user/bucket merge. Ranks round to 9 decimals
    * per sweep on BOTH engines, so the replay is bit-identical; emit
    * rounds to 6. */
  def qPagerank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(
        Tables.events(s, dir)
          .select(col("user_id").as("src"),
            (col("event_id") % 137 + 1000000L).as("dst")),
        "src", "dst", iters = 2)
      .select(col("id"), round(col("r"), 6).as("r"))
      .orderBy(col("id"))

  val qPagerankSql: String =
    """WITH e AS (SELECT DISTINCT user_id AS src,
      |             event_id % 137 + 1000000 AS dst
      |           FROM events),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |r0 AS (SELECT id, 1.0::DOUBLE / nn.n AS r FROM nodes CROSS JOIN nn),
      |c1 AS (SELECT e.dst AS id, sum(r0.r / deg.deg) AS s
      |       FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT nodes.id,
      |         round((1.0::DOUBLE - 0.85) / nn.n
      |               + 0.85 * coalesce(c1.s, 0.0::DOUBLE), 9) AS r
      |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.id = c1.id),
      |c2 AS (SELECT e.dst AS id, sum(r1.r / deg.deg) AS s
      |       FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT nodes.id,
      |         round((1.0::DOUBLE - 0.85) / nn.n
      |               + 0.85 * coalesce(c2.s, 0.0::DOUBLE), 9) AS r
      |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.id = c2.id)
      |SELECT id, round(r, 6) AS r FROM r2 ORDER BY id""".stripMargin

  /** Event-type transition matrix (first-order Markov estimate): each
    * user's event stream ordered by (exact microseconds, event_id —
    * a total order, so `lead` is deterministic on both engines),
    * transition counts and row-normalized probabilities per
    * (from, to) pair. Double division of identical longs on both
    * engines; round-6 emit. */
  def qTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next"))
      .where(col("next").isNotNull)
      .groupBy(col("event_type"), col("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(
        col("n").cast("double") /
          sum(col("n")).over(
            Window.partitionBy(col("event_type"))).cast("double"), 6))
      .orderBy(col("event_type"), col("next"))
  }

  val qTransitionsSql: String =
    """WITH o AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS next
      |  FROM events),
      |t AS (SELECT event_type, next, count(*) AS n FROM o
      |      WHERE next IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next, n,
      |  round(CAST(n AS DOUBLE) /
      |    CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS p
      |FROM t ORDER BY event_type, next""".stripMargin

  /** 7-day trailing moving average of daily event counts per type —
    * the RANGE-frame window surface (rangeBetween over day numbers:
    * calendar gaps are part of the window, unlike a ROWS frame which
    * would skip missing days). Counts are exact longs; the average is
    * one division of identical longs on both engines, round-6 emit. */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    daily.select(col("event_type"), col("day"), col("n"),
        round(sum(col("n")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double"), 6).as("ma7"))
      .orderBy(col("event_type"), col("day"))
  }

  val qMovingAvgSql: String =
    """WITH d AS (SELECT event_type,
      |    CAST(ts AS DATE) - DATE '2024-01-01' AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, CAST(day AS INT) AS day, n,
      |  round(CAST(sum(n) OVER w AS DOUBLE) /
      |        CAST(count(*) OVER w AS DOUBLE), 6) AS ma7
      |FROM d
      |WINDOW w AS (PARTITION BY event_type ORDER BY day
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin

  /** Day × event-type pivot (the `.pivot` relational surface with an
    * explicit column list — never the implicit distinct-scan variant,
    * which collects the pivot domain to the driver): one wide row per
    * day, one count column per type, absent combinations as 0. */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(datediff(to_date(col("ts")), lit("2024-01-01")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("day"))
  }

  val qPivotSql: String =
    """SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS INT) AS day,
      |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
      |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
      |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
      |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** ROLLUP subtotals — the OLAP grouping-sets surface: per
    * (event_type, week) counts plus per-type subtotals plus the grand
    * total in ONE aggregation pass (Catalyst expands the grouping
    * sets; no self-union of scans). NULL group markers are emitted as
    * the literal 'ALL' so the driver's string hash is unambiguous. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7)
          .cast("int").as("week"))
      .rollup(col("event_type"), col("week"))
      .agg(count(lit(1)).as("n"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("week").cast("string"), lit("ALL")).as("week"),
        col("n"))
      .orderBy(col("event_type"), col("week"))

  val qRollupSql: String =
    """WITH e AS (SELECT event_type,
      |    CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7) AS INT)
      |      AS week
      |  FROM events)
      |SELECT coalesce(event_type, 'ALL') AS event_type,
      |  coalesce(CAST(week AS VARCHAR), 'ALL') AS week,
      |  count(*) AS n
      |FROM e GROUP BY ROLLUP (event_type, week)
      |ORDER BY event_type, week""".stripMargin

  /** Small-file compaction under the driver gate: 64 deliberately tiny
    * files are rewritten in place by [[graft.store.Layout.compact]]
    * (the crash-safe rename-aside swap), then the compacted path's
    * fidelity aggregates are oracle-checked against the raw table —
    * a row lost or duplicated anywhere in the rewrite or the swap goes
    * gate-red. LayoutSpec pins the file-count mechanics; this row
    * gates the data. Fixed per-(jvm,sf) path, overwritten per call. */
  def qCompact(s: SparkSession, dir: String): DataFrame = {
    val path = sys.props("java.io.tmpdir") +
      s"/graft_compact_${Integer.toHexString(dir.hashCode)}/t"
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .repartition(64)
      .write.mode("overwrite").parquet(path)
    graft.store.Layout.compact(s, path)   // default 128 MB target → few files
    s.read.parquet(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("idsum"),
        sum(col("user_id")).as("usersum"))
      .orderBy(col("event_type"))
  }

  val qCompactSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS idsum,
      |  CAST(sum(user_id) AS BIGINT) AS usersum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val qBucketedJoinSql: String =
    """WITH u AS (SELECT user_id, count(*) AS n_events,
      |             max(event_id) AS max_eid
      |           FROM events GROUP BY user_id)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(u.n_events) AS BIGINT) AS sum_ne,
      |  CAST(sum(u.max_eid) AS BIGINT) AS sum_me
      |FROM events e JOIN u USING (user_id)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** CUBE over (event_type, ISO day-of-week) — the full grouping-sets
    * lattice next to [[qRollup]]'s hierarchy: per-cell counts, both
    * one-dimension marginals AND the grand total in ONE aggregation
    * pass (Catalyst expands the 4 grouping sets before the exchange;
    * partial aggregation still combines map-side, so the shuffle
    * carries ≤ 4× the group cardinality, never 4× the data). Money is
    * summed as floor(value·100) cents — integer addition is
    * order-independent, so the cross-engine hash can't wobble the way
    * a double SUM would. NULL group markers emit as 'ALL' (the
    * qRollup discipline); Spark's weekday()+1 == DuckDB's isodow. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        (weekday(col("ts")) + 1).as("dow"),
        floor(col("value") * 100).cast("long").as("cents"))
      .cube(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow").cast("string"), lit("ALL")).as("dow"),
        col("n"), col("sum_cents"))
      .orderBy(col("event_type"), col("dow"))

  val qCubeSql: String =
    """WITH e AS (SELECT event_type, isodow(ts) AS dow,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT coalesce(event_type, 'ALL') AS event_type,
      |  coalesce(CAST(dow AS VARCHAR), 'ALL') AS dow,
      |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM e GROUP BY CUBE (event_type, dow)
      |ORDER BY event_type, dow""".stripMargin

  /** Per-node triangle counts over a DENSE synthesized event graph
    * (divmod coordinates of event_id on a 97-node domain — one-in-eleven
    * event thinning keeps it partially dense — degrees 9-28 at sf0.01; the earlier
    * mod-997 permutation graph was 2-regular and triangle-free, a
    * vacuous gate) — [[graft.operators.Graph.triangleCounts]]:
    * degree-ordered orientation, wedge equi-join + closing
    * semi-join, nothing quadratic. The oracle replays the cheaper
    * id-ordered orientation; per-node counts are
    * orientation-independent, so the two must agree row for row —
    * which is exactly what makes the skew-proof orientation safe to
    * ship. */
  /** The shared mod-97 event graph of the triangle/clustering pair. */
  private def edges97(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .where(col("event_id") % 11 === 0)
      .select((col("event_id") % 97).as("src"),
        (floor(col("event_id") / 97) % 97).as("dst"))

  /** Per-node triangle counts over [[edges97]], staged once per
    * (session, dir): the wedge equi-join + closing semi-join is the
    * expensive half of BOTH q_triangles and q_clustering (which only
    * adds a degrees join on top) — at scale the counts are a stored
    * graph-metrics table, recomputed when the edge set changes. */
  private def tri97Staged(s: SparkSession, dir: String): DataFrame =
    graft.Staging.stage(s, s"graph:tri97:$dir") {
      graft.operators.Graph.triangleCounts(edges97(s, dir), "src", "dst")
    }

  def qTriangles(s: SparkSession, dir: String): DataFrame =
    tri97Staged(s, dir)
      .orderBy(col("id"))

  val qTrianglesSql: String =
    """WITH raw AS (SELECT event_id % 97 AS a,
      |    (event_id // 97) % 97 AS b FROM events
      |  WHERE event_id % 11 = 0),
      |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM raw WHERE a <> b),
      |t AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |c AS (SELECT x AS id FROM t UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t),
      |g AS (SELECT id, count(*) AS cnt FROM c GROUP BY id),
      |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e)
      |SELECT nodes.id, CAST(coalesce(g.cnt, 0) AS BIGINT) AS n_tri
      |FROM nodes LEFT JOIN g USING (id)
      |ORDER BY nodes.id""".stripMargin

  /** Per-event-type equi-width value histogram in exact integer
    * arithmetic ([[graft.operators.Profile.histogram]], 16 buckets
    * over cents): bucket = floor((x−lo)·16/(hi−lo+1)) — no floating
    * widths, both engines see identical BIGINT division. Groups-sized
    * min/max joined back + one (group, bucket) count. */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(
        Tables.events(s, dir)
          .select(col("event_type"),
            floor(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents", buckets = 16)
      .orderBy(col("event_type"), col("bucket"))

  val qHistogramSql: String =
    """WITH e AS (SELECT event_type,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
      |st AS (SELECT event_type, min(cents) AS lo, max(cents) AS hi
      |  FROM e GROUP BY event_type)
      |SELECT e.event_type,
      |  CAST(FLOOR((e.cents - st.lo) * 16 / (st.hi - st.lo + 1))
      |    AS BIGINT) AS bucket,
      |  st.lo, st.hi, count(*) AS n
      |FROM e JOIN st USING (event_type)
      |GROUP BY e.event_type, bucket, st.lo, st.hi
      |ORDER BY e.event_type, bucket""".stripMargin

  /** Key-skew diagnostic for the events.user_id shuffle key
    * ([[graft.operators.Profile.keySkew]]): one row — exact row/key
    * counts, the heaviest key's count, a deterministic hot-key pick,
    * and skew6 = max_cnt·n_keys/n_rows. The pre-shuffle salting
    * decision input, priced at one map-side-combined count. */
  def qKeySkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.keySkew(Tables.events(s, dir), "user_id")

  val qKeySkewSql: String =
    """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS cnt
      |  FROM events GROUP BY user_id)
      |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
      |  max(cnt) AS max_cnt,
      |  (SELECT k FROM c ORDER BY cnt DESC, k DESC LIMIT 1) AS hot_key,
      |  round(CAST(max(cnt) AS DOUBLE) * CAST(count(*) AS DOUBLE)
      |    / CAST(sum(cnt) AS DOUBLE), 6) AS skew6
      |FROM c""".stripMargin

  /** Per-user Shannon entropy of the event-type mix
    * ([[graft.operators.Profile.entropy]]): each category's p·ln(1/p)
    * term rounds to integer nano-nats BEFORE the sum (order-
    * independent BIGINT addition — the round-before-rank convention
    * applied to float summation), one division at the end. */
  def qEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.entropy(Tables.events(s, dir),
        "user_id", "event_type")
      .orderBy(col("user_id"))

  val qEntropySql: String =
    """WITH c AS (SELECT user_id, event_type, count(*) AS c
      |  FROM events GROUP BY user_id, event_type),
      |t AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
      |    count(*) AS n_cats FROM c GROUP BY user_id),
      |terms AS (SELECT c.user_id, t.n_cats,
      |    CAST(round(-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
      |      * ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) * 1e9, 0)
      |      AS BIGINT) AS nano
      |  FROM c JOIN t USING (user_id))
      |SELECT user_id, n_cats,
      |  round(CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1e9, 6)
      |    AS entropy6
      |FROM terms GROUP BY user_id, n_cats
      |ORDER BY user_id""".stripMargin

  /** Sketch-estimated join cardinality next to the truth
    * ([[graft.operators.Profile.joinCardinality]]): events.user_id ⋈
    * orders.o_custkey sized from two KMV key sketches + exact
    * multiplicity scalars — the broadcast-vs-shuffle decision priced
    * at two key scans. The events side's 150-key domain sits inside
    * k=256 (sketch exact); the orders side estimates. */
  def qJoinCard(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.joinCardinality(
      Tables.events(s, dir), "user_id",
      Tables.load(s, dir, "orders"), "o_custkey", k = 256)

  val qJoinCardSql: String =
    """WITH ta AS (SELECT 'a' AS side, try_cast('0x' ||
      |    substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM events),
      |tb AS (SELECT 'b' AS side, try_cast('0x' ||
      |    substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM orders),
      |u AS (SELECT * FROM ta UNION ALL SELECT * FROM tb),
      |r AS (SELECT side, h,
      |    row_number() OVER (PARTITION BY side ORDER BY h) AS rn
      |  FROM (SELECT DISTINCT side, h FROM u)),
      |sk AS (SELECT side, array_agg(h ORDER BY h) AS kmv
      |  FROM r WHERE rn <= 256 GROUP BY side),
      |p AS (SELECT a.kmv AS ka, b.kmv AS kb
      |  FROM sk a JOIN sk b ON a.side = 'a' AND b.side = 'b'),
      |m AS (SELECT ka, kb, list_sort(list_distinct(ka || kb))[1:256] AS mg
      |  FROM p),
      |c AS (SELECT mg,
      |    len(list_filter(mg,
      |      x -> list_contains(ka, x) AND list_contains(kb, x))) AS common
      |  FROM m),
      |est AS (SELECT
      |    CAST(FLOOR(CAST(common AS DOUBLE) * CAST(
      |      CASE WHEN len(mg) < 256 THEN CAST(len(mg) AS BIGINT)
      |           ELSE CAST(FLOOR(255.0 * 1152921504606846976.0
      |                   / CAST(mg[256] AS DOUBLE)) AS BIGINT) END
      |      AS DOUBLE) / CAST(len(mg) AS DOUBLE)) AS BIGINT) AS est_keys
      |  FROM c),
      |sa AS (SELECT count(*) AS n_a, count(DISTINCT user_id) AS d_a
      |  FROM events),
      |sb AS (SELECT count(*) AS n_b, count(DISTINCT o_custkey) AS d_b
      |  FROM orders),
      |tr AS (SELECT count(*) AS true_rows FROM events e
      |  JOIN orders o ON e.user_id = o.o_custkey)
      |SELECT est_keys, n_a, d_a, n_b, d_b,
      |  CAST(FLOOR(CAST(est_keys AS DOUBLE)
      |    * (CAST(n_a AS DOUBLE) / CAST(d_a AS DOUBLE))
      |    * (CAST(n_b AS DOUBLE) / CAST(d_b AS DOUBLE))) AS BIGINT)
      |    AS est_rows,
      |  true_rows
      |FROM est, sa, sb, tr""".stripMargin

  /** SCD-2 state intervals off the event log
    * ([[graft.operators.Events.stateIntervals]]): each user's
    * event_type runs as valid_from/valid_to rows, ties broken by
    * event_id. One exchange on the key; valid_to's lead window reads
    * the runs-sized relation only. */
  def qScd2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.stateIntervals(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type")
      .orderBy(col("user_id"), col("valid_from"), col("event_type"))

  val qScd2Sql: String =
    """WITH o AS (SELECT user_id, event_type, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events),
      |ch AS (SELECT user_id, event_type, ts, event_id FROM o
      |  WHERE prev IS NULL OR prev <> event_type),
      |iv AS (SELECT user_id, event_type, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS valid_to
      |  FROM ch)
      |SELECT user_id, event_type, valid_from, valid_to
      |FROM iv ORDER BY user_id, valid_from, event_type""".stripMargin

  /** Burst debounce over the event log
    * ([[graft.operators.Events.debounce]], 3600 s): keep each
    * (user, type) burst's first event — the retry-storm dedup. One
    * (key, type) exchange; kept set = the gap-session heads. */
  def qDebounce(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.debounce(
        Tables.events(s, dir), "user_id", "event_type", "ts", "event_id",
        windowSec = 3600L)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .orderBy(col("event_id"))

  val qDebounceSql: String =
    """WITH g AS (SELECT event_id, user_id, event_type, ts,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events)
      |SELECT event_id, user_id, event_type, ts
      |FROM g WHERE gap IS NULL OR gap > 3600000000
      |ORDER BY event_id""".stripMargin

  /** Local clustering coefficients over the synthesized event graph
    * ([[graft.operators.Graph.clusteringCoefficients]]): per node,
    * degree, triangle count, and cc = 2·tri/(deg·(deg−1)) rounded to
    * 6 — the neighborhood-density score next to q_triangles' counts.
    * One extra groups-sized join on the triangle plan. */
  def qClustering(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.clusteringCoefficientsFromTriangles(
        tri97Staged(s, dir), edges97(s, dir), "src", "dst")
      .orderBy(col("id"))

  val qClusteringSql: String =
    """WITH raw AS (SELECT event_id % 97 AS a,
      |    (event_id // 97) % 97 AS b FROM events
      |  WHERE event_id % 11 = 0),
      |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM raw WHERE a <> b),
      |deg AS (SELECT id, count(*) AS deg FROM (
      |    SELECT u AS id FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY id),
      |t AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |c AS (SELECT x AS id FROM t UNION ALL SELECT y FROM t
      |  UNION ALL SELECT z FROM t),
      |g AS (SELECT id, count(*) AS cnt FROM c GROUP BY id)
      |SELECT deg.id, deg.deg,
      |  CAST(coalesce(g.cnt, 0) AS BIGINT) AS n_tri,
      |  CASE WHEN deg.deg < 2 THEN 0.0
      |       ELSE round(2.0 * CAST(coalesce(g.cnt, 0) AS DOUBLE)
      |         / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6) END AS cc6
      |FROM deg LEFT JOIN g USING (id)
      |ORDER BY deg.id""".stripMargin

  /** Per-column data-quality profile of the events table
    * ([[graft.operators.Profile.columnProfile]] over the four
    * string/integer columns — native-type extrema cast to string
    * AFTER comparison; double/timestamp columns are excluded from
    * the gate because their string RENDERINGS differ across engines
    * even when values agree). All metrics in one scan. */
  /** Profiles ALL SIX events columns — including the double (`value`)
    * and timestamp (`ts`) columns, whose extrema ride through
    * [[graft.operators.Profile.canonicalRender]] so both engines
    * print the identical string (the r13 hand-off gap). */
  def qColProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.columnProfile(
        Tables.events(s, dir),
        Seq("event_id", "user_id", "event_type", "props", "value", "ts"))
      .orderBy(col("col_name"))

  val qColProfileSql: String =
    """SELECT 'event_id' AS col_name,
      |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_nulls,
      |  count(DISTINCT event_id) AS n_distinct,
      |  CAST(min(event_id) AS VARCHAR) AS min_val,
      |  CAST(max(event_id) AS VARCHAR) AS max_val
      |FROM events
      |UNION ALL SELECT 'user_id',
      |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  count(DISTINCT user_id),
      |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
      |FROM events
      |UNION ALL SELECT 'event_type',
      |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  count(DISTINCT event_type),
      |  min(event_type), max(event_type)
      |FROM events
      |UNION ALL SELECT 'props',
      |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  count(DISTINCT props),
      |  min(props), max(props)
      |FROM events
      |UNION ALL SELECT 'value',
      |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  count(DISTINCT value),
      |  CAST(CAST(min(value) AS DECIMAL(38,6)) AS VARCHAR),
      |  CAST(CAST(max(value) AS DECIMAL(38,6)) AS VARCHAR)
      |FROM events
      |UNION ALL SELECT 'ts',
      |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  count(DISTINCT ts),
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f'),
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')
      |FROM events
      |ORDER BY col_name""".stripMargin

  /** Recency-weighted per-user activity score
    * ([[graft.operators.Events.decayScore]], τ = 7 days, horizon =
    * the stream's max ts): Σ value·exp(−Δ/τ) with each term rounded
    * to integer micro-units before the order-independent sum. One
    * map-side-combinable aggregation — the snapshot form that
    * reconciles incrementally across horizons. */
  def qDecay(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.decayScore(
        Tables.events(s, dir), "user_id", "ts", "value",
        tauSec = 604800.0)
      .orderBy(col("user_id"))

  val qDecaySql: String =
    """WITH h AS (SELECT max(epoch_us(ts)) AS t FROM events),
      |terms AS (SELECT user_id,
      |    CAST(round(value * exp(CAST(epoch_us(ts) - h.t AS DOUBLE)
      |      / 604800000000.0) * 1e6, 0) AS BIGINT) AS u
      |  FROM events, h)
      |SELECT user_id, count(*) AS n_events,
      |  round(CAST(CAST(sum(u) AS BIGINT) AS DOUBLE) / 1e6, 6)
      |    AS decayed6
      |FROM terms GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Two-sweep synchronous label propagation over the event graph
    * ([[graft.operators.Graph.labelPropagation]]): per node, the
    * neighborhood-mode label with (count desc, label asc) ties —
    * deterministic LPA, fixed sweeps like q_pagerank so the oracle
    * replays each sweep verbatim. */
  def qCommunities(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(
        Tables.events(s, dir)
          .select((col("event_id") % 997).as("src"),
            ((col("event_id") * 7919 + 13) % 997).as("dst")),
        "src", "dst", sweeps = 2)
      .orderBy(col("id"))

  val qCommunitiesSql: String =
    """WITH raw AS (SELECT event_id % 997 AS a,
      |    (event_id * 7919 + 13) % 997 AS b FROM events),
      |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM raw WHERE a <> b),
      |bi AS (SELECT u AS a, v AS b FROM e
      |  UNION ALL SELECT v AS a, u AS b FROM e),
      |l0 AS (SELECT DISTINCT a AS id, a AS label FROM bi),
      |c1 AS (SELECT bi.a, l0.label, count(*) AS c
      |  FROM bi JOIN l0 ON bi.b = l0.id GROUP BY bi.a, l0.label),
      |r1 AS (SELECT a, label,
      |    row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rk
      |  FROM c1),
      |l1 AS (SELECT a AS id, label FROM r1 WHERE rk = 1),
      |c2 AS (SELECT bi.a, l1.label, count(*) AS c
      |  FROM bi JOIN l1 ON bi.b = l1.id GROUP BY bi.a, l1.label),
      |r2 AS (SELECT a, label,
      |    row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rk
      |  FROM c2)
      |SELECT a AS id, label FROM r2 WHERE rk = 1
      |ORDER BY id""".stripMargin

  /** Newman modularity of the gated label-propagation communities
    * ([[graft.operators.Graph.modularity]]): per-community
    * (n_nodes, l_intra, d_tot, q6) from exact integer sufficient
    * statistics — the "was that clustering any good" score, gated on
    * the same events graph as q_communities. The oracle replays the
    * two propagation sweeps verbatim, then the same two
    * community-keyed aggregations. */
  def qModularity(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.events(s, dir)
      .select((col("event_id") % 997).as("src"),
        ((col("event_id") * 7919 + 13) % 997).as("dst"))
    val labels = graft.operators.Graph.labelPropagation(
      edges, "src", "dst", sweeps = 2)
    graft.operators.Graph.modularity(edges, "src", "dst", labels)
      .orderBy(col("comm"))
  }

  val qModularitySql: String =
    """WITH raw AS (SELECT event_id % 997 AS a,
      |    (event_id * 7919 + 13) % 997 AS b FROM events),
      |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM raw WHERE a <> b),
      |bi AS (SELECT u AS a, v AS b FROM e
      |  UNION ALL SELECT v AS a, u AS b FROM e),
      |l0 AS (SELECT DISTINCT a AS id, a AS label FROM bi),
      |c1 AS (SELECT bi.a, l0.label, count(*) AS c
      |  FROM bi JOIN l0 ON bi.b = l0.id GROUP BY bi.a, l0.label),
      |r1 AS (SELECT a, label,
      |    row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rk
      |  FROM c1),
      |l1 AS (SELECT a AS id, label FROM r1 WHERE rk = 1),
      |c2 AS (SELECT bi.a, l1.label, count(*) AS c
      |  FROM bi JOIN l1 ON bi.b = l1.id GROUP BY bi.a, l1.label),
      |r2 AS (SELECT a, label,
      |    row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rk
      |  FROM c2),
      |lab AS (SELECT a AS id, label FROM r2 WHERE rk = 1),
      |ec AS (SELECT e.u, e.v, lu.label AS cu, lv.label AS cv
      |  FROM e JOIN lab lu ON lu.id = e.u JOIN lab lv ON lv.id = e.v),
      |mm AS (SELECT count(*) AS m FROM e),
      |intra AS (SELECT cu AS comm, count(*) AS l_intra FROM ec
      |  WHERE cu = cv GROUP BY 1),
      |deg AS (SELECT comm, count(*) AS d_tot FROM (
      |    SELECT cu AS comm FROM ec UNION ALL SELECT cv FROM ec)
      |  GROUP BY 1),
      |nodes AS (SELECT label AS comm, count(*) AS n_nodes FROM lab
      |  GROUP BY 1)
      |SELECT n.comm, n.n_nodes,
      |  coalesce(i.l_intra, 0) AS l_intra,
      |  coalesce(d.d_tot, 0) AS d_tot,
      |  round(CAST(coalesce(i.l_intra, 0) AS DOUBLE) / CAST(m AS DOUBLE)
      |    - (CAST(coalesce(d.d_tot, 0) AS DOUBLE) / CAST(2 * m AS DOUBLE))
      |    * (CAST(coalesce(d.d_tot, 0) AS DOUBLE) / CAST(2 * m AS DOUBLE)),
      |    6) + 0.0 AS q6
      |FROM nodes n LEFT JOIN deg d ON d.comm = n.comm
      |  LEFT JOIN intra i ON i.comm = n.comm CROSS JOIN mm
      |ORDER BY n.comm""".stripMargin

  /** Categorical drift between the even- and odd-event_id halves of
    * the stream over the 100-value props column
    * ([[graft.operators.Profile.categoryDrift]]): exact
    * total-variation distance by integer cross-multiplication, one
    * division at the end; top drifted category shipped alongside. */
  def qDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    graft.operators.Profile.categoryDrift(
      ev.where(col("event_id") % 2 === 0),
      ev.where(col("event_id") % 2 === 1), "props")
  }

  val qDriftSql: String =
    """WITH a AS (SELECT props FROM events WHERE event_id % 2 = 0),
      |b AS (SELECT props FROM events WHERE event_id % 2 = 1),
      |ca AS (SELECT props, count(*) AS x FROM a GROUP BY props),
      |cb AS (SELECT props, count(*) AS y FROM b GROUP BY props),
      |na AS (SELECT count(*) AS n_a FROM a),
      |nb AS (SELECT count(*) AS n_b FROM b),
      |j AS (SELECT coalesce(ca.props, cb.props) AS cat,
      |    coalesce(x, 0) AS x, coalesce(y, 0) AS y
      |  FROM ca FULL OUTER JOIN cb ON ca.props = cb.props),
      |t AS (SELECT cat, abs(x * n_b - y * n_a) AS cr, n_a, n_b
      |  FROM j, na, nb)
      |SELECT CAST(max(n_a) AS BIGINT) AS n_a,
      |  CAST(max(n_b) AS BIGINT) AS n_b,
      |  count(*) AS n_cats,
      |  (SELECT cat FROM t ORDER BY cr DESC, cat DESC LIMIT 1) AS top_cat,
      |  round(CAST(CAST(sum(cr) AS BIGINT) AS DOUBLE)
      |    / (2.0 * CAST(max(n_a) AS DOUBLE) * CAST(max(n_b) AS DOUBLE)), 6)
      |    AS tv6
      |FROM t""".stripMargin

  /** Per-user inter-event burstiness
    * ([[graft.operators.Events.burstiness]], ≥10 gaps): the Goh-
    * Barabási (σ−μ)/(σ+μ) with the radicand exact in integer seconds
    * — one sqrt, one division, round 6. */
  def qBurstiness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.burstiness(
        Tables.events(s, dir), "user_id", "ts", minGaps = 10)
      .orderBy(col("user_id"))

  val qBurstinessSql: String =
    """WITH g AS (SELECT user_id,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts))) // 1000000
      |      AS gap
      |  FROM events),
      |st AS (SELECT user_id, count(*) AS n,
      |    CAST(sum(gap) AS BIGINT) AS s,
      |    CAST(sum(gap * gap) AS BIGINT) AS q
      |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n AS n_gaps,
      |  round((sqrt(CAST(n * q - s * s AS DOUBLE)) - CAST(s AS DOUBLE))
      |    / (sqrt(CAST(n * q - s * s AS DOUBLE)) + CAST(s AS DOUBLE)), 6)
      |    AS burst6
      |FROM st WHERE n >= 10 AND s > 0
      |ORDER BY user_id""".stripMargin

  /** Personalized PageRank from seed users {1,2,3} over the
    * bidirected user↔event-bucket graph
    * ([[graft.operators.Graph.personalizedPageRank]], 2 sweeps,
    * round-9-pinned like q_pagerank): teleport mass returns to the
    * seeds only — "related to THESE" ranking. */
  def qPpr(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("user_id").as("a"),
        (col("event_id") % 137 + 1000000L).as("b"))
    val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
    graft.operators.Graph.personalizedPageRank(edges, "a", "b",
        seeds = Seq(1L, 2L, 3L), iters = 2)
      .select(col("id"), round(col("r"), 6).as("r"))
      .orderBy(col("id"))
  }

  val qPprSql: String =
    """WITH b AS (SELECT user_id AS a, event_id % 137 + 1000000 AS b
      |           FROM events),
      |e AS (SELECT DISTINCT a AS src, b AS dst FROM (
      |        SELECT a, b FROM b UNION ALL SELECT b AS a, a AS b FROM b)),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |r0 AS (SELECT id, CASE WHEN id IN (1, 2, 3)
      |         THEN 1.0::DOUBLE / 3 ELSE 0.0::DOUBLE END AS r FROM nodes),
      |c1 AS (SELECT e.dst AS id, sum(r0.r / deg.deg) AS s
      |       FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT nodes.id,
      |         round(CASE WHEN nodes.id IN (1, 2, 3)
      |             THEN 0.15::DOUBLE / 3 ELSE 0.0::DOUBLE END
      |           + 0.85 * coalesce(c1.s, 0.0::DOUBLE), 9) AS r
      |       FROM nodes LEFT JOIN c1 ON nodes.id = c1.id),
      |c2 AS (SELECT e.dst AS id, sum(r1.r / deg.deg) AS s
      |       FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT nodes.id,
      |         round(CASE WHEN nodes.id IN (1, 2, 3)
      |             THEN 0.15::DOUBLE / 3 ELSE 0.0::DOUBLE END
      |           + 0.85 * coalesce(c2.s, 0.0::DOUBLE), 9) AS r
      |       FROM nodes LEFT JOIN c2 ON nodes.id = c2.id)
      |SELECT id, round(r, 6) AS r FROM r2 ORDER BY id""".stripMargin

  /** Fixed-round k-core peel (k=15, 4 rounds) over a SKEWED bipartite
    * event graph (the right side's modulus varies per event, piling
    * edges onto low-residue hubs — degree variance is what gives the
    * peel a real cascade) — [[graft.operators.Graph.kCorePeel]]:
    * survivors with residual degrees; each round replayed verbatim by
    * the oracle. */
  def qKcore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCorePeel(
        Tables.events(s, dir)
          .select((col("event_id") % 499).as("src"),
            (col("event_id") % (col("event_id") % 359 + 2) + 500)
              .as("dst")),
        "src", "dst", k = 15, rounds = 4)
      .orderBy(col("id"))

  /** Exact coreness for every node of the q_kcore event graph via the
    * fixed-budget H-index iteration
    * ([[graft.operators.Graph.kCoreNumbers]], 20 sweeps — the
    * iteration converges by sweep 16 at sf0.1 / 7 at sf0.01, measured;
    * a converged sweep is idempotent, so the extra budget changes
    * nothing). The oracle replays all 20 sweeps verbatim as generated
    * CTE stages; KCoreSpec pins the exact-coreness fixpoint against
    * brute-force peeling. */
  def qKcoreOrder(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCoreNumbers(
        Tables.events(s, dir)
          .select((col("event_id") % 499).as("src"),
            (col("event_id") % (col("event_id") % 359 + 2) + 500)
              .as("dst")),
        "src", "dst", iters = 20)
      .orderBy(col("id"))

  val qKcoreOrderSql: String = {
    val sweeps = (1 to 20).map { i =>
      s"""n$i AS (SELECT bi.a AS id, c${i - 1}.c AS cb
         |  FROM bi JOIN c${i - 1} ON bi.b = c${i - 1}.id),
         |c$i AS (SELECT id, max(least(rn, cb)) AS c FROM (
         |    SELECT id, cb, row_number() OVER (PARTITION BY id
         |      ORDER BY cb DESC) AS rn FROM n$i)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT event_id % 499 AS a,
       |    event_id % (event_id % 359 + 2) + 500 AS b FROM events),
       |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
       |  FROM raw WHERE a <> b),
       |bi AS (SELECT u AS a, v AS b FROM e
       |  UNION ALL SELECT v, u FROM e),
       |c0 AS (SELECT a AS id, count(*) AS c FROM bi GROUP BY a),
       |$sweeps
       |SELECT id, c AS core FROM c20 ORDER BY id""".stripMargin
  }

  val qKcoreSql: String =
    """WITH raw AS (SELECT event_id % 499 AS a,
      |    event_id % (event_id % 359 + 2) + 500 AS b FROM events),
      |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM raw WHERE a <> b),
      |d1 AS (SELECT id, count(*) AS deg FROM (
      |    SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY id),
      |a1 AS (SELECT id FROM d1 WHERE deg >= 15),
      |e2 AS (SELECT u, v FROM e
      |  WHERE u IN (SELECT id FROM a1) AND v IN (SELECT id FROM a1)),
      |d2 AS (SELECT id, count(*) AS deg FROM (
      |    SELECT u AS id FROM e2 UNION ALL SELECT v FROM e2) GROUP BY id),
      |a2 AS (SELECT id FROM d2 WHERE deg >= 15),
      |e3 AS (SELECT u, v FROM e
      |  WHERE u IN (SELECT id FROM a2) AND v IN (SELECT id FROM a2)),
      |d3 AS (SELECT id, count(*) AS deg FROM (
      |    SELECT u AS id FROM e3 UNION ALL SELECT v FROM e3) GROUP BY id),
      |a3 AS (SELECT id FROM d3 WHERE deg >= 15),
      |e4 AS (SELECT u, v FROM e
      |  WHERE u IN (SELECT id FROM a3) AND v IN (SELECT id FROM a3)),
      |d4 AS (SELECT id, count(*) AS deg FROM (
      |    SELECT u AS id FROM e4 UNION ALL SELECT v FROM e4) GROUP BY id),
      |a4 AS (SELECT id FROM d4 WHERE deg >= 15),
      |ef AS (SELECT u, v FROM e
      |  WHERE u IN (SELECT id FROM a4) AND v IN (SELECT id FROM a4)),
      |df AS (SELECT id, count(*) AS deg FROM (
      |    SELECT u AS id FROM ef UNION ALL SELECT v FROM ef) GROUP BY id)
      |SELECT a4.id, CAST(coalesce(df.deg, 0) AS BIGINT) AS deg
      |FROM a4 LEFT JOIN df ON a4.id = df.id
      |ORDER BY a4.id""".stripMargin

  /** Chi-square independence of (event_type, day-of-week)
    * ([[graft.operators.Profile.chiSquare]]): exact integer cell/
    * marginal arithmetic, per-cell terms nano-rounded before the
    * order-independent sum. */
  def qChi2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.chiSquare(
      Tables.events(s, dir)
        .select(col("event_type"), (weekday(col("ts")) + 1).as("dow")),
      "event_type", "dow")

  val qChi2Sql: String =
    """WITH obs AS (SELECT event_type AS x, isodow(ts) AS y, count(*) AS o
      |  FROM events GROUP BY x, y),
      |c AS (SELECT g.x, g.y, coalesce(obs.o, 0) AS o FROM (
      |    SELECT xs.x, ys.y FROM (SELECT DISTINCT x FROM obs) xs,
      |      (SELECT DISTINCT y FROM obs) ys) g
      |  LEFT JOIN obs ON g.x = obs.x AND g.y = obs.y),
      |r AS (SELECT x, CAST(sum(o) AS BIGINT) AS rr FROM c GROUP BY x),
      |cc AS (SELECT y, CAST(sum(o) AS BIGINT) AS cm FROM c GROUP BY y),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
      |    count(DISTINCT x) AS nx, count(DISTINCT y) AS ny FROM c),
      |t AS (SELECT
      |    CAST(round(CAST(c.o * n.nn - r.rr * cc.cm AS DOUBLE)
      |      * CAST(c.o * n.nn - r.rr * cc.cm AS DOUBLE)
      |      / (CAST(n.nn AS DOUBLE) * CAST(r.rr AS DOUBLE)
      |        * CAST(cc.cm AS DOUBLE)) * 1e9, 0) AS BIGINT) AS nano,
      |    n.nx, n.ny
      |  FROM c JOIN r USING (x) JOIN cc USING (y) CROSS JOIN n)
      |SELECT count(*) AS n_cells,
      |  CAST(max((nx - 1) * (ny - 1)) AS BIGINT) AS dof,
      |  round(CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1e9, 6) AS chi26
      |FROM t""".stripMargin

  /** Per-user activity trend ([[graft.operators.Profile.trendSlope]]):
    * OLS slope of cents against seconds-since-stream-start — exact
    * BIGINT sums, one division, scaled to cents/day. */
  def qTrend(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.trendSlope(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"),
            floor(col("value") * 100).cast("long").as("cents")),
        "user_id", "ts", "cents")
      .orderBy(col("user_id"))

  val qTrendSql: String =
    """WITH t0 AS (SELECT min(epoch_us(ts)) AS t FROM events),
      |b AS (SELECT user_id,
      |    (epoch_us(ts) - t0.t) // 1000000 AS x,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS y
      |  FROM events, t0),
      |st AS (SELECT user_id, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM b GROUP BY user_id)
      |SELECT user_id, n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) * 86400.0, 6)
      |    AS slope6_per_day
      |FROM st WHERE n * sxx - sx * sx > 0
      |ORDER BY user_id""".stripMargin

  /** Per-source quartile binning of document lengths
    * ([[graft.operators.Profile.quantileBins]], ntile(4) under the
    * (n_chars, doc_id) total order) — the discretization surface. */
  def qBinning(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.quantileBins(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "n_chars", "doc_id", buckets = 4)
      .orderBy(col("doc_id"))

  val qBinningSql: String =
    """SELECT doc_id, source, n_chars,
      |  CAST(ntile(4) OVER (PARTITION BY source
      |    ORDER BY n_chars, doc_id) AS INT) AS bin
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Functional-dependency profile over events
    * ([[graft.operators.Profile.fdProfile]]): three candidate FDs —
    * event_id → everything (a true key), user_id → event_type and
    * event_type → props (both expected to fail) — violating-key
    * counts per pair. */
  def qFdCheck(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.fdProfile(
        Tables.events(s, dir),
        Seq("event_id" -> "props", "user_id" -> "event_type",
          "event_type" -> "props"))
      .orderBy(col("det"), col("dep"))

  val qFdCheckSql: String =
    """WITH p1 AS (SELECT 'event_id' AS det, 'props' AS dep,
      |    count(*) AS n_keys,
      |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_violating
      |  FROM (SELECT event_id, count(DISTINCT props) AS nv
      |        FROM events GROUP BY event_id)),
      |p2 AS (SELECT 'user_id', 'event_type', count(*),
      |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM (SELECT user_id, count(DISTINCT event_type) AS nv
      |        FROM events GROUP BY user_id)),
      |p3 AS (SELECT 'event_type', 'props', count(*),
      |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM (SELECT event_type, count(DISTINCT props) AS nv
      |        FROM events GROUP BY event_type))
      |SELECT det, dep, n_keys, n_violating,
      |  n_violating = 0 AS holds
      |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
      |      UNION ALL SELECT * FROM p3)
      |ORDER BY det, dep""".stripMargin

  /** Inclusion-dependency audit
    * ([[graft.operators.Profile.inclusionCheck]]): is every
    * events.user_id a customer key? (No — user 0 has no customer
    * row; the gate pins the exact miss count.) */
  def qInclusion(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.inclusionCheck(
      Tables.events(s, dir), "user_id",
      Tables.load(s, dir, "customer"), "c_custkey")

  val qInclusionSql: String =
    """WITH da AS (SELECT DISTINCT user_id AS k FROM events),
      |m AS (SELECT count(*) AS n_missing FROM da
      |  WHERE k NOT IN (SELECT c_custkey FROM customer))
      |SELECT (SELECT count(*) FROM da) AS n_distinct, m.n_missing,
      |  m.n_missing = 0 AS contained
      |FROM m""".stripMargin

  /** Sampled-vs-exact per-type mean cents
    * ([[graft.operators.Profile.sampledMean]], 10% content-hash
    * sample): the "is a sample scan good enough" calibration, both
    * numbers exact-integer-derived and replayed. */
  def qSampledAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.sampledMean(
        Tables.events(s, dir)
          .select(col("event_type"), col("event_id"),
            floor(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents", "event_id", pct = 10)
      .orderBy(col("event_type"))

  /** Week-over-week churn ([[graft.operators.Events.weeklyChurn]]):
    * retained / fresh / churned user counts per week by adjacent-week
    * presence — exact set arithmetic off one (user, week) distinct. */
  def qChurn(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.weeklyChurn(
        Tables.events(s, dir), "user_id", "ts")
      .orderBy(col("week"))

  val qChurnSql: String =
    """WITH a AS (SELECT DISTINCT user_id AS k,
      |    date_trunc('week', ts) AS week FROM events),
      |p AS (SELECT k, week + INTERVAL 7 DAY AS week FROM a),
      |wk AS (SELECT DISTINCT week FROM a),
      |j AS (SELECT coalesce(a.week, p.week) AS week,
      |    a.k IS NOT NULL AS cur, p.k IS NOT NULL AS prv
      |  FROM a FULL OUTER JOIN p ON a.week = p.week AND a.k = p.k)
      |SELECT j.week,
      |  CAST(sum(CASE WHEN cur AND prv THEN 1 ELSE 0 END) AS BIGINT)
      |    AS retained,
      |  CAST(sum(CASE WHEN cur AND NOT prv THEN 1 ELSE 0 END) AS BIGINT)
      |    AS fresh,
      |  CAST(sum(CASE WHEN NOT cur AND prv THEN 1 ELSE 0 END) AS BIGINT)
      |    AS churned
      |FROM j JOIN wk ON j.week = wk.week
      |GROUP BY j.week ORDER BY j.week""".stripMargin

  /** Daily OHLC value bars per event type
    * ([[graft.operators.Events.ohlcBars]] on cents): open/close by
    * the exact (ts, event_id) order, high/low by min/max — one
    * aggregation, no window. */
  def qOhlc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.ohlcBars(
        Tables.events(s, dir)
          .select(col("event_type"), col("ts"), col("event_id"),
            floor(col("value") * 100).cast("long").as("cents")),
        "event_type", "ts", "event_id", "cents")
      .orderBy(col("event_type"), col("day"))

  val qOhlcSql: String =
    """WITH b AS (SELECT event_type, date_trunc('day', ts) AS day,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS v,
      |    epoch_us(ts) AS us, event_id FROM events),
      |r AS (SELECT event_type, day, v,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY us, event_id) AS rk_a,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY us DESC, event_id DESC) AS rk_z
      |  FROM b)
      |SELECT event_type, day,
      |  max(CASE WHEN rk_a = 1 THEN v END) AS open,
      |  max(v) AS high, min(v) AS low,
      |  max(CASE WHEN rk_z = 1 THEN v END) AS close,
      |  count(*) AS n
      |FROM r GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin

  /** Calendar continuity audit per user
    * ([[graft.operators.Events.calendarGaps]]): active days vs span,
    * gap count — exact day arithmetic, no calendar materialization. */
  def qGaps(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.calendarGaps(
        Tables.events(s, dir), "user_id", "ts")
      .orderBy(col("user_id"))

  val qGapsSql: String =
    """WITH d AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', ts) AS DATE) AS day FROM events)
      |SELECT user_id, min(day) AS first_day, max(day) AS last_day,
      |  count(*) AS active_days,
      |  CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
      |  CAST(max(day) - min(day) + 1 - count(*) AS BIGINT) AS gap_days
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  /** RFM customer segmentation (recency / frequency / monetary — the
    * classic marketing-analytics cut) over purchases: per user,
    * days-since-last-purchase, purchase count, cents total, and
    * quintile scores per dimension (5 = best) combined into the RFM
    * cell. The scores use [[graft.operators.Profile.globalNtile]] —
    * the EXACT global quintile via two-level ranking, bit-identical
    * to `ntile(5) OVER (ORDER BY v, id)` (which the oracle replays)
    * but with no unpartitioned window anywhere: at a billion users
    * the plain window form is a single-task sort; this form is three
    * bucketed rank passes. */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).where(col("event_type") === "purchase")
    val horizon = ev.agg(max(unix_micros(col("ts"))).as("_T"))
    val base = ev.crossJoin(broadcast(horizon)) // 1-row scalar
      .groupBy(col("user_id"))
      .agg(floor((max(col("_T")) - max(unix_micros(col("ts"))))
          / lit(86400000000L)).cast("long").as("r_days"),
        count(lit(1)).as("freq"),
        sum(floor(col("value") * 100).cast("long")).as("money"))
    // cut base once, then score the three ntiles INDEPENDENTLY and
    // join: globalNtile references its input three times (bucket
    // bases, total, the ranked stream), so the previous chained form
    // re-expanded the purchase aggregation 3^3 = 27 times in one plan
    // (measured r21: 4.7 s execution for a users-sized input). Each
    // rank only reads base's own columns — the chain never fed one
    // ntile's output into another's ordering — so the independent
    // form is value-identical (ntile output is also partitioning-
    // independent, ProfileSpec), with one users-sized materialization
    // and three users-sized join legs instead of the blowup.
    val b = graft.Staging.registerPinned(s, graft.operators.Graph.cut(base))
    def nt(valueCol: String, bucketOf: Column => Column, out: String) =
      graft.operators.Profile.globalNtile(b, valueCol, "user_id", 5,
        bucketOf, out).select(col("user_id"), col(out))
    val withM = b
      .join(nt("r_days", v => v, "_rnt"), Seq("user_id"))
      .join(nt("freq", v => v, "_fnt"), Seq("user_id"))
      .join(nt("money", v => floor(v / lit(1024L)), "_mnt"), Seq("user_id"))
    withM.select(col("user_id"), col("r_days"), col("freq"), col("money"),
        (lit(6) - col("_rnt")).as("r_score"),
        col("_fnt").as("f_score"), col("_mnt").as("m_score"))
      .withColumn("rfm", (col("r_score") * 100 + col("f_score") * 10 +
        col("m_score")).cast("int"))
      .orderBy(col("user_id"))
  }

  val qRfmSql: String =
    """WITH p AS (SELECT user_id, ts,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events
      |  WHERE event_type = 'purchase'),
      |h AS (SELECT max(epoch_us(ts)) AS t FROM p),
      |b AS (SELECT user_id,
      |    CAST((h.t - max(epoch_us(ts))) // 86400000000 AS BIGINT)
      |      AS r_days,
      |    count(*) AS freq, CAST(sum(cents) AS BIGINT) AS money
      |  FROM p, h GROUP BY user_id, h.t),
      |sc AS (SELECT user_id, r_days, freq, money,
      |    CAST(6 - ntile(5) OVER (ORDER BY r_days, user_id) AS INT)
      |      AS r_score,
      |    CAST(ntile(5) OVER (ORDER BY freq, user_id) AS INT) AS f_score,
      |    CAST(ntile(5) OVER (ORDER BY money, user_id) AS INT) AS m_score
      |  FROM b)
      |SELECT user_id, r_days, freq, money, r_score, f_score, m_score,
      |  CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
      |FROM sc ORDER BY user_id""".stripMargin

  /** Temporal dimension enrichment (the SCD-2 warehouse join):
    * purchases attributed to the signup-props "plan" in force at
    * purchase time — [[graft.operators.Events.stateIntervals]] builds
    * the plan intervals, [[graft.operators.AsOf.asofJoin]] attaches
    * the active one by carry-forward (one key exchange, NO non-equi
    * interval join), then a per-plan rollup. Purchases before any
    * signup land in the 'NONE' bucket.
    *
    * Two signups at the SAME (user_id, ts) would violate asofJoin's
    * unique-(key, ts) precondition and make the carried plan
    * partition-dependent, so the dim is first deterministically
    * collapsed to one row per (user_id, ts) — highest event_id wins
    * (max_by), mirrored by arg_max in the oracle. */
  def qTemporalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val sign = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"),
        max_by(col("props"), col("event_id")).as("props"))
    val dim = graft.operators.Events.stateIntervals(
        sign, "user_id", "ts", "event_id", "props")
      .select(col("user_id"), col("valid_from").as("ts"),
        col("props").as("plan"))
    val fact = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 100).cast("long").as("cents"))
    graft.operators.AsOf.asofJoin(fact, dim, "user_id", "ts",
        Seq("plan"))
      .groupBy(coalesce(col("plan"), lit("NONE")).as("plan"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("plan"))
  }

  val qTemporalJoinSql: String =
    """WITH sign0 AS (SELECT user_id, ts, event_id, props FROM events
      |  WHERE event_type = 'signup'),
      |sign AS (SELECT user_id, ts, max(event_id) AS event_id,
      |    arg_max(props, event_id) AS props
      |  FROM sign0 GROUP BY user_id, ts),
      |o AS (SELECT user_id, props, ts,
      |    lag(props) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev
      |  FROM sign),
      |runs AS (SELECT user_id, props, ts FROM o
      |  WHERE prev IS NULL OR prev <> props),
      |p AS (SELECT event_id, user_id, ts,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events
      |  WHERE event_type = 'purchase'),
      |m AS (SELECT p.event_id, p.cents,
      |    (SELECT r.props FROM runs r WHERE r.user_id = p.user_id
      |       AND r.ts <= p.ts ORDER BY r.ts DESC LIMIT 1) AS plan
      |  FROM p)
      |SELECT coalesce(plan, 'NONE') AS plan, count(*) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM m GROUP BY coalesce(plan, 'NONE')
      |ORDER BY plan""".stripMargin

  /** View→purchase conversion delay per user: the earliest view and
    * the earliest strictly-later purchase ([[graft.operators.Events
    * .funnel]] composed), emitted as whole seconds for converting
    * users. */
  def qConversionTime(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.funnel(Tables.events(s, dir), "user_id",
        "ts", "event_type", Seq("view", "purchase"))
      .where(col("depth") === 2)
      .select(col("user_id"),
        floor((unix_micros(col("t1")) - unix_micros(col("t0")))
          / lit(1000000L)).cast("long").as("delay_s"))
      .orderBy(col("user_id"))

  val qConversionTimeSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |p AS (SELECT v.user_id, v.t0, min(e.ts) AS t1
      |  FROM v JOIN events e ON e.user_id = v.user_id
      |    AND e.event_type = 'purchase' AND e.ts > v.t0
      |  GROUP BY v.user_id, v.t0)
      |SELECT user_id,
      |  (epoch_us(t1) - epoch_us(t0)) // 1000000 AS delay_s
      |FROM p ORDER BY user_id""".stripMargin

  val qSampledAggSql: String =
    """WITH b AS (SELECT event_type,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
      |    try_cast('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
      |      AS BIGINT) % 100 < 10 AS ins
      |  FROM events),
      |st AS (SELECT event_type, count(*) AS n,
      |    CAST(sum(cents) AS BIGINT) AS s,
      |    CAST(sum(CASE WHEN ins THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_sample,
      |    CAST(sum(CASE WHEN ins THEN cents ELSE 0 END) AS BIGINT) AS ss
      |  FROM b GROUP BY event_type)
      |SELECT event_type, n, n_sample,
      |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean6_exact,
      |  round(CAST(ss AS DOUBLE) / CAST(n_sample AS DOUBLE), 6)
      |    AS mean6_est
      |FROM st WHERE n_sample > 0
      |ORDER BY event_type""".stripMargin
}
