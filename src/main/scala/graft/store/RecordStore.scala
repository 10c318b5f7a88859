package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The versioned content-addressed record store (SURVEY §1.1), the Spark
  * re-expression of the reference's Postgres schema
  * (idb/postgres_backend/db.py:266-316) and its composed read views
  * (db.py:37-108):
  *
  *  - `uuids(uuid, type, parent, deleted)` — entity registry
  *  - `data(etag, data)` — content-addressed bodies (one row per etag)
  *  - `uuidsData(uuids_id, data_etag, modified, version)` — append-only
  *    version log; "latest" = max(modified)
  *  - `identifiers(identifier, uuids_id)` — external id resolution
  *  - `siblings(r1, r2)` — undirected record⇄mediarecord edges
  *
  * All views are pure DataFrame composition; at scale the store tables
  * live as parquet partitioned by entity type (and bucketed by uuid for
  * co-located joins), and "latest" is a single map-side-combinable
  * `max_by` aggregation rather than the reference's per-row LATERAL.
  */
final case class RecordStore(
    uuids: DataFrame,
    data: DataFrame,
    uuidsData: DataFrame,
    identifiers: DataFrame,
    siblings: DataFrame) {

  /** db.py:33 — etag of the fixed tombstone body `{"deleted": true}`. */
  val tombstoneEtag = RecordStore.TombstoneEtag

  /** Latest version per uuid (db.py:37-44). `max_by(struct)` with a
    * (modified, version) key: one hash aggregation, no per-group sort,
    * partial-aggregable — the plan you want when the version log is the
    * biggest table in the lake. */
  def latestVersions: DataFrame =
    uuidsData
      .groupBy(col("uuids_id"))
      .agg(max(struct(col("modified"), col("version"), col("data_etag"))).as("top"))
      .select(col("uuids_id"),
        col("top.data_etag").as("etag"),
        col("top.version").as("version"),
        col("top.modified").as("modified"))

  /** recordids aggregation (db.py:50-56), sorted for determinism. */
  def identifiersView: DataFrame =
    identifiers.groupBy(col("uuids_id"))
      .agg(sort_array(collect_list(col("identifier"))).as("recordids"))

  /** Sibling map keyed by relation type (db.py:58-73): symmetric-closure
    * union of both edge directions, joined to `uuids` for the sibling's
    * type, non-deleted only, grouped to `map(rel -> sorted uuids)`. */
  def siblingsView: DataFrame = {
    val closure = siblings.select(col("r1"), col("r2"))
      .union(siblings.select(col("r2").as("r1"), col("r1").as("r2")))
      .distinct()
    val typed = closure
      .join(uuids.filter(!col("deleted"))
        .select(col("uuid").as("r2"), col("type").as("rel")), "r2")
    typed.groupBy(col("r1"), col("rel"))
      .agg(sort_array(collect_list(col("r2"))).as("sibs"))
      .groupBy(col("r1"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("rel"), col("sibs"))))).as("siblings"))
      .withColumnRenamed("r1", "uuids_id")
  }

  /** The `idigbio_uuids_data` composed view (db.py:244-248, 80-108):
    * registry ⋈ latest version ⋈ recordids ⋈ siblings ⋈ body. */
  def uuidsDataView: DataFrame =
    uuids
      .join(latestVersions.withColumnRenamed("uuids_id", "uuid"), Seq("uuid"), "left")
      .join(identifiersView.withColumnRenamed("uuids_id", "uuid"), Seq("uuid"), "left")
      .join(siblingsView.withColumnRenamed("uuids_id", "uuid"), Seq("uuid"), "left")
      .join(data.withColumnRenamed("etag", "data_etag_b"),
        col("etag") === col("data_etag_b"), "left")
      .drop("data_etag_b")

  /** Version assignment for an incoming batch (db.py:144-155 CTE):
    * next = coalesce(max(version), -1) + 1 per uuid, computed with one
    * broadcast-able aggregate of the log — not a window over the log. */
  def assignVersions(incoming: DataFrame): DataFrame = {
    val current = uuidsData.groupBy(col("uuids_id"))
      .agg(max(col("version")).as("_maxv"))
    incoming
      .join(current, incoming("uuid") === current("uuids_id"), "left")
      .withColumn("version", coalesce(col("_maxv"), lit(-1L)) + 1)
      .drop("uuids_id", "_maxv")
  }

  /** Content-addressed write dedup (db.py:132-138): bodies whose etag is
    * already stored are not written again — a left-anti join, the MERGE
    * WHEN NOT MATCHED of the content store. */
  def newBodies(incoming: DataFrame): DataFrame =
    incoming.join(data, Seq("etag"), "left_anti")

  /** has_child semi-join (download.py:407-412): parents having at least
    * one child matching `childFilter`, via the sibling-derived child
    * array — `array_contains` is expressed as explode + semi join so the
    * probe side stays a hash join, never a nested-loop. */
  def hasChild(parents: DataFrame, children: DataFrame,
      childArrayCol: String, parentKey: String): DataFrame =
    parents.join(
      children.select(explode(col(childArrayCol)).as(parentKey)),
      Seq(parentKey), "left_semi")
}

object RecordStore {

  /** db.py:33 — etag of the fixed tombstone body `{"deleted": true}`;
    * the index run dispatches on it (index_helper.py:45-54). */
  val TombstoneEtag = "9a4e35834eb80d9af64bcd07ed996b9ec0e60d92"

  /** `has_parent` + `inner_hits` parent-column carry — the missing half
    * of the reference's bulk-download composition (the query side at
    * idigbio_workers/lib/download.py:381-389 injects the record query
    * into the media query as `has_parent{records, inner_hits:{_source:
    * [scientificname, locality, ...]}}`; the hits are consumed at
    * :244-253, where each media row's id function reads
    * `inner_hits["records"]["hits"]["hits"][0]["_source"]` — the FIRST
    * matching parent's projected fields).
    *
    * Semantics: children having at least one parent matching the
    * parent-side query, each child row carrying the first matching
    * parent's `carry` columns. ES orders inner hits by score, which for
    * the reference's constant-score filtered queries is not meaningful —
    * the deterministic re-expression takes the smallest parent key.
    *
    * Plan shape (the 100 TB story): the edge relation joins the
    * FILTERED parent side (broadcast-eligible when the parent query is
    * selective — the planner/AQE decides), then ONE partial-aggregable
    * `min(struct(parentKey, carry...))` reduction keyed by child
    * collapses multi-parent children map-side, then one equi-join hangs
    * the hit off each child row. The child corpus is never shuffled on
    * anything but its own key; no window, no per-child sort.
    *
    * @param edges (childEdge, parentEdge) link relation (sibling pairs)
    * @param carry (parent column → output column) projection; output
    *   names must not collide with child columns
    * @param hitKeyName output column for the carried parent key
    */
  /** The annotations ON CONFLICT upsert (idb/annotations loader.py:
    * 20-50) as ONE mergeable aggregate over a submission log with a
    * strictly-ordered arrival key: first-insert identity columns
    * (uuids_id, source, approved) via min_by(·, arrival), last-write
    * body/timestamp (v, updated_at) via max_by, count(*) as the
    * submission tally. The first/last arrival keys ride the output so
    * two stores (or a store and a batch) MERGE by re-running the same
    * aggregate over their union — exact mergeable sufficient
    * statistics, which is what makes the streaming twin
    * ([[graft.streaming.StreamingAnnotations]]) equal the batch gate.
    * Input: (source_id, uuids_id, v, source, approved, updated_at,
    * arr); arrival keys must be unique per submission. */
  def annotationsUpsert(subs: DataFrame): DataFrame =
    subs.groupBy(col("source_id"))
      .agg(
        min_by(col("uuids_id"), col("arr")).as("uuids_id"),
        max_by(col("v"), col("arr")).as("v"),
        min_by(col("source"), col("arr")).as("source"),
        min_by(col("approved"), col("arr")).as("approved"),
        max_by(col("updated_at"), col("arr")).as("updated_at"),
        count(lit(1)).as("n_submits"),
        min(col("arr")).as("first_arr"),
        max(col("arr")).as("last_arr"))

  /** Merge two upsert stores by the min_by/max_by algebra: min_by
    * picks across the carried first_arr keys, max_by across last_arr,
    * tallies add. `annotationsUpsert(a ∪ b)` over raw logs and
    * `annotationsMerge(upsert(a), upsert(b))` agree exactly. */
  def annotationsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("source_id"))
      .agg(
        min_by(col("uuids_id"), col("first_arr")).as("uuids_id"),
        max_by(col("v"), col("last_arr")).as("v"),
        min_by(col("source"), col("first_arr")).as("source"),
        min_by(col("approved"), col("first_arr")).as("approved"),
        max_by(col("updated_at"), col("last_arr")).as("updated_at"),
        sum(col("n_submits")).as("n_submits"),
        min(col("first_arr")).as("first_arr"),
        max(col("last_arr")).as("last_arr"))

  def innerHits(children: DataFrame, childKey: String,
      parents: DataFrame, parentKey: String,
      edges: DataFrame, childEdge: String, parentEdge: String,
      carry: Seq[(String, String)],
      hitKeyName: String = "parent_id"): DataFrame = {
    val parentSide = parents.select(
      (col(parentKey).as("_pk") +: carry.map { case (c, _) => col(c) }): _*)
    val firstHit = edges
      .select(col(childEdge).as("_ck"), col(parentEdge).as("_pk"))
      .join(parentSide, "_pk")
      .groupBy(col("_ck"))
      .agg(min(struct(
        (col("_pk") +: carry.map { case (c, _) => col(c) }): _*)).as("_hit"))
      .select(
        (col("_ck").as(childKey) +:
          col("_hit._pk").as(hitKeyName) +:
          carry.map { case (c, out) => col(s"_hit.$c").as(out) }): _*)
    children.join(firstHit, Seq(childKey))
  }
}
