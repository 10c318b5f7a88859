package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join: each left row matched to the LATEST
  * right row with `right.ts <= left.ts` on the same key — the
  * event-analytics staple (state at event time, price at trade time)
  * that plain equi/range joins don't express.
  *
  * Spark-first shape: NOT the naive non-equi join (whose candidate set
  * is |left_k| × |right_k| per key — quadratic in events-per-key and a
  * nested-loop plan), but the union + carry-forward form: tag both
  * sides, union, ONE shuffle on the key, and a running
  * `last(payload, ignoreNulls)` window in (ts, tag) order — right rows
  * sort before left rows at equal ts, giving inclusive `<=` semantics.
  * Cost is one exchange + one in-partition sort over left+right,
  * independent of match distances; a hot key costs its own rows only.
  * At 100 TB this is the same plan a timeseries engine's ASOF executes
  * (merge on time within key shards).
  *
  * `right` must be unique per (key, ts) — pre-aggregate ties (the
  * oracle's ASOF is tie-unspecified otherwise). Left rows with no
  * preceding right row keep null payloads (LEFT semantics). */
object AsOf {

  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val lStruct = struct(leftCols.map(col): _*)
    val pStruct = struct(payloadCols.map(col): _*)
    val lType = left.select(lStruct).schema.head.dataType
    val pType = right.select(pStruct).schema.head.dataType
    val l2 = left.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
      lit(1).as("_tag"), lStruct.as("_l"), lit(null).cast(pType).as("_p"))
    val r2 = right.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
      lit(0).as("_tag"), lit(null).cast(lType).as("_l"), pStruct.as("_p"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2)
      .withColumn("_m", last(col("_p"), ignoreNulls = true).over(w))
      .where(col("_tag") === 1)
      .select(leftCols.map(c => col(s"_l.$c").as(c)) ++
        payloadCols.map(c => col(s"_m.$c").as(c)): _*)
  }

  /** Interval (range) join for NON-OVERLAPPING intervals per key: each
    * probe row matched to the interval with `start <= ts < end` on the
    * same key — session attribution, validity-window lookup. Executed
    * as the same union + carry-forward shape as [[asofJoin]] (carry the
    * latest interval whose start precedes the probe, then apply the
    * `ts < end` residual as a post-filter), so the plan is one key
    * exchange + one window — no range-bucketing, no non-equi join, and
    * a probe inside no interval gets nulls. Intervals that overlap per
    * key would need the interval-tree/bucketing form instead; callers
    * assert disjointness (lead()-derived session windows are disjoint
    * by construction). */
  def rangeJoin(probes: DataFrame, intervals: DataFrame, keyCol: String,
      tsCol: String, startCol: String, endCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val probeCols = probes.columns.toSeq
    val carried = endCol +: payloadCols
    val matched = asofJoin(
      probes,
      intervals.withColumnRenamed(startCol, tsCol),
      keyCol, tsCol, carried)
    val inWindow = col(endCol).isNotNull && col(tsCol) < col(endCol)
    matched.select(probeCols.map(col) ++
      payloadCols.map(c => when(inWindow, col(c)).otherwise(lit(null)).as(c)): _*)
  }
}
