package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-key skew tools for the shuffle joins the engine cannot avoid.
  *
  * The domain produces real skew: a handful of recordsets hold a large
  * share of all records (the reference's own stats pages lead with the
  * biggest recordsets), so any record⋈recordset-dimension join keyed on
  * `recordset` sends those keys to single reducers. Two levers, in
  * preference order:
  *
  *  1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.*`) — free,
  *     runtime-adaptive, needs no code change; SkewSpec pins that the
  *     engine's sort-merge joins are eligible and demonstrates the
  *     split firing.
  *  2. Explicit salting ([[saltedJoin]]) — for the cases AQE cannot fix
  *     (skewed *aggregations* feeding a join, or a build side that is
  *     too big to broadcast yet small enough to replicate `n`×).
  */
object Skew {

  /** Salted inner equi-join on `key`: scatter each left row to one of
    * `n` salted sub-keys (deterministically — the salt is a hash of the
    * whole row, so re-runs produce identical partition placement, not
    * `rand()`), and replicate every right row to all `n` sub-keys. The
    * hot key's rows then spread over `n` reducers instead of one.
    *
    * Cost model: right side shuffles `n`× its size — use for dimension
    * sides in the "too big to broadcast, small enough to replicate"
    * band, with `n` sized to the observed hot-key share. Result equals
    * the plain join row-for-row (SkewSpec). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      n: Int): DataFrame = {
    val salted = left.withColumn("_salt",
      pmod(xxhash64(struct(left.columns.map(col): _*)), lit(n)).cast("int"))
    val replicated = right.withColumn("_salt",
      explode(sequence(lit(0), lit(n - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Bloom-prefiltered semi-join: build a Bloom filter over the small
    * side's keys (one tiny mergeable aggregation), broadcast the
    * single-row filter, and drop big-side rows that cannot match at
    * scan speed — BEFORE the big side's Exchange. With `exact = true`
    * (default) a left-semi join then removes the Bloom's false
    * positives, so the result equals the plain semi-join exactly
    * (the oracle) while the shuffle carries only candidate rows; with
    * `exact = false` the probe IS the answer (≤ fp-rate extra rows) —
    * the right trade for advisory prefilters like decontamination
    * candidate generation, where a later exact stage re-checks anyway.
    *
    * This is the explicit form of Spark's InjectRuntimeFilter rewrite:
    * explicit because it composes (any key expression, any downstream
    * use of the filter bytes) and because the plan shows the probe
    * (`BloomKernel.contains` in the big side's scan-stage Filter, pinned in
    * BloomSpec). At 1000 executors the filter costs `numBits/8` bytes
    * per task of aggregation traffic + one broadcast; a 1M-bit filter
    * at 5 hashes holds ~70k keys under 1% false positives. Keys are
    * any expression castable to long — hash non-numeric keys first
    * (`xxhash64`). */
  def bloomSemiJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String,
      numBits: Int = 1 << 20, numHashes: Int = 5,
      exact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val bloom = small.agg(
      graft.functions.Bloom.bloomBuild(
        col(smallKey).cast("long"), numBits, numHashes).as("_bloom"))
    // the filter bytes travel as an uncorrelated scalar subquery, NOT a
    // joined column: a 1-row broadcast-join formulation let Catalyst
    // reorder the verify semi-join BELOW the probe (caught by BloomSpec's
    // plan pin), putting the full big side through the semi-join's
    // Exchange first — the exact shuffle the filter exists to shrink.
    // As a subquery the probe is a plain Filter on big's scan, below
    // every Exchange by construction.
    val probe = graft.functions.Bloom.mightContain(
      GraftSqlBridge.column(GraftSqlBridge.scalarSubquery(bloom)),
      col(bigKey).cast("long"), numHashes)
    val prefiltered = big.where(probe)
    if (!exact) prefiltered
    else prefiltered.join(
      small.select(col(smallKey).as(bigKey)).distinct(),
      Seq(bigKey), "left_semi")
  }
}
