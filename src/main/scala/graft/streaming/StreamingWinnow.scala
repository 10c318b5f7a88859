package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Corpus, Graph}

/** The STREAMING twin of the incremental fingerprint-match gate
  * (q_winnow_incr): a `foreachBatch` winnowing-index maintainer with
  * match-at-admission semantics — each arriving micro-batch is
  * fingerprinted ([[Corpus.winnowFingerprints]], per-doc, so batch fps
  * are exactly what a full re-run would produce), probed against the
  * maintained index for near-copy pairs, and merged into it; base×base
  * pairs are never re-formed.
  *
  * Store shape: unlike [[StreamingDsir]]'s bounded bucket table, the
  * decision state here GROWS with the corpus — the (doc, fp) index and
  * its (fp, df) document-frequency stats table — so both live as
  * lineage-cut DataFrames swapped per batch (at 100 TB they are stored
  * tables the batch merges into by key). Per batch the distributed
  * work is one digest scan + per-doc rows window of THE BATCH, one
  * batch-sized df aggregate left-joined against the stats store (the
  * prune needs df only for fps present in the batch — every emitted
  * pair shares a batch fp), the fp-keyed index probe, and the two
  * state merges; the base population is never re-aggregated (the
  * maintained-stats discipline of
  * [[Corpus.incrementalWinnowMatchesFromFps]]).
  *
  * Contracts (StreamingWinnowSpec pins all of these):
  *  - STATE EXACTNESS, ORDER-FREE: after any batch split, in any
  *    arrival order, the index equals the one-shot
  *    [[Corpus.winnowFingerprints]] of the union and the stats store
  *    equals [[Corpus.winnowDfStats]] of it — winnowing is per-doc and
  *    df counts are exact mergeable sufficient statistics.
  *  - MATCH-AT-ADMISSION: each batch's emitted pairs equal
  *    [[Corpus.incrementalWinnowMatches]] of that batch against the
  *    index-so-far — deterministic in the stream prefix. The df prune
  *    judges each pair against the population AT ADMISSION; a
  *    fingerprint that only later crosses `maxDocFreq` legitimately
  *    keeps its early pairs (the streaming-vs-batch trade, stated:
  *    re-matching any delta against the FINAL store reproduces the
  *    batch gate bit-for-bit).
  *  - AT-LEAST-ONCE REPLAY: committed batchIds are skipped BEFORE any
  *    work; a batch that fails mid-flight leaves index, stats, log,
  *    and `lastBatchId` untouched (the [[AdmissionLogMaintainer]]
  *    commit-point ordering), so the replay re-runs it cleanly.
  */
class StreamingWinnow(spark: SparkSession, idCol: String, textCol: String,
    shingleSize: Int = 3, window: Int = 5, minShared: Long = 2,
    maxDocFreq: Long = 100,
    idType: org.apache.spark.sql.types.DataType = LongType)
    extends AdmissionLogMaintainer {

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private var index: DataFrame = emptyFrame(StructType(Seq(
    StructField(idCol, idType), StructField("fp", LongType))))
  private var stats: DataFrame = emptyFrame(StructType(Seq(
    StructField("fp", LongType), StructField("_df", LongType))))

  /** The foreachBatch sink: `stream.writeStream.foreachBatch(
    * maintainer.processBatch _)`. The commit-point protocol (replay
    * guard, cut-then-swap ordering, log lifecycle) lives in
    * [[AdmissionLogMaintainer]]; this maintainer additionally swaps
    * its two state frames inside the commit, so a failure anywhere
    * leaves them (and their pinned blocks) untouched. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    // replay guard FIRST: a replayed batch must not pay (or leak) the
    // state-frame cuts below
    if (committed(batchId)) return
    withPersisted(batch) { b =>
      // the batch's fps feed three consumers (probe, index merge,
      // stats merge) — cut once
      val deltaFps = Graph.cut(
        Corpus.winnowFingerprints(b, idCol, textCol, shingleSize, window))
      try {
        val newState = scala.collection.mutable.ListBuffer.empty[DataFrame]
        try {
          val newIndex = Graph.cut(index.unionByName(deltaFps))
          newState += newIndex
          val newStats = Graph.cut(
            Corpus.winnowMergeDfStats(stats, Corpus.winnowDfStats(deltaFps)))
          newState += newStats
          commit(batchId) {
            Corpus.incrementalWinnowMatchesFromFps(index, stats, deltaFps,
                idCol, minShared, maxDocFreq)
              .withColumn("batch_id", lit(batchId))
          } {
            // plain assignments first (must not throw), then release
            // the superseded state blocks
            val old = Seq(index, stats)
            index = newIndex
            stats = newStats
            old.foreach(releaseState)
          }
        } catch {
          case t: Throwable => newState.foreach(Graph.release); throw t
        }
      } finally Graph.release(deltaFps)
    }
  }

  /** The maintained (idCol, fp) fingerprint index. */
  def indexTable: DataFrame = synchronized(index)

  /** The maintained (fp, _df) document-frequency stats store. */
  def statsTable: DataFrame = synchronized(stats)

  /** The (d1, d2, n_shared, batch_id) admission log of every
    * committed, not-yet-released batch's matches. */
  def matches: DataFrame = synchronized {
    logFrames.reduceLeftOption(_ unionByName _)
      .getOrElse(emptyFrame(StructType(Seq(
        StructField("d1", idType), StructField("d2", idType),
        StructField("n_shared", LongType, nullable = false),
        StructField("batch_id", LongType, nullable = false)))))
  }

  /** Release matched-log entries of batches `<= upToBatchId` (their
    * blocks unpersist); the index and stats stores are untouched. */
  def releaseMatches(upToBatchId: Long): Unit = releaseLog(upToBatchId)
}
