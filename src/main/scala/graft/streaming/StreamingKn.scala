package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Corpus, Graph}

/** The STREAMING twin of the incremental Kneser-Ney gate (q_kn_incr):
  * a `foreachBatch` language-model maintainer with score-at-admission
  * semantics — each arriving micro-batch's bigram counts merge into
  * the stored count table by per-bigram addition
  * ([[Corpus.knMergeCounts]]), and the batch is scored
  * ([[Corpus.knScoreFromCounts]]) under the model derived from the
  * table AS OF ADMISSION (its own counts included, so every batch
  * bigram is observed and no OOV path fires) — the perplexity a
  * production ingest attaches to a document the moment it lands.
  *
  * Store shape: like [[StreamingWinnow]]'s index (and unlike
  * [[StreamingDsir]]'s bounded bucket map), the decision state GROWS
  * with observed vocabulary — the (w1, w2, cb) count table — so it
  * lives as a lineage-cut DataFrame swapped per batch (at 100 TB it is
  * a stored table the batch merges into by key; everything else the
  * model needs — context totals, continuation counts, count-of-counts,
  * the discount — re-DERIVES from it in vocabulary-sized aggregates,
  * never from re-counted text). Per batch the distributed work is one
  * bigram aggregate of THE BATCH, the count merge, and one scoring
  * join of the batch against the merged table's derived relations.
  *
  * Contracts (StreamingKnSpec pins all of these):
  *  - COUNT EXACTNESS, ORDER-FREE: after any batch split, in any
  *    arrival order, the store equals the one-shot [[Corpus.knCounts]]
  *    of the union — bigram counts are exact mergeable sufficient
  *    statistics (the q_kn_incr argument).
  *  - SCORE-AT-ADMISSION: each batch's emitted scores equal
  *    [[Corpus.knScoreFromCounts]] of that batch against the
  *    counts-so-far (its own included) — deterministic in the stream
  *    prefix. Scores attached early legitimately differ from a
  *    final-model re-score as the corpus grows (the streaming-vs-batch
  *    trade, stated rather than hidden); re-scoring any corpus against
  *    the FINAL store reproduces the batch gate bit-for-bit.
  *  - AT-LEAST-ONCE REPLAY: committed batchIds are skipped BEFORE any
  *    work; a batch that fails mid-flight leaves the store, the log,
  *    and `lastBatchId` untouched (the [[AdmissionLogMaintainer]]
  *    commit-point ordering), so the replay re-runs it cleanly.
  */
class StreamingKn(spark: SparkSession, idCol: String, textCol: String,
    idType: org.apache.spark.sql.types.DataType = LongType)
    extends AdmissionLogMaintainer {

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private var counts: DataFrame = emptyFrame(StructType(Seq(
    StructField("w1", org.apache.spark.sql.types.StringType),
    StructField("w2", org.apache.spark.sql.types.StringType),
    StructField("cb", LongType))))

  private def tokenized(b: DataFrame): DataFrame =
    b.select(col(idCol), split(col(textCol), " ").as("_w"))

  /** The foreachBatch sink: `stream.writeStream.foreachBatch(
    * maintainer.processBatch _)`. The commit-point protocol (replay
    * guard, cut-then-swap ordering, log lifecycle) lives in
    * [[AdmissionLogMaintainer]]; this maintainer additionally swaps
    * its count frame inside the commit, so a failure anywhere leaves
    * it (and its pinned blocks) untouched. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    // replay guard FIRST: a replayed batch must not pay (or leak) the
    // state-frame cuts below
    if (committed(batchId)) return
    withPersisted(batch) { b =>
      val toks = tokenized(b)
      // the merged table feeds the scoring join's four derived
      // consumers AND becomes the next state — cut once
      val newCounts = Graph.cut(
        Corpus.knMergeCounts(counts, Corpus.knCounts(toks, idCol, "_w")))
      try {
        commit(batchId) {
          Corpus.knScoreFromCounts(toks, idCol, "_w", newCounts)
            .withColumn("batch_id", lit(batchId))
        } {
          // plain assignments first (must not throw), then release
          // the superseded state blocks
          val old = counts
          counts = newCounts
          releaseState(old)
        }
      } catch {
        case t: Throwable => Graph.release(newCounts); throw t
      }
    }
  }

  /** The maintained (w1, w2, cb) bigram-count store — the model's
    * whole sufficient statistic; re-score any corpus against the
    * CURRENT model with [[Corpus.knScoreFromCounts]] over it, or
    * materialize the model itself with [[Corpus.knModelFromJoined]]
    * over its [[Corpus.knJoinedRelation]]. */
  def countsTable: DataFrame = synchronized(counts)

  /** The (idCol, n_bigrams, avg_logprob, ppl, batch_id) admission log
    * of every committed, not-yet-released batch's scores. */
  def scored: DataFrame = synchronized {
    logFrames.reduceLeftOption(_ unionByName _)
      .getOrElse(emptyFrame(StructType(Seq(
        StructField(idCol, idType),
        StructField("n_bigrams", LongType, nullable = false),
        StructField("avg_logprob", org.apache.spark.sql.types.DoubleType),
        StructField("ppl", org.apache.spark.sql.types.DoubleType),
        StructField("batch_id", LongType, nullable = false)))))
  }

  /** Release scored-log entries of batches `<= upToBatchId` (their
    * blocks unpersist); the count store is untouched. */
  def releaseScored(upToBatchId: Long): Unit = releaseLog(upToBatchId)
}
