package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Corpus, Graph}

/** The STREAMING twin of the BPE trainer (q_bpe_train): a
  * `foreachBatch` tokenizer maintainer. The word-frequency vocab
  * (w, wc) is the trainer's COMPLETE sufficient statistic — merges,
  * pair counts, and segmentations all re-derive from it — and it
  * merges by per-word ADDITION ([[Corpus.bpeMergeVocab]]), so the
  * maintainer stores exactly that: each arriving micro-batch is
  * tokenized ONCE into its own word counts, the store merges by key,
  * and the corpus text is never revisited. Retraining the merge
  * table from the maintained store ([[trainedMerges]]) is
  * bit-identical to batch-training on the union corpus — the
  * q_kn_incr merge-exactness argument, tokenizer edition.
  *
  * Unlike the scoring maintainers ([[StreamingKn]],
  * [[StreamingDsir]]) there is no per-document admission verdict to
  * emit — a tokenizer is a corpus-level artifact — so the admission
  * log carries each batch's word-count CONTRIBUTION (w, wc,
  * batch_id): the audit trail of what each batch added to the store,
  * releasable after downstream drains it.
  *
  * Store shape: grows with observed vocabulary (the
  * [[StreamingWinnow]] index argument) — a lineage-cut DataFrame
  * swapped per batch; at 100 TB it is a stored table the batch
  * merges into by key. Per batch the distributed work is one word
  * aggregate of THE BATCH plus the vocab-sized merge. Retraining is
  * on-demand (nMerges vocab-sized rounds), not per-batch — callers
  * retrain at shipping cadence, not ingest cadence.
  *
  * Contracts (StreamingBpeSpec pins all of these):
  *  - VOCAB EXACTNESS, ORDER-FREE: after any batch split, in any
  *    arrival order, the store equals the one-shot
  *    [[Corpus.bpeWordCounts]] of the union.
  *  - RETRAIN ≡ BATCH: [[trainedMerges]] equals
  *    [[Corpus.bpeTrain]] on the union corpus, rank for rank.
  *  - AT-LEAST-ONCE REPLAY: committed batchIds are skipped BEFORE
  *    any work; a batch that fails mid-flight leaves the store, the
  *    log, and `lastBatchId` untouched (the [[AdmissionLogMaintainer]]
  *    commit-point ordering), so the replay re-runs it cleanly.
  */
class StreamingBpe(spark: SparkSession, textCol: String)
    extends AdmissionLogMaintainer {

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private var vocab: DataFrame = emptyFrame(StructType(Seq(
    StructField("w", StringType),
    StructField("wc", LongType))))

  /** The foreachBatch sink: `stream.writeStream.foreachBatch(
    * maintainer.processBatch _)`. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    // replay guard FIRST: a replayed batch must not pay (or leak) the
    // state-frame cut below
    if (committed(batchId)) return
    withPersisted(batch) { b =>
      val counts = Corpus.bpeWordCounts(b, textCol)
      val newVocab = Graph.cut(Corpus.bpeMergeVocab(vocab, counts))
      try {
        commit(batchId) {
          counts.withColumn("batch_id", lit(batchId))
        } {
          // plain assignments first (must not throw), then release
          // the superseded state blocks
          val old = vocab
          vocab = newVocab
          releaseState(old)
        }
      } catch {
        case t: Throwable => Graph.release(newVocab); throw t
      }
    }
  }

  /** The maintained (w, wc) word-frequency store — the trainer's
    * whole sufficient statistic. */
  def vocabTable: DataFrame = synchronized(vocab)

  /** Retrain the merge table from the maintained store — equals
    * [[Corpus.bpeTrain]] of the union corpus by the merge-exactness
    * contract. Run at shipping cadence. */
  def trainedMerges(nMerges: Int = 8): DataFrame =
    Corpus.bpeTrainFromVocab(vocabTable, nMerges)

  /** The (w, wc, batch_id) contribution log of every committed,
    * not-yet-released batch. */
  def contributions: DataFrame = synchronized {
    logFrames.reduceLeftOption(_ unionByName _)
      .getOrElse(emptyFrame(StructType(Seq(
        StructField("w", StringType),
        StructField("wc", LongType, nullable = false),
        StructField("batch_id", LongType, nullable = false)))))
  }

  /** Release contribution-log entries of batches `<= upToBatchId`
    * (their blocks unpersist); the vocab store is untouched. */
  def releaseContributions(upToBatchId: Long): Unit = releaseLog(upToBatchId)
}
