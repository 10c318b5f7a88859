package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Graph, TextDedup}

/** The STREAMING twin of the incremental pipeline gate
  * (q_pipeline_incr): a `foreachBatch` corpus maintainer. Each delta
  * micro-batch flows through the same admission policy as the batch
  * maintenance form —
  *
  *  1. QUALITY FILTER the batch (the C4/Gopher keep decision);
  *  2. sign the survivors once; PROBE the stored signature table for
  *     near-dups ([[TextDedup.incrementalNearDupsFromSigs]] — the
  *     batch's signatures are computed once and both probed and, in
  *     step 5, appended);
  *  3. ADMISSION: a batch doc matching anything already in the store
  *     is dropped (store wins — first-seen-wins under streaming
  *     arrival order); batch-internal duplicate clusters keep their
  *     min id (connected components over the batch's internal pairs);
  *  4. DECONTAMINATE the admitted increment against the benchmark;
  *  5. APPEND the batch's quality survivors — ADMITTED OR NOT — and
  *     their signatures to the store. Killed docs' signatures must be
  *     stored too: a future twin of a killed doc need not band-match
  *     the doc's own canonical (Jaccard is not transitive), so only
  *     the full seen-set makes first-seen-wins match the batch form's
  *     connected-component kills.
  *
  * BATCH EQUIVALENCE (StreamingPipelineSpec pins it): when micro-
  * batches arrive in ascending doc_id order, the union of admitted
  * increments equals [[graft.queries.PipelineQueries.qPipelineIncr]]'s
  * one-shot output on the same delta, because every duplicate
  * cluster's min id is then FIRST-SEEN: in-batch members die to the CC
  * keep-min, later members die to the store probe against the stored
  * (possibly killed) earlier member — exactly the two kill sets of the
  * batch form. Under arbitrary arrival order the maintainer is still
  * correct streaming semantics (first seen wins), but the canonical
  * choice differs from the batch form's min-id — the standard
  * streaming-vs-batch dedup trade, stated rather than hidden. One
  * sharp edge inherits from the incremental operator: the hot-bucket
  * guard prunes on the POPULATION SEEN SO FAR, so a bucket that only
  * becomes hot later can admit early pairs the full-batch run would
  * have pruned (reference analogue: continuous incremental indexing,
  * index_from_postgres.py:365-376, has the same time-varying view).
  *
  * Scale shape: per batch, only the BATCH is quality-filtered and
  * signed; the store is probed via band equi-joins and its text
  * touched only for verify candidates; the benchmark join is
  * contamination-sized. The in-memory store here stands in for the
  * persisted corpus/signature TABLES production appends to (Delta/
  * Iceberg); a [[Graph.cut]] per batch keeps plan depth constant
  * across batches exactly as a real table boundary would, with
  * superseded cuts unpersisted. Retention of the store is the
  * platform's policy (a signature table is append-only state, not
  * watermark-evictable keyed state — dropping old signatures re-opens
  * the door to re-admitting their duplicates).
  */
class StreamingPipeline(bench: DataFrame,
    baseDocs: DataFrame, baseSigs: DataFrame) {

  private val docCols =
    Seq("doc_id", "text", "source", "n_chars", "n_tokens", "lang_pred")

  private var storeDocs: DataFrame = baseDocs.select(docCols.map(col): _*)
  private var storeSigs: DataFrame = baseSigs.select(col("doc_id"), col("sig"))
  /** Defined from the first processed batch on — from then on the
    * three store frames are all cuts this maintainer pins. */
  private var admittedAcc: Option[DataFrame] = None
  private var lastBatchId: Long = Long.MinValue

  /** The foreachBatch sink: `stream.writeStream.foreachBatch(
    * maintainer.processBatch _)`. Idempotent under Structured
    * Streaming's at-least-once replay: a batchId at or below the last
    * processed one is a replay of work whose effects are already in
    * the store, and is skipped — without this, a replayed survivor
    * would be admitted AGAIN (its own stored copy forms only the
    * self-pair (X, X), which the d1 < d2 canonicalization drops, so no
    * store-match kill would fire). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (batchId <= lastBatchId) return
    // pin SCOPE around the whole batch: the batch's transient cuts
    // (survivors + pair list) and the iterative operators' result pins
    // (connectedComponents' label cut, the incremental near-dup
    // candidate cut) are consumed into this batch's store cuts by the
    // commit point, and the scope releases them when the batch ends,
    // success or failure — without it each batch (failed or replayed
    // ones included) would park dead block sets in the session
    // registry for the life of the stream
    graft.Staging.pinScope { processBatchScoped(batch, batchId) }
  }

  private def processBatchScoped(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // the batch's quality survivors fan out to every stage below
    // (signatures, probe, kill-set joins, decontaminate, store append)
    // — cut once so the quality kernels run once per batch, the same
    // single-derivation discipline as the pipeline gate's staged tables
    val q = graft.Staging.registerPinned(spark, Graph.cut(
      graft.queries.LlmQueries.qualitySurvivors(
        batch.select(col("doc_id"), col("text"), col("source"),
          col("n_chars")))))
    val deltaSigs = q.select(col("doc_id"),
        graft.functions.NativeText.minhashSig(
          split(col("text"), " "), 3).as("sig"))
      .where(size(col("sig")) > 0)
    val pairs = graft.Staging.registerPinned(spark, Graph.cut(
      TextDedup.incrementalNearDupsFromSigs(
        storeDocs, storeSigs, q, deltaSigs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)))
    // classify endpoints: store ids and batch ids are disjoint, so a
    // pair is batch-internal iff BOTH endpoints are batch docs
    val batchIds = q.select(col("doc_id"))
    val marked = pairs
      .join(batchIds.select(col("doc_id").as("d1"),
        lit(true).as("_b1")), Seq("d1"), "left")
      .join(batchIds.select(col("doc_id").as("d2"),
        lit(true).as("_b2")), Seq("d2"), "left")
    val storeMatched = marked
      .where(coalesce(col("_b1"), lit(false)) =!=
        coalesce(col("_b2"), lit(false)))
      .select(when(coalesce(col("_b1"), lit(false)), col("d1"))
        .otherwise(col("d2")).as("_kill"))
      .distinct()
    val internal = marked
      .where(coalesce(col("_b1"), lit(false)) &&
        coalesce(col("_b2"), lit(false)))
      .select(col("d1"), col("d2"))
    val labels = Graph.connectedComponents(internal, "d1", "d2")
    val afterStore = q.join(storeMatched,
      q("doc_id") === col("_kill"), "left_anti")
    val deduped = Graph.dropDuplicates(afterStore, "doc_id", labels)
    val flagged = Corpus.decontaminate(deduped, bench, "doc_id", "text")
    val admittedBatch = deduped
      .join(flagged.select(col("doc_id")).distinct(), Seq("doc_id"),
        "left_anti")
      .select(col("doc_id"), col("source"), col("lang_pred"),
        col("n_tokens"), col("n_chars"))
    // append EVERY quality survivor (and its signature) to the store;
    // cut per batch so plan depth stays constant across the stream.
    // ALL three cuts materialize BEFORE any store ref is swapped or
    // any superseded block released: a cut that fails mid-batch then
    // leaves the maintainer exactly as it was (old refs still valid,
    // old blocks still pinned, lastBatchId unadvanced), so the
    // at-least-once replay of the same batchId re-runs it cleanly
    // instead of being skipped against a half-updated store; a cut
    // that throws releases the store cuts made before it
    val next = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try Seq(
        storeDocs.unionByName(q.select(docCols.map(col): _*)),
        storeSigs.unionByName(deltaSigs),
        admittedAcc.map(_.unionByName(admittedBatch)).getOrElse(admittedBatch)
      ).foreach(df => next += Graph.cut(df))
    catch { case t: Throwable => next.foreach(Graph.release); throw t }
    // commit point — nothing below throws; close() releases the
    // superseded store cuts
    close()
    storeDocs = next(0); storeSigs = next(1); admittedAcc = Some(next(2))
    // recorded LAST, inside the commit section: a batch remembered as
    // processed before its effects land would be dropped on replay
    lastBatchId = batchId
  }

  /** Union of all admitted increments so far. */
  def admitted: DataFrame = admittedAcc.getOrElse(
    storeDocs.select(col("doc_id"), col("source"), col("lang_pred"),
      col("n_tokens"), col("n_chars")).limit(0))

  /** Release every lineage-cut block this maintainer pinned (call once
    * consumers of [[admitted]] have materialized). */
  def close(): Unit = synchronized {
    admittedAcc.foreach(a => Seq(storeDocs, storeSigs, a).foreach(Graph.release))
  }
}
