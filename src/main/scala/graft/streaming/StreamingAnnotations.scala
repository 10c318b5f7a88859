package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Graph
import graft.store.RecordStore

/** The STREAMING twin of the annotations upsert (q_annotations):
  * the reference's loader (idb/annotations loader.py:20-50) IS a
  * continuously-fed `INSERT ... ON CONFLICT DO UPDATE` — submissions
  * arrive forever and the store converges row by row. This maintainer
  * is that loader's plan-level re-expression: each arriving
  * micro-batch collapses to its own per-source_id upsert aggregate
  * ([[RecordStore.annotationsUpsert]] — first-insert identity via
  * min_by, last-write body via max_by, carried first/last arrival
  * keys), and the store merges by the same algebra
  * ([[RecordStore.annotationsMerge]]) — exact mergeable sufficient
  * statistics, so the maintained store equals the batch gate's
  * aggregate over the union log in ANY arrival order.
  *
  * Store shape: grows with distinct source_ids (the conflict-key
  * domain) — a lineage-cut DataFrame swapped per batch under the
  * shared commit-point protocol; at 100 TB it is the annotations
  * table itself, merged by key per ingest batch, never re-scanned
  * from the raw submission log. The admission log carries each
  * batch's own upsert aggregate (what the batch tried to write — the
  * reference's per-request audit surface), releasable after drain.
  *
  * Contracts (StreamingAnnotationsSpec pins all of these):
  *  - STORE EXACTNESS, ORDER-FREE: after any batch split, in any
  *    arrival order, the store equals
  *    [[RecordStore.annotationsUpsert]] of the union log (arrival
  *    keys are globally unique by the submission-log contract).
  *  - AT-LEAST-ONCE REPLAY: committed batchIds are skipped BEFORE
  *    any work; a mid-flight failure leaves the store, the log, and
  *    `lastBatchId` untouched, so the replay re-runs cleanly.
  */
class StreamingAnnotations(spark: SparkSession)
    extends AdmissionLogMaintainer {

  private val storeSchema = StructType(Seq(
    StructField("source_id", StringType),
    StructField("uuids_id", StringType),
    StructField("v", StringType),
    StructField("source", StringType),
    StructField("approved", BooleanType),
    StructField("updated_at", TimestampNTZType),
    StructField("n_submits", LongType),
    StructField("first_arr", LongType),
    StructField("last_arr", LongType)))

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Lazily initialized on the FIRST batch (the store adopts the
    * batch's own column types — updated_at has shipped as both
    * TIMESTAMP_NTZ and nanos-long across fixture generations, and a
    * union against a pre-declared empty frame would pin one of them). */
  private var store: Option[DataFrame] = None

  /** The foreachBatch sink: `stream.writeStream.foreachBatch(
    * maintainer.processBatch _)`. Batch rows carry the submission-log
    * shape (source_id, uuids_id, v, source, approved, updated_at,
    * arr). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    // replay guard FIRST: a replayed batch must not pay (or leak) the
    // state-frame cut below
    if (committed(batchId)) return
    withPersisted(batch) { b =>
      val agg = RecordStore.annotationsUpsert(b)
      val newStore = Graph.cut(
        store.map(st => RecordStore.annotationsMerge(st, agg))
          .getOrElse(agg))
      try {
        commit(batchId) {
          agg.withColumn("batch_id", lit(batchId))
        } {
          // plain assignments first (must not throw), then release
          // the superseded state blocks
          val old = store
          store = Some(newStore)
          old.foreach(Graph.release)
        }
      } catch {
        case t: Throwable => Graph.release(newStore); throw t
      }
    }
  }

  /** The maintained upsert store (incl. the first/last arrival keys
    * that make it mergeable); project them away for the gate-shaped
    * view. Before the first commit: an empty frame in the canonical
    * schema. */
  def storeTable: DataFrame =
    synchronized(store.getOrElse(emptyFrame(storeSchema)))

  /** The per-batch upsert-aggregate admission log of every committed,
    * not-yet-released batch. */
  def admitted: DataFrame = synchronized {
    logFrames.reduceLeftOption(_ unionByName _)
      .getOrElse(emptyFrame(storeSchema.add(
        StructField("batch_id", LongType, nullable = false))))
  }

  /** Release admission-log entries of batches `<= upToBatchId`
    * (their blocks unpersist); the store is untouched. */
  def releaseAdmitted(upToBatchId: Long): Unit = releaseLog(upToBatchId)
}
