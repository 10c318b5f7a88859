package graft.streaming

import graft.operators.Graph
import org.apache.spark.sql.DataFrame

/** The shared commit-point protocol of the foreachBatch admission-log
  * maintainers ([[StreamingDsir]], [[StreamingMixture]]): the
  * at-least-once replay guard, the releasable log of per-batch
  * lineage cuts, and the cut-then-swap commit ordering — ONE
  * definition so a commit-point fix can never miss a twin (the
  * repo's own history has round-close reviews fixing exactly this
  * class of bug in hand-rolled copies). Decision-state merging stays
  * in the concrete maintainer — it is what differs between twins.
  *
  * [[StreamingPipeline]] intentionally does NOT extend this: its
  * batch commits THREE interdependent cuts with superseded-block
  * release, a protocol this single-cut log cannot express.
  */
private[streaming] abstract class AdmissionLogMaintainer {

  private var log: Vector[(Long, DataFrame)] = Vector.empty
  private var lastBatchId: Long = Long.MinValue

  /** True iff `batchId` is an at-least-once replay of a batch already
    * committed — maintainers whose per-batch work is expensive (state-
    * frame cuts) check this FIRST and skip the build entirely. */
  protected final def committed(batchId: Long): Boolean =
    synchronized(batchId <= lastBatchId)

  /** Commit `batchId` unless it is an at-least-once replay of a batch
    * already in the store. `build` produces the batch's output frame;
    * its lineage cut materializes FIRST, then `swap` advances the
    * maintainer's decision state, and only after swap succeeds do the
    * log entry and the replay guard land TOGETHER — a failure anywhere
    * in build/cut/swap leaves the log, the state, and the replay guard
    * untouched (the cut's blocks are released on a swap failure), so
    * the replay re-runs the batch cleanly with no duplicate log rows. */
  protected final def commit(batchId: Long)(build: => DataFrame)(
      swap: => Unit): Unit = synchronized {
    if (batchId <= lastBatchId) return
    val cutDf = Graph.cut(build)
    try swap
    catch {
      case t: Throwable => Graph.release(cutDf); throw t
    }
    log :+= ((batchId, cutDf))
    lastBatchId = batchId
  }

  /** Release a state frame superseded inside `swap`. Every commit swaps
    * in a cut, so the state is a cut once any batch has committed;
    * before that it is the maintainer's driver-local empty leaf, which
    * pins nothing. */
  protected final def releaseState(old: DataFrame): Unit =
    if (lastBatchId != Long.MinValue) Graph.release(old)

  /** The committed, not-yet-released batch frames, oldest first. */
  protected final def logFrames: Vector[DataFrame] =
    synchronized(log.map(_._2))

  /** Release log entries of batches `<= upToBatchId` (their blocks
    * unpersist) — the drain-then-release discipline; decision state
    * is untouched. */
  protected final def releaseLog(upToBatchId: Long): Unit = synchronized {
    val (drop, keep) = log.partition(_._1 <= upToBatchId)
    drop.foreach(e => Graph.release(e._2))
    log = keep
  }

  /** Evaluate `body` with `batch` persisted: every maintainer runs at
    * least two actions over the arriving micro-batch (the bounded
    * decision-state aggregate, then the output cut) — without the
    * persist each action re-evaluates the batch's source. */
  protected final def withPersisted[T](batch: DataFrame)(
      body: DataFrame => T): T = {
    val b = batch.persist()
    try body(b)
    finally b.unpersist(blocking = false)
  }
}
