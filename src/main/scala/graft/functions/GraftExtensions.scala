package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The graft session extensions: the native SQL functions plus the
  * planner strategies (TopKStrategy, CodegenBarrierStrategy) and
  * optimizer rules (BarrierPushdown, GeohashPruning) that only this
  * hook registers. Every session built by [[graft.Session]] — each main
  * and the specs' shared session — carries it via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (the standard
  * SparkSessionExtensions hook — survives session forks and reaches
  * every session of the application).
  *
  * For an already-running session built elsewhere (a notebook),
  * `GraftFunctions.register(spark)` registers the SQL functions only —
  * not the strategies or rules.
  *
  * Either way, `spark.sql("SELECT minhash_sig(split(text, ' '), 3)
  * ...")` plans the same Catalyst expression the DataFrame API uses —
  * both build a call of the one declared [[Kernel]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // whole-operator tier: the heap-based top-k-per-group physical plan
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // codegen span splitter for the wide enrichment pipelines; the
    // pushdown rule interleaves with the operator-optimization batch here
    ext.injectPlannerStrategy(_ => graft.plans.CodegenBarrierStrategy)
    ext.injectOptimizerRule(_ => graft.plans.BarrierPushdown)
    // bbox → geohash partition pruning on ghash<p>-partitioned lakes
    ext.injectOptimizerRule(_ => graft.plans.GeohashPruning)
  }
}

object GraftFunctions {

  /** (name, info, builder) for every SQL-exposed native kernel. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(Kernels.minhashSig, Kernels.simhash60, Kernels.repetitionStats,
      Kernels.dotProduct, Kernels.shingleHashes, Kernels.sciParse,
      Kernels.dateShape, Kernels.geohash, Kernels.mightContain,
      Kernels.int8Quantize, Kernels.int8Dot).map(_.sqlFunction)

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
