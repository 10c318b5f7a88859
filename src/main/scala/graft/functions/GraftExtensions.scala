package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

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
  * the SQL surface and the Column surface share one implementation.
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

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, info, builder) for every SQL-exposed native expression. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("minhash_sig",
      new ExpressionInfo(classOf[MinhashSigExpr].getName, "minhash_sig"),
      (es: Seq[Expression]) => MinhashSigExpr(es.head,
        if (es.length > 1) intLit(es(1), "shingle size") else 3)),
    ("simhash60",
      new ExpressionInfo(classOf[Simhash60Expr].getName, "simhash60"),
      (es: Seq[Expression]) => Simhash60Expr(es.head)),
    ("repetition_stats",
      new ExpressionInfo(classOf[RepetitionStatsExpr].getName, "repetition_stats"),
      (es: Seq[Expression]) => RepetitionStatsExpr(es.head)),
    ("dot_product",
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (es: Seq[Expression]) => DotProductExpr(es(0), es(1))),
    ("shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "shingle_hashes"),
      (es: Seq[Expression]) => ShingleHashesExpr(es.head,
        if (es.length > 1) intLit(es(1), "shingle size") else 3)),
    ("sci_parse",
      new ExpressionInfo(classOf[SciParseExpr].getName, "sci_parse"),
      (es: Seq[Expression]) => SciParseExpr(es.head)),
    ("date_shape",
      new ExpressionInfo(classOf[DateShapeExpr].getName, "date_shape"),
      (es: Seq[Expression]) => DateShapeExpr(es.head)),
    ("geohash",
      new ExpressionInfo(classOf[GeohashExpr].getName, "geohash"),
      (es: Seq[Expression]) => GeohashExpr(es(0), es(1),
        if (es.length > 2) intLit(es(2), "precision") else 9)),
    ("might_contain",
      new ExpressionInfo(classOf[MightContainExpr].getName, "might_contain"),
      (es: Seq[Expression]) => MightContainExpr(es(0), es(1),
        if (es.length > 2) intLit(es(2), "numHashes") else 5)),
    ("int8_quantize",
      new ExpressionInfo(classOf[Int8QuantizeExpr].getName, "int8_quantize"),
      (es: Seq[Expression]) => Int8QuantizeExpr(es.head)),
    ("int8_dot",
      new ExpressionInfo(classOf[Int8DotExpr].getName, "int8_dot"),
      (es: Seq[Expression]) => Int8DotExpr(es(0), es(1))),
  )

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
