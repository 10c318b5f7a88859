package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-constant dictionary lookup as a single O(1) hash probe.
  *
  * The engine's vocabulary tables (103 license keys, 313 taxon-rank
  * renames, datum aliases, per-datum ellipsoid constants) were folded
  * into `when(x === k1, v1).when(x === k2, v2)…` chains — correct, but
  * each reference generates hundreds of string compares: the 5-candidate
  * license stage alone emitted ~40 KB of bytecode in one method, far
  * past HotSpot's 8 000-byte JIT ceiling, so the whole fused span ran
  * interpreted (or was compiled and discarded under
  * spark.sql.codegen.hugeMethodLimit). This expression replaces every
  * such chain with one java.util.HashMap probe against a broadcast-free
  * reference object — ~30 bytes of generated code per use, constant
  * time per row, identical null-when-absent semantics.
  *
  * The license when-chain remains in the specs as
  * `GrabberForms.licenseKey`, the executable specification
  * EnrichMediaSpec pins this probe against over the full key set plus
  * misses and null.
  *
  * Hand-written rather than a declared [[Kernel]]: the table is a
  * reference object built once per expression, and the plan string
  * prints it by name and size rather than as its entries.
  */
case class StaticLookupExpr(child: Expression, tableName: String,
    entries: Map[String, Any], valueType: DataType)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"static_lookup needs a string key, got ${other.catalogString}")
  }
  override def dataType: DataType = valueType
  override def nullable: Boolean = true
  override def prettyName: String = "static_lookup"
  // keep the plan string readable: the table prints as its name, not
  // as hundreds of entries
  override def stringArgs: Iterator[Any] =
    Iterator(child, tableName, s"${entries.size} entries")

  @transient private lazy val table: java.util.HashMap[UTF8String, Any] = {
    val m = new java.util.HashMap[UTF8String, Any](entries.size * 2)
    entries.foreach { case (k, v) =>
      m.put(UTF8String.fromString(k), v match {
        case s: String => UTF8String.fromString(s)
        case d: Double => java.lang.Double.valueOf(d)
        case i: Int => java.lang.Integer.valueOf(i)
        case other => throw new IllegalArgumentException(
          s"unsupported lookup value $other")
      })
    }
    m
  }

  protected override def nullSafeEval(key: Any): Any =
    table.get(key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lookupTable", table, "java.util.HashMap")
    val unbox = valueType match {
      case StringType => "(org.apache.spark.unsafe.types.UTF8String) r"
      case DoubleType => "((java.lang.Double) r).doubleValue()"
      case IntegerType => "((java.lang.Integer) r).intValue()"
      case other => throw new IllegalStateException(s"unsupported $other")
    }
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $ref.get($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $unbox; }""")
  }

  override protected def withNewChildInternal(newChild: Expression): StaticLookupExpr =
    copy(child = newChild)
}

object StaticLookup {
  /** String-valued dictionary probe; null when the key is absent. */
  def apply(key: Column, name: String, entries: Map[String, String]): Column =
    GraftSqlBridge.column(StaticLookupExpr(
      GraftSqlBridge.expression(key), name, entries, StringType))

  /** Double-valued dictionary probe (e.g. per-datum ellipsoid constants). */
  def double(key: Column, name: String, entries: Map[String, Double]): Column =
    GraftSqlBridge.column(StaticLookupExpr(
      GraftSqlBridge.expression(key), name, entries, DoubleType))
}
