package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{DataType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Project N keys out of a `map<string,string>` column in ONE pass.
  *
  * The grabAll enrichment reads ~60 fields from the raw `data` map; as
  * individual `element_at` calls each read is a LINEAR scan of the map's
  * key array — ~2 400 string compares per row on a 40-key record — and
  * each generates its own loop (the single biggest bytecode block left
  * in the enrich span). This expression walks the map's entries once,
  * probing a prebuilt key→slot hash table, and emits one struct; per-row
  * cost is O(|map|) probes and the generated code is one static call
  * plus cheap GetStructField reads.
  *
  * `normalize = true` applies getField's `lower(trim(value))`
  * normalization in-kernel (UTF8String.trim/toLowerCase — the exact
  * kernels Spark's own trim/lower expressions call), so
  * `mapFields(data, keys)(k)` ≡ `lower(trim(element_at(data, k)))`,
  * parity-pinned in EnrichSpec.
  *
  * Hand-written rather than a declared [[Kernel]], like
  * [[StructScoreExpr]]: the key→slot table is lazy per-expression
  * state that the generated code reaches through a reference object.
  */
case class MapFieldsExpr(child: Expression, keys: Seq[String],
    normalize: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case MapType(StringType, StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"map_fields needs map<string,string>, got ${other.catalogString}")
  }
  override def dataType: DataType =
    StructType(keys.map(k => StructField(k, StringType, nullable = true)))
  // a null map yields a null struct (whose field reads are null — the
  // same result element_at(null_map, k) gave); claiming non-null here
  // made codegen skip the child null check and NPE on null `data` rows
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "map_fields"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"${keys.size} keys", normalize)

  @transient private lazy val slotOf: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](keys.size * 2)
    keys.zipWithIndex.foreach { case (k, i) =>
      m.put(UTF8String.fromString(k), Integer.valueOf(i))
    }
    m
  }

  def project(map: MapData): GenericInternalRow = {
    val out = new Array[Any](keys.length)
    val found = new Array[Boolean](keys.length)
    val ks = map.keyArray(); val vs = map.valueArray()
    var i = 0
    val n = map.numElements()
    while (i < n) {
      val slot = slotOf.get(ks.getUTF8String(i))
      // first occurrence wins, null values included — element_at scans
      // forward and returns the first hit, so a duplicate-keyed map
      // (possible from external sources) must resolve identically
      if (slot != null && !found(slot.intValue())) {
        found(slot.intValue()) = true
        if (!vs.isNullAt(i)) {
          val v = vs.getUTF8String(i)
          out(slot.intValue()) = if (normalize) v.trim().toLowerCase else v
        }
      }
      i += 1
    }
    new GenericInternalRow(out)
  }

  protected override def nullSafeEval(map: Any): Any =
    project(map.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mapFields", this, classOf[MapFieldsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.project($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MapFieldsExpr =
    copy(child = newChild)
}

object MapFields {
  /** One-pass multi-key map projection; field `k` of the result is
    * `lower(trim(element_at(m, k)))` when `normalize`, else the raw
    * value. Missing keys and null values are null fields. */
  def apply(m: Column, keys: Seq[String], normalize: Boolean = true): Column =
    GraftSqlBridge.column(MapFieldsExpr(GraftSqlBridge.expression(m),
      keys, normalize))

  /** Weighted non-null count over named struct fields — the verbatim
    * data-quality score fold (`Σ when(f.isNotNull, w)`) as one loop. */
  def structScore(struct: Column, weights: Seq[(String, Int)]): Column =
    GraftSqlBridge.column(StructScoreExpr(GraftSqlBridge.expression(struct),
      weights))
}

/** Σ weight(field) over non-null struct fields: the ~40-branch
  * when/isNotNull fold of the enrich verbatim score as a single pass
  * (parity-pinned in EnrichSpec against the fold form). Its field
  * slots are lazy per-expression state, and a null struct scores 0
  * rather than null. */
case class StructScoreExpr(child: Expression, weights: Seq[(String, Int)])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: org.apache.spark.sql.types.StructType
        if weights.forall(w => s.fieldNames.contains(w._1)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"struct_score needs a struct with all scored fields, got ${other.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "struct_score"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"${weights.size} weighted fields")

  @transient private lazy val slots: Array[(Int, Int)] = {
    val fields = child.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    weights.map { case (n, w) => fields.indexOf(n) -> w }.toArray
  }

  def score(row: org.apache.spark.sql.catalyst.InternalRow): Int = {
    // a null struct scores 0 — every field of it "is null", exactly the
    // when/isNotNull fold's result (mirrors decimal_exponent's
    // null→0 contract rather than crashing or leaking a fake null)
    if (row == null) return 0
    var total = 0
    var i = 0
    while (i < slots.length) {
      if (!row.isNullAt(slots(i)._1)) total += slots(i)._2
      i += 1
    }
    total
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    score(child.eval(input)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("structScore", this, classOf[StructScoreExpr].getName)
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      int ${ev.value} = ${childGen.isNull} ? 0 :
        $ref.score(${childGen.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): StructScoreExpr =
    copy(child = newChild)
}
