package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** A plan-time int parameter of a kernel, passed to the kernel method
  * as a literal after the column inputs. `sqlDefault` fills it when a
  * SQL call omits it; values outside `[min, max]` are rejected when the
  * call is built. */
final case class IntParam(what: String, sqlDefault: Option[Int] = None,
    min: Int = Int.MinValue, max: Int = Int.MaxValue)

/** The input-type check of a kernel: `accepts` over the input types,
  * else analysis fails with `TypeCheckFailure(s"$name $needs(types)")`. */
final case class Signature(arity: Int, accepts: Seq[DataType] => Boolean,
    needs: Seq[DataType] => String)

/** One native kernel, declared once: its SQL / pretty name, the kernel
  * object and method, the result type, the input check, the literal
  * int parameters, and the parameters derived from the resolved input
  * types (array<float> vs array<double> for the vector kernels).
  *
  * A call binds as `StaticInvoke(kernel, resultType, method, inputs ++
  * ints ++ typeParams)`: generated code is one static call into the
  * kernel object, and the interpreted path reflects on the same method,
  * so there is no second evaluation path to keep in step. A null input
  * gives a null result (`propagateNull`), unless the kernel handles
  * null itself (`nullSafe`); `nullableResult` marks kernels that return
  * null for some non-null inputs.
  *
  * Declarations are stable values (the vals of [[Kernels]]), so two
  * builds of one column are equal expressions and Staging / CacheManager
  * `sameResult` and Exchange reuse still match them. */
final class Kernel(
    val name: String,
    kernel: AnyRef,
    val method: String,
    resultType: DataType,
    val signature: Signature,
    val ints: Seq[IntParam] = Nil,
    typeParams: Seq[DataType] => Seq[Boolean] = _ => Nil,
    nullSafe: Boolean = false,
    nullableResult: Boolean = false) extends Serializable {

  val kernelClass: Class[_] = kernel.getClass

  /** The Column form; `intArgs` in declaration order. */
  def apply(inputs: Seq[Column], intArgs: Int*): Column =
    GraftSqlBridge.column(KernelCall(this,
      inputs.map(GraftSqlBridge.expression), intArgs))

  def check(types: Seq[DataType]): TypeCheckResult =
    if (signature.accepts(types)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name ${signature.needs(types)}")

  def bind(inputs: Seq[Expression], intArgs: Seq[Int]): Expression =
    StaticInvoke(kernelClass, resultType, method,
      inputs ++ intArgs.map(Literal(_)) ++
        typeParams(inputs.map(_.dataType)).map(Literal(_)),
      propagateNull = !nullSafe, returnNullable = nullableResult)

  /** The SQL function: (name, info, builder). Int parameters must be
    * integer literals; a trailing one with a `sqlDefault` may be
    * omitted. */
  def sqlFunction: (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[KernelCall].getName, name),
      (es: Seq[Expression]) => {
        val (inputs, rest) = es.splitAt(signature.arity)
        require(rest.length <= ints.length,
          s"$name takes ${signature.arity} inputs and up to ${ints.length} int parameters")
        KernelCall(this, inputs, ints.zipWithIndex.map { case (p, i) =>
          if (i < rest.length) Kernel.intLit(rest(i), p.what)
          else p.sqlDefault.getOrElse(throw new IllegalArgumentException(
            s"$name needs its ${p.what}"))
        })
      })

  override def toString: String = name
}

object Kernel {
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def catalog(ts: Seq[DataType]): Seq[String] = ts.map(_.catalogString)

  /** "needs <what>, got <t>" */
  def unary(what: String, ok: DataType => Boolean): Signature =
    Signature(1, ts => ok(ts.head), ts => s"needs $what, got ${ts.head.catalogString}")

  /** "needs (<a>, <b>)" */
  def pair(what: String, ok: (DataType, DataType) => Boolean): Signature =
    Signature(2, ts => ok(ts(0), ts(1)), _ => s"needs $what")

  /** "needs (<a>, <b>), got (<l>, <r>)" */
  def pairGot(what: String, ok: (DataType, DataType) => Boolean): Signature =
    Signature(2, ts => ok(ts(0), ts(1)),
      ts => s"needs $what, got ${catalog(ts).mkString("(", ", ", ")")}")

  /** "needs <what> operands, got <l> and <r>" */
  def operands(what: String, ok: DataType => Boolean): Signature =
    Signature(2, ts => ts.forall(ok),
      ts => s"needs $what operands, got ${catalog(ts).mkString(" and ")}")

  val words: DataType => Boolean = {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  val floatOrDoubleArray: DataType => Boolean = {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  val isFloatArray: DataType => Boolean = {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  def arrayOf(e: DataType): DataType => Boolean = {
    case ArrayType(`e`, _) => true
    case _ => false
  }
}

/** A call of a declared [[Kernel]]: analyzed as itself (name, input
  * check, result type), replaced at optimization by the kernel's
  * `StaticInvoke`. */
case class KernelCall(kernel: Kernel, children: Seq[Expression], ints: Seq[Int])
    extends RuntimeReplaceable {
  require(children.length == kernel.signature.arity &&
    ints.length == kernel.ints.length, s"${kernel.name} takes " +
    s"${kernel.signature.arity} inputs and ${kernel.ints.length} int parameters")
  kernel.ints.zip(ints).foreach { case (p, v) =>
    require(v >= p.min && v <= p.max,
      s"${kernel.name}: ${p.what} must be in [${p.min}, ${p.max}], got $v")
  }

  override lazy val replacement: Expression = kernel.bind(children, ints)
  override def checkInputDataTypes(): TypeCheckResult =
    kernel.check(children.map(_.dataType))
  override def prettyName: String = kernel.name
  override def stringArgs: Iterator[Any] = children.iterator ++ ints.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

/** Every declared kernel. GraftFunctions registers the SQL-exposed
  * ones; KernelBindingSpec iterates the whole list. */
object Kernels {
  import Kernel._

  private val longs = ArrayType(LongType, containsNull = false)
  private val shingleSize = IntParam("shingle size", Some(3), min = 1)

  // --- text (NativeText) ---
  val minhashSig = new Kernel("minhash_sig", MinhashKernel, "sig", longs,
    unary("array<string>", words), Seq(shingleSize))
  val simhash60 = new Kernel("simhash60", MinhashKernel, "simhash60", LongType,
    unary("array<string>", words))
  val featureHash = new Kernel("feature_hash", MinhashKernel, "featureHash", longs,
    unary("array<string>", words), Seq(IntParam("dim", min = 1)))
  val shingleHashes = new Kernel("shingle_hashes", MinhashKernel, "shingleHashes",
    longs, unary("array<string>", words), Seq(shingleSize))
  val shingles = new Kernel("shingles", MinhashKernel, "shingles",
    ArrayType(StringType, containsNull = false), unary("array<string>", words),
    Seq(shingleSize))
  val spanHashes = new Kernel("span_hashes", MinhashKernel, "spanHashes", longs,
    unary("array<string>", words), Seq(IntParam("span size", min = 1)))
  val repetitionStats = new Kernel("repetition_stats", MinhashKernel,
    "repetitionStats", StructType(Seq("n_words", "n_distinct", "top2", "dup2", "top3")
      .map(StructField(_, LongType, nullable = false))),
    unary("array<string>", words))
  val bleuClip = new Kernel("bleu_clip", MinhashKernel, "bleuClip",
    StructType(Seq("c1", "c2").map(StructField(_, LongType, nullable = false))),
    pairGot("(array<string>, array<string>)", (l, r) => words(l) && words(r)))
  val dsirScore = new Kernel("dsir_score", MinhashKernel, "dsirScore", LongType,
    pairGot("(array<string>, array<bigint>)",
      (l, r) => words(l) && arrayOf(LongType)(r)),
    Seq(IntParam("dim", min = 1)))
  val sciParse = new Kernel("sci_parse", MinhashKernel, "sciParse",
    StructType(Seq(
      StructField("genus", StringType, nullable = true),
      StructField("epithet", StringType, nullable = true),
      StructField("year", IntegerType, nullable = true),
      StructField("basionym_authors", ArrayType(StringType), nullable = true),
      StructField("combination_authors", ArrayType(StringType), nullable = true))),
    unary("string", _ == StringType))
  val dateShape = new Kernel("date_shape", MinhashKernel, "dateShape", IntegerType,
    unary("string", _ == StringType))
  // 0, not null, for a null input: the Column form's when(rlike) over a
  // null condition falls to its otherwise(0) branch
  val decimalExponent = new Kernel("decimal_exponent", MinhashKernel,
    "decimalExponent", IntegerType, unary("string", _ == StringType),
    nullSafe = true)
  val firstNumber = new Kernel("first_number", MinhashKernel, "firstNumber",
    StringType, unary("string", _ == StringType), nullableResult = true)

  // --- vectors (NativeMath) ---
  val dotProduct = new Kernel("dot_product", MathKernel, "dot", DoubleType,
    operands("array<float|double>", floatOrDoubleArray),
    typeParams = _.map(isFloatArray))
  val int8Quantize = new Kernel("int8_quantize", MathKernel, "int8Quantize",
    ArrayType(ByteType, containsNull = false),
    unary("array<float|double>", floatOrDoubleArray),
    typeParams = ts => Seq(isFloatArray(ts.head)))
  val int8Dot = new Kernel("int8_dot", MathKernel, "int8Dot", LongType,
    operands("array<byte>", arrayOf(ByteType)))
  private val pqInputs = pair("(array<float|double>, array<double>)",
    (l, r) => floatOrDoubleArray(l) && r.isInstanceOf[ArrayType])
  val pqEncode = new Kernel("pq_encode", MathKernel, "pqEncode",
    ArrayType(ByteType, containsNull = false), pqInputs,
    Seq(IntParam("m"), IntParam("k")), ts => Seq(isFloatArray(ts.head)))
  val pqDistTable = new Kernel("pq_dist_table", MathKernel, "pqDistTable",
    ArrayType(DoubleType, containsNull = false), pqInputs,
    Seq(IntParam("m"), IntParam("k")), ts => Seq(isFloatArray(ts.head)))
  val pqAdc = new Kernel("pq_adc", MathKernel, "pqAdc", DoubleType,
    pair("(array<byte>, array<double>)",
      (l, r) => arrayOf(ByteType)(l) && arrayOf(DoubleType)(r)),
    Seq(IntParam("k")))

  // --- Bloom, Geohash, StringSim ---
  val mightContain = new Kernel("might_contain", BloomKernel, "contains",
    BooleanType, pair("(binary bloom, bigint key)",
      (l, r) => l == BinaryType && r == LongType),
    Seq(IntParam("numHashes", Some(5))))
  val geohash = new Kernel("geohash", GeohashKernel, "encode", StringType,
    pair("(double lat, double lon)", (l, r) => l == DoubleType && r == DoubleType),
    Seq(IntParam("precision", Some(9), min = 1, max = 12)))
  val jaroWinkler = new Kernel("jaro_winkler", StringSimKernel, "jaroWinkler",
    DoubleType, pair("(string, string)", (l, r) => l == StringType && r == StringType))

  val all: Seq[Kernel] = Seq(minhashSig, simhash60, featureHash, shingleHashes,
    shingles, spanHashes, repetitionStats, bleuClip, dsirScore, sciParse,
    dateShape, decimalExponent, firstNumber, dotProduct, int8Quantize, int8Dot,
    pqEncode, pqDistTable, pqAdc, mightContain, geohash, jaroWinkler)
}
