package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import scala.util.{Failure, Success, Try}

/** Every declared kernel ([[Kernels.all]]), driven through both
  * evaluation paths: whole-stage codegen with `CODEGEN_ONLY` against
  * `NO_CODEGEN`, on null, empty and typical inputs of every input-type
  * combination its signature accepts. A kernel declared later is
  * covered with no edit here. The frames are RDD-backed, so the
  * optimizer cannot fold a projection over local rows itself. */
class KernelBindingSpec extends SparkSpec {

  /** Candidate input types; a kernel is driven with every combination
    * of them its signature accepts. */
  private val pool: Seq[DataType] = Seq(StringType, ArrayType(StringType),
    ArrayType(FloatType), ArrayType(DoubleType), ArrayType(LongType),
    ArrayType(ByteType), BinaryType, LongType, DoubleType)

  private def emptyOf(t: DataType): Any = t match {
    case StringType => ""
    case BinaryType => Array.emptyByteArray
    case _: ArrayType => Seq.empty
    case LongType => 0L
    case DoubleType => 0.0
  }

  // short numeric arrays on purpose: pq_adc reads table(i·k + code_i)
  // and dsir_score wants an llr table of `dim` entries, both at the
  // int parameter value 2 that `intArg` picks
  private def typicalOf(t: DataType): Seq[Any] = t match {
    case StringType => Seq("Acer rubrum (L.) Sm. 1771", "5-MAR-2001",
      "12/31/1999", "about 1,234.50 m", "-3.250", "martha")
    case ArrayType(StringType, _) => Seq(
      Seq("the", "cat", "sat", "on", "the", "mat"),
      Seq("a", "b", "a", "b", "a", "b", "c"), Seq("solo"),
      Seq("wörds", "welt", "café", "東京", "wörds", "welt"))
    case ArrayType(FloatType, _) => Seq(Seq(1.5f, -2.0f), Seq(0.25f, 3.0f))
    case ArrayType(DoubleType, _) => Seq(Seq(0.5, -1.0, 2.0, 4.0),
      Seq(-0.125, 8.0, 1.0, 0.0))
    case ArrayType(LongType, _) => Seq(Seq(10L, -20L), Seq(7L, 3L))
    case ArrayType(ByteType, _) => Seq(Seq[Byte](1, 0), Seq[Byte](0, 1))
    case BinaryType => Seq(Array.tabulate(64)(i => (i * 37).toByte),
      Array.fill[Byte](8)(-1))
    case LongType => Seq(50L, 1234567L)
    case DoubleType => Seq(57.64911, 10.40744, -33.9, 151.2)
  }

  /** Input types and typical rows, for every accepted combination of
    * pool types. Row i takes typical value i + j of input j, so
    * same-typed inputs differ. */
  private def typicalRows(types: Seq[DataType]): Seq[Seq[Any]] = {
    val vals = types.map(typicalOf)
    (0 until vals.map(_.length).max).map(i =>
      vals.zipWithIndex.map { case (vs, j) => vs((i + j) % vs.length) })
  }

  /** The product-quantization kernels read the codebook by the vector's
    * layout (m·k·(len/m) doubles), so they run on consistent pairs. */
  private val pqCases: Seq[(Seq[DataType], Seq[Seq[Any]])] = Seq(
    Seq(ArrayType(FloatType), ArrayType(DoubleType)) -> Seq(
      Seq(Seq(1.5f, -2.0f), Seq(0.5, -1.0, 2.0, 4.0))),
    Seq(ArrayType(DoubleType), ArrayType(DoubleType)) -> Seq(
      Seq(Seq(0.5, -1.0, 2.0, 4.0), Seq(1.0, 0.0, -1.0, 2.0, 0.5, 0.5, 3.0, -3.0))))
  private val constrained = Map("pq_encode" -> pqCases, "pq_dist_table" -> pqCases)

  private def casesOf(k: Kernel): Seq[(Seq[DataType], Seq[Seq[Any]])] =
    constrained.getOrElse(k.name, {
      val combos = (1 to k.signature.arity).foldLeft(Seq(Seq.empty[DataType])) {
        (acc, _) => for (a <- acc; t <- pool) yield a :+ t }
      combos.filter(k.signature.accepts).map(ts => ts -> typicalRows(ts))
    })

  private def intArg(p: IntParam): Int =
    math.min(p.max, math.max(p.min, p.sqlDefault.getOrElse(2)))

  private def frame(types: Seq[DataType], rows: Seq[Seq[Any]]): DataFrame = {
    val schema = StructType(types.zipWithIndex.map { case (t, i) =>
      StructField(s"i$i", t, nullable = true) })
    spark.createDataFrame(sc.parallelize(rows.map(Row.fromSeq), 2), schema)
  }

  private def call(k: Kernel, df: DataFrame): Column =
    k(df.columns.toSeq.map(col), k.ints.map(intArg): _*)

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("bytes[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case other => other.toString
  }

  private def rootCause(e: Throwable): Throwable =
    Option(e.getCause).filter(_ ne e).map(rootCause).getOrElse(e)

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The rendered rows, or the root-cause class when the job fails;
    * a successful run must plan the kernel's StaticInvoke, inside a
    * whole-stage span exactly when `codegen`. */
  private def outcome(k: Kernel, df: DataFrame,
      codegen: Boolean): Either[String, Seq[String]] = {
    var out: Either[String, Seq[String]] = null
    withConf("spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" ->
          (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
      val q = df.select(call(k, df).as("r"))
      out = Try(q.collect().toSeq.map(r => render(r.get(0)))) match {
        case Success(rows) =>
          val plan = q.queryExecution.executedPlan
          assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) === codegen)
          assert(plan.exists(_.expressions.exists(_.exists {
            case s: StaticInvoke =>
              s.staticObject == k.kernelClass && s.functionName == k.method
            case _ => false
          })), s"${k.name} is not bound to ${k.method} in\n$plan")
          Right(rows)
        case Failure(e) => Left(rootCause(e).getClass.getName)
      }
    }
    out
  }

  Kernels.all.foreach { k =>
    test(s"${k.name}: codegen and interpreted paths agree on null, empty and typical inputs") {
      val cases = casesOf(k)
      assert(cases.nonEmpty, s"no pool type combination is accepted by ${k.name}")
      cases.foreach { case (types, typical) =>
        val nulls = Seq.fill(types.length)(null) +:
          types.indices.map(i => typical.head.updated(i, null))
        Seq("null" -> nulls, "empty" -> Seq(types.map(emptyOf)),
            "typical" -> typical).foreach { case (label, rows) =>
          val df = frame(types, rows)
          val gen = outcome(k, df, codegen = true)
          val interp = outcome(k, df, codegen = false)
          val what = s"${k.name} ${types.map(_.catalogString).mkString("(", ", ", ")")} $label"
          assert(gen === interp, what)
          if (label != "empty") assert(gen.isRight, s"$what failed: $gen")
        }
      }
      // two builds of one column are the same plan: Staging and
      // CacheManager reuse compare analyzed plans by sameResult
      val df = frame(cases.head._1, cases.head._2)
      assert(df.select(call(k, df)).queryExecution.analyzed.sameResult(
        df.select(call(k, df)).queryExecution.analyzed))
    }

    test(s"${k.name}: a wrong input type fails analysis with the declared message") {
      val types = Seq.fill(k.signature.arity)(BooleanType)
      val TypeCheckResult.TypeCheckFailure(msg) = k.check(types)
      val df = spark.range(1).select(
        types.indices.map(i => lit(i % 2 == 0).as(s"i$i")): _*)
      val e = intercept[AnalysisException](df.select(call(k, df)))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("type-check failures keep the per-kernel wording") {
    val unaryWords = Seq("minhash_sig", "simhash60", "feature_hash",
      "shingle_hashes", "shingles", "span_hashes", "repetition_stats")
      .map(n => n -> s"$n needs array<string>, got boolean")
    val unaryString = Seq("sci_parse", "date_shape", "decimal_exponent",
      "first_number").map(n => n -> s"$n needs string, got boolean")
    val expected = (unaryWords ++ unaryString ++ Seq(
      "bleu_clip" -> "bleu_clip needs (array<string>, array<string>), got (boolean, boolean)",
      "dsir_score" -> "dsir_score needs (array<string>, array<bigint>), got (boolean, boolean)",
      "dot_product" -> "dot_product needs array<float|double> operands, got boolean and boolean",
      "int8_quantize" -> "int8_quantize needs array<float|double>, got boolean",
      "int8_dot" -> "int8_dot needs array<byte> operands, got boolean and boolean",
      "pq_encode" -> "pq_encode needs (array<float|double>, array<double>)",
      "pq_dist_table" -> "pq_dist_table needs (array<float|double>, array<double>)",
      "pq_adc" -> "pq_adc needs (array<byte>, array<double>)",
      "might_contain" -> "might_contain needs (binary bloom, bigint key)",
      "geohash" -> "geohash needs (double lat, double lon)",
      "jaro_winkler" -> "jaro_winkler needs (string, string)")).toMap
    expected.foreach { case (name, msg) =>
      val k = Kernels.all.find(_.name == name).get
      assert(k.check(Seq.fill(k.signature.arity)(BooleanType)) ===
        TypeCheckResult.TypeCheckFailure(msg))
    }
  }
}
