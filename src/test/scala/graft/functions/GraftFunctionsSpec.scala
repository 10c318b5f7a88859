package graft.functions

import graft.SparkSpec

/** The SQL surface of the native expressions must plan the exact same
  * Catalyst nodes the Column API uses. */
class GraftFunctionsSpec extends SparkSpec {

  test("registered SQL functions match the Column API results") {
    val s = spark
    import s.implicits._
    GraftFunctions.register(s)
    Seq(("a b c d e", Array(1.0f, 2.0f)), ("x y z w v", Array(0.5f, -1.0f)))
      .toDF("t", "v").createOrReplaceTempView("gf_docs")
    val sql = s.sql(
      """SELECT minhash_sig(split(t, ' '), 3) AS sig,
        |       simhash60(split(t, ' ')) AS sh,
        |       repetition_stats(split(t, ' ')).n_distinct AS nd,
        |       dot_product(v, v) AS dp
        |FROM gf_docs""".stripMargin).collect()
    val api = s.table("gf_docs").select(
        NativeText.minhashSig(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("t"), " "), 3).as("sig"),
        NativeText.simhash60(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("t"), " ")).as("sh"),
        NativeText.repetitionStats(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("t"), " "))
          .getField("n_distinct").as("nd"),
        NativeMath.dotProduct(org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("v")).as("dp"))
      .collect()
    assert(sql.map(_.toString).toSeq === api.map(_.toString).toSeq)
  }

  test("minhash_sig defaults the shingle size and rejects non-literal n") {
    val s = spark
    GraftFunctions.register(s)
    val r = s.sql("SELECT size(minhash_sig(split('a b c', ' '))) AS n")
      .collect()(0).getInt(0)
    assert(r === MinhashKernel.NumHashes)
    assertRejectsNonLiteral("minhash_sig(split(t, ' '), n)", "shingle size")
  }

  test("shingle_hashes / geohash / might_contain reject non-literal int parameters") {
    assertRejectsNonLiteral("shingle_hashes(split(t, ' '), n)", "shingle size")
    assertRejectsNonLiteral("geohash(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE), n)",
      "precision")
    assertRejectsNonLiteral("might_contain(CAST('ab' AS BINARY), CAST(7 AS BIGINT), n)",
      "numHashes")
  }

  /** `call` reads the int parameter from the column `n`, not a literal:
    * building the function must fail and name the parameter. */
  private def assertRejectsNonLiteral(call: String, what: String): Unit = {
    val s = spark
    GraftFunctions.register(s)
    val e = intercept[Exception] {
      s.sql(s"SELECT $call AS r FROM VALUES ('a b c', 2) AS v(t, n)").collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null &&
      m.contains(s"$what must be an integer literal")), msgs.mkString("\n"))
  }

  test("shingle_hashes / sci_parse / date_shape answer from SQL") {
    val s = spark
    GraftFunctions.register(s)
    val r = s.sql(
      """SELECT size(shingle_hashes(split('a b c d', ' '), 3)) AS ns,
        |       sci_parse('acer rubrum').genus AS g,
        |       date_shape('5-MAR-2001') AS sh""".stripMargin).collect()(0)
    assert(r.getInt(0) === 2)
    assert(r.getString(1) === "acer")
    assert(r.getInt(2) === 7)
  }

  test("geohash / might_contain / int8 kernels answer from SQL") {
    val s = spark
    GraftFunctions.register(s)
    val r = s.sql(
      """SELECT geohash(CAST(57.64911 AS DOUBLE), CAST(10.40744 AS DOUBLE), 11) AS gh,
        |       int8_dot(int8_quantize(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT))),
        |                int8_quantize(array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)))) AS d
        |""".stripMargin).collect()(0)
    assert(r.getString(0) === "u4pruydqqvj")
    // q([1,-2]) = [64,-127] (s=2/127); q([1,1]) = [127,127]; dot = 64*127 - 127*127
    assert(r.getLong(1) === 64L * 127 - 127L * 127)
    // bloom round-trip: Column-built filter probed from SQL
    val bloomed = s.range(1, 100)
      .agg(Bloom.bloomBuild(org.apache.spark.sql.functions.col("id"),
        1 << 12, 5).as("b"))
    bloomed.createOrReplaceTempView("bloom_t")
    val probes = s.sql(
      """SELECT might_contain(b, CAST(50 AS BIGINT), 5) AS yes,
        |       might_contain(b, CAST(1234567 AS BIGINT), 5) AS maybe
        |FROM bloom_t""".stripMargin).collect()(0)
    assert(probes.getBoolean(0) === true)
  }
}
