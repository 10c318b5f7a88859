package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Replays the committed identify differential vectors (reference
  * identifyRecord outputs over structured-random flat records —
  * tools/gen_identify_differential.py) through Identify.candidates.
  * The vector set pins the reference's BOM-only bad_char_re and
  * Python-strip whitespace semantics: 679 of the 2,000-vector pool's
  * expected ids retain control characters a Java-\s munge would have
  * dropped. The full ordered (field, id) candidate list of every record
  * must match. */
class IdentifyDifferentialSpec extends SparkSpec {

  private val vectorSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("type", StringType),
    StructField("rsid", StringType),
    StructField("data", MapType(StringType, StringType)),
    StructField("exp", ArrayType(ArrayType(StringType)))))

  test("candidates agree with 500 recorded identifyRecord runs") {
    replay("/identify_vectors.jsonl")
  }

  test("candidates agree with a second unseen-seed batch of 500") {
    replay("/identify_vectors2.jsonl")
  }

  test("candidates agree with a third unseen-seed batch of 500 " +
      "(seed 8888, added round 12 — passed on its first run)") {
    replay("/identify_vectors3.jsonl")
  }

  private def replay(resource: String): Unit = {
    val url = getClass.getResource(resource)
    val tmp = java.io.File.createTempFile("identvec", ".jsonl")
    tmp.deleteOnExit()
    val src = scala.io.Source.fromURL(url)(scala.io.Codec.UTF8)
    try {
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try src.getLines().foreach(w.println) finally w.close()
    } finally src.close()
    val vecs = spark.read.schema(vectorSchema)
      .json(tmp.getAbsolutePath)
    assert(vecs.count() === 500)
    val types = vecs.select(col("type")).distinct().collect().map(_.getString(0))
    types.foreach { t =>
      val bad = vecs.filter(col("type") === t)
        .select(col("id"), col("exp"),
          transform(Identify.candidates(col("data"), t, col("rsid")),
            s => array(s.getField("field"), s.getField("id"))).as("got"))
        .filter(not(col("exp") <=> col("got")))
        .collect()
      assert(bad.isEmpty, s"type=$t: " + bad.take(3).mkString("; "))
    }
  }
}
