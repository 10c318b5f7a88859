package graft.operators

import graft.SparkSpec
import graft.functions.{Bloom, BloomKernel}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class BloomSpec extends SparkSpec {

  test("kernel: no false negatives, fp rate in the expected band") {
    val numBits = 1 << 16
    val numHashes = 5
    val words = new Array[Long](numBits / 64)
    val keys = (1L to 4000L).map(_ * 2654435761L)
    keys.foreach(k => BloomKernel.set(words, numBits, k, numHashes))
    val bytes = BloomKernel.toBytes(words)
    assert(keys.forall(k => BloomKernel.contains(bytes, k, numHashes)),
      "a Bloom filter can never miss an inserted key")
    // 4000 keys in 65536 bits at 5 hashes: theoretical fp ≈ 0.22% —
    // assert an order-of-magnitude band, not the exact constant
    val probes = (1L to 20000L).map(i => -i * 0x9e3779b97f4a7c15L)
    val fp = probes.count(k => BloomKernel.contains(bytes, k, numHashes))
    assert(fp < 200, s"fp=$fp of 20000 — filter is saturated or broken")
  }

  test("filter bytes are identical under any partitioning (OR-mergeable)") {
    val s = spark
    import s.implicits._
    val keys = (1L to 5000L).toDF("k")
    def bytesOf(parts: Int): Seq[Byte] =
      keys.repartition(parts)
        .agg(Bloom.bloomBuild(col("k"), 1 << 14, 5).as("b"))
        .head().getAs[Array[Byte]](0).toSeq
    assert(bytesOf(1) === bytesOf(7))
  }

  test("bloomSemiJoin exact mode equals the plain semi-join") {
    val s = spark
    import s.implicits._
    val big = (1L to 20000L).map(i => (i, s"p$i")).toDF("id", "payload")
    val dim = (1L to 20000L by 37).toDF("key")
    val plain = big.join(dim.select(col("key").as("id")), Seq("id"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    // a deliberately tiny filter (512 bits for 541 keys) guarantees
    // false positives reach the verify join — exactness must survive
    val got = Skew.bloomSemiJoin(big, dim, "id", "key",
        numBits = 512, numHashes = 3)
      .collect().map(_.getLong(0)).toSet
    assert(got === plain)
  }

  test("bloomSemiJoin approximate mode is a superset with bounded excess") {
    val s = spark
    import s.implicits._
    val big = (1L to 20000L).map(i => (i, s"p$i")).toDF("id", "payload")
    val dim = (1L to 20000L by 37).toDF("key")
    val truth = big.join(dim.select(col("key").as("id")), Seq("id"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    val approx = Skew.bloomSemiJoin(big, dim, "id", "key",
        numBits = 1 << 16, numHashes = 5, exact = false)
      .collect().map(_.getLong(0)).toSet
    assert(truth.subsetOf(approx), "no false negatives ever")
    assert(approx.size - truth.size < 200,
      s"excess=${approx.size - truth.size} — fp rate far above design point")
  }

  test("plan: the might_contain probe filters the big side below its Exchange") {
    val s = spark
    import s.implicits._
    val big = (1L to 2000L).map(i => (i, s"p$i")).toDF("id", "payload")
    val dim = (1L to 2000L by 13).toDF("key")
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      // force the verify join to shuffle so "below the Exchange" is testable
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the executed plan of a non-adaptive query carries its exchanges
      // as plain tree nodes (the adaptive wrapper hides them from
      // collect(), and the pre-preparation sparkPlan has none yet)
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val df = Skew.bloomSemiJoin(big, dim, "id", "key",
        numBits = 1 << 14, numHashes = 5)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        s"the verify join did not shuffle:\n$plan")
      // the probe binds to BloomKernel.contains (Kernels.mightContain)
      val probeFilters = plan.collect {
        case f: FilterExec if f.condition.exists {
          case si: StaticInvoke => si.functionName == "contains" &&
            si.staticObject == BloomKernel.getClass
          case _ => false
        } => f
      }
      assert(probeFilters.nonEmpty, s"no might_contain Filter in\n$plan")
      assert(probeFilters.forall(f =>
        f.collect { case e: ShuffleExchangeExec => e }.isEmpty),
        "the probe must run before the big side's shuffle, not after")
      // the probe is a scan-stage Filter fed by a scalar subquery, not a
      // join Catalyst can lift above the verify semi-join (the r11 bug
      // this pin caught): no nested-loop join may appear anywhere
      assert(!plan.toString.contains("BroadcastNestedLoopJoin"), plan.toString)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
