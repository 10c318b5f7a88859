package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape pins for the composed pipeline (q_pipeline): the
  * properties that keep the chain scale-safe at 100 TB, asserted so a
  * refactor of any single stage can't silently regress the seams.
  * Correctness of the composition itself is the driver gate
  * (PipelineQueries.qPipelineSql replays the whole chain). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def fullPlan = PipelineQueries.qPipeline(spark, sfDir)
    .queryExecution.executedPlan.toString

  test("quality-filter stage: one scan, zero shuffle, no UDF") {
    val docs = Seq((1L, "a b c", "en", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val p = LlmQueries.qualitySurvivors(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "stage 1 must not shuffle:\n" + p)
    assert(!p.toLowerCase.contains("scalaudf"), "stage 1 must be kernel-only")
  }

  test("composed plan: no cartesian/nested-loop join anywhere in the chain") {
    val p = fullPlan
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("composed plan: the only unpartitioned window is the pack stage " +
      "over the budget-bounded sample") {
    // windowspecdefinition(<partition cols...>, <order>...) — the pack
    // window's spec starts directly with the order column (no partition
    // keys); the token-budget window partitions by source. Exactly one
    // unpartitioned window may appear, and it must consume the sample
    // (its child subtree contains the budget filter's cumsum predicate),
    // not the corpus.
    val p = fullPlan
    val specs = raw"windowspecdefinition\(([^)]*)\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specs.nonEmpty, "expected window operators in the plan:\n" + p)
    val unpartitioned = specs.filter { s =>
      // partitioned specs list partition columns before the first
      // "<col> ASC/DESC" ordering term; the pack window's first token
      // IS the ordering column doc_id
      s.trim.startsWith("doc_id#")
    }
    assert(unpartitioned.size == 1,
      s"exactly one unpartitioned (pack) window expected, got $specs\n" + p)
    // every OTHER window partitions by something (source for the budget)
    assert(specs.exists(_.trim.startsWith("source#")),
      "token-budget window must partition by source:\n" + p)
  }

  test("composed plan: decontamination's benchmark side broadcasts and " +
      "the kill/flag sets anti-join (corpus never hash-joins itself)") {
    val p = fullPlan
    assert(p.contains("BroadcastHashJoin"),
      "bench shingle join must broadcast:\n" + p)
    assert(p.contains("LeftAnti"),
      "dedup/decontaminate apply must be anti-joins:\n" + p)
  }

  test("composed semantics: pipeline output equals composing the gated " +
      "stage operators by hand (seam-equality, sf0.001)") {
    // re-compose the chain from the same public operators but through
    // independent code, and require row equality — a drifted seam (e.g.
    // a stage silently reading the base table instead of its
    // predecessor) breaks this before the oracle gate even runs
    val docs = graft.Tables.documents(spark, sfDir)
    val corpus0 = docs.where(col("doc_id") % 50 =!= 0)
    val bench = docs.where(col("doc_id") % 50 === 0)
    val qdocs = LlmQueries.qualitySurvivors(corpus0)
    val pairs = graft.operators.TextDedup.minhashNearDups(
      qdocs, "doc_id", "text", 3, 0.5)
    val labels = graft.operators.Graph.connectedComponents(pairs, "d1", "d2")
    val deduped = graft.operators.Graph.keepBest(qdocs, "doc_id", labels, "n_chars")
    val flagged = graft.operators.Corpus.decontaminate(deduped, bench,
      "doc_id", "text")
    val clean = deduped.join(flagged.select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
    val sampled = graft.operators.Corpus.tokenBudgetSample(clean,
      "source", "doc_id", "n_chars", 5000L, "r14")
    val expected = graft.operators.Corpus.packChunks(sampled, "doc_id",
        "n_tokens", 1024)
      .select("doc_id", "source", "lang_pred", "n_tokens", "n_chars",
        "first_chunk", "last_chunk", "chunk_offset")
      .orderBy("doc_id").collect().toSeq
    val got = PipelineQueries.qPipeline(spark, sfDir).collect().toSeq
    assert(got.nonEmpty, "pipeline must keep documents at sf0.001")
    assert(got === expected)
  }

  test("staging: q_pipeline and q_pipeline_incr read the SAME staged " +
      "prefix tables (one build per session+dir), and the staged sig " +
      "table equals what the self-computing operator derives") {
    graft.Staging.evict(spark, s"pipeline:qdocs:$sfDir")
    graft.Staging.evict(spark, s"pipeline:sigs:$sfDir")
    val q1 = PipelineQueries.stagedQdocs(spark, sfDir)
    val s1 = PipelineQueries.stagedSigs(spark, sfDir)
    // both queries must resolve to the identical persisted frames
    assert(PipelineQueries.stagedQdocs(spark, sfDir) eq q1)
    assert(PipelineQueries.stagedSigs(spark, sfDir) eq s1)
    assert(graft.Staging.stagedKeys(spark)
      .intersect(Set(s"pipeline:qdocs:$sfDir", s"pipeline:sigs:$sfDir"))
      .size == 2)
    // the seam that matters, pinned END TO END: near-dups computed
    // FROM the staged signature table must equal the self-computing
    // operator's output row-for-row — id-set coverage alone would let
    // a drifted signature derivation (shingle size, word split) pass
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9,
          BigDecimal.RoundingMode.HALF_UP))).toSet
    val viaStaged = pairSet(graft.operators.TextDedup
      .minhashNearDupsFromSigs(q1, s1, "doc_id", "text", 3, 0.5))
    val selfComputed = pairSet(graft.operators.TextDedup
      .minhashNearDups(q1, "doc_id", "text", 3, 0.5))
    assert(viaStaged.nonEmpty && viaStaged === selfComputed,
      "staged-signature near-dups must equal the self-computing operator")
  }

  test("incremental pipeline: the admitted increment equals what the " +
      "FULL batch near-dup pass (independent operator) restricted to " +
      "delta-touching pairs would admit") {
    val docs = graft.Tables.documents(spark, sfDir)
    val corpus0 = docs.where(col("doc_id") % 50 =!= 0)
    val bench = docs.where(col("doc_id") % 50 === 0)
    val qdocs = LlmQueries.qualitySurvivors(corpus0)
    // ground truth via the BATCH pair operator over all survivors
    val fullPairs = graft.operators.TextDedup.minhashNearDups(
        qdocs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val isDelta = (id: Long) => id % 5 == 0
    val baseMatched = fullPairs.collect {
      case (a, b) if isDelta(a) != isDelta(b) => if (isDelta(a)) a else b
    }
    // delta-internal CC by union-find, keep min id
    val dd = fullPairs.filter { case (a, b) => isDelta(a) && isDelta(b) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    dd.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ccKill = dd.flatMap { case (a, b) => Seq(a, b) }
      .filter(x => find(x) != x)
    val deltaIds = qdocs.where(col("doc_id") % 5 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val admittedPreDecon = deltaIds -- baseMatched -- ccKill
    val contaminated = graft.operators.Corpus.decontaminate(
        qdocs.where(col("doc_id").isin(admittedPreDecon.toSeq: _*)),
        bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = admittedPreDecon -- contaminated
    val got = PipelineQueries.qPipelineIncr(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty, "increment must be non-empty at sf0.001")
    assert(got === expected)
  }

  test("incremental pipeline: once the session is evicted, an " +
      "invocation leaves no pinned blocks behind") {
    graft.Staging.evictSession(spark)
    val before = sc.getPersistentRDDs.keySet
    PipelineQueries.qPipelineIncr(spark, sfDir).collect()
    graft.Staging.evictSession(spark)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"blocks pinned with no handle: " +
      leaked.map(id => sc.getPersistentRDDs(id).toDebugString.take(300)))
    assert(sc.getPersistentRDDs.keySet === before)
  }
}
