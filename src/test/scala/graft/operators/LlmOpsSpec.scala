package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    val base = "spark shuffles data across partitions during wide transformations " +
      "and joins while narrow transformations stay pipelined in one stage"
    Seq(
      (1L, base),
      (2L, base.replace("joins", "unions")),          // near-dup of 1
      (3L, "completely different content about birds nesting in spring gardens " +
           "with flowers blooming and insects buzzing around the pond"),
      (4L, base),                                      // exact dup of 1
    ).toDF("doc_id", "text")
  }

  /** The (doc_id, h) distinct 3-shingle hash table of a docs frame. */
  private def shingles3(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(graft.functions.NativeText.shingleHashes(
      split(col("text"), " "), 3)).as("h"))

  private def jaccardPairs(d: DataFrame, threshold: Double): DataFrame = {
    val sh = shingles3(d)
    TextDedup.jaccardSelfJoinFromShingles(sh, "doc_id", threshold,
      TextDedup.rankedShingles(sh, "doc_id"))
  }

  test("shingles: distinct 3-grams, per-row") {
    val s = spark
    import s.implicits._
    val r = Seq(Tuple1("a b c d")).toDF("t")
      .select(TextDedup.shingles(col("t"), 3)).collect()(0).getSeq[String](0)
    assert(r === Seq("a b c", "b c d"))
    val short = Seq(Tuple1("a b")).toDF("t")
      .select(TextDedup.shingles(col("t"), 3)).collect()(0).getSeq[String](0)
    assert(short === Seq())
  }

  test("minhash LSH finds the near-dup and exact-dup pairs, not the unrelated doc") {
    val pairs = TextDedup.minhashNearDups(docs, "doc_id", "text", 3, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("incrementalNearDups == batch pairs restricted to delta-touching " +
      "pairs; base×base pairs are never emitted") {
    val base = docs.filter(col("doc_id") =!= 2L)        // 1, 3, 4
    val delta = docs.filter(col("doc_id") === 2L)       // the near-dup
    val baseSigs = base.select(col("doc_id"),
        graft.functions.NativeText.minhashSig(
          split(col("text"), " "), 3).as("sig"))
      .where(size(col("sig")) > 0)
    val incr = TextDedup.incrementalNearDups(base, baseSigs, delta,
        "doc_id", "text", 3, 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch over the full corpus finds (1,2),(1,4),(2,4); the delta
    // batch must find exactly the delta-touching subset — and (1,4),
    // the base-internal pair, must NOT re-appear
    assert(incr === Set((1L, 2L), (2L, 4L)))
  }

  test("incrementalCosineNearDups finds delta-touching pairs only; " +
      "base pairs never re-form; delta-delta emitted once") {
    val s = spark
    import s.implicits._
    val v = Seq(1.0, 0.0, 0.0, 0.0)
    val w = Seq(0.0, 1.0, 0.0, 0.0)
    val base = Seq((1L, v), (2L, v), (3L, w)).toDF("id", "e")   // 1≅2 in base
    val delta = Seq((10L, v), (11L, v)).toDF("id", "e")         // both ≅ 1,2 and each other
    val cents = Seq((0L, v), (3L, w)).toDF("cid", "c")
    val got = Similarity.incrementalCosineNearDups(base, delta, cents, 0.9)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,2) is base-internal — found when base was built, NOT here;
    // (10,11) is the delta-internal pair, once, canonical order
    assert(got === Set((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (10L, 11L)))
  }

  test("jaccardSelfJoin finds exactly the true pairs at τ=0.4 over 3-shingles") {
    val pairs = jaccardPairs(docs, 0.4)
      .select("d1", "d2", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(pairs((1L, 4L)) === 1.0) // exact dup
    assert(pairs((1L, 2L)) === pairs((2L, 4L))) // 4 is a copy of 1
  }

  test("jaccardCandidates over a persisted shingle table derives it once " +
      "(both consumers read the cache); selfJoin pins only the pair list") {
    val s = spark
    // candidate generation on a persisted (id, h) table must feed BOTH
    // the document-frequency aggregate and the rank window from the
    // cache — the explode appears nowhere in the plan
    val sh = shingles3(docs).persist()
    try {
      sh.count()
      val qe = TextDedup.jaccardCandidatesFromRanked(
          TextDedup.rankedShingles(sh, "doc_id"), "doc_id", 0.4).queryExecution
      val plan = qe.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        "candidate generation must read the persisted shingle table")
      // the shingle-hash kernel may run only inside the cached relation,
      // whose plan is not a child of its InMemoryTableScan
      val rederived = qe.sparkPlan.collect {
        case p if p.expressions.exists(_.exists {
          case si: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke =>
            si.functionName == "shingleHashes"
          case _ => false
        }) => p
      }
      assert(rederived.isEmpty,
        "no consumer may re-derive the shingle explode:\n" + qe.sparkPlan)
    } finally sh.unpersist(true)
    // end-to-end: after materialization the only cache residue is the
    // candidate PAIR list's cut (small), registered with the session —
    // never the corpus × shingles table — and evicting the session
    // frees it
    graft.Staging.evictSession(s)
    val before = s.sparkContext.getPersistentRDDs.keySet
    jaccardPairs(docs, 0.4).collect()
    val residue = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(residue.size === 1,
      s"exactly the pinned pair-list cut may stay cached, found $residue")
    graft.Staging.evictSession(s)
    assert(s.sparkContext.getPersistentRDDs.keySet === before,
      "evicting the session must free the pair-list cut")
  }

  test("containmentSelfJoin catches the subset-dup Jaccard misses; " +
      "unrelated pairs stay out") {
    val s = spark
    import s.implicits._
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " " + (1 to 30).map(i => s"filler$i word$i").mkString(" ")
    val docs = Seq(
      (1L, small),                      // contained in 2 completely
      (2L, big),
      (3L, "totally different words here about other topics entirely"),
    ).toDF("doc_id", "text")
    // Jaccard is blind: |small 3-shingles| = 4, |big| = 64+, J ≈ 0.06
    val jac = jaccardPairs(docs, 0.5).collect()
    assert(jac.isEmpty)
    val sh = shingles3(docs)
    val cont = TextDedup.containmentSelfJoinFromShingles(sh, "doc_id", 0.8,
        TextDedup.rankedShingles(sh, "doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("containmentCandidates is an exact-recall superset, normalized d1<d2") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (10L, "a b c d e f g h"),
      (2L, "a b c d e f g h extra words beyond the small doc here now"),
      (3L, "unrelated text entirely different from everything else here"),
    ).toDF("doc_id", "text")
    val cands = TextDedup.containmentCandidatesFromRanked(
        TextDedup.rankedShingles(shingles3(docs), "doc_id"), "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the true pair (2,10) — smaller id first after normalization —
    // must be present even though the ids order opposite to the sizes
    assert(cands.contains((2L, 10L)))
    assert(cands.forall { case (a, b) => a < b })
  }

  test("duplicatedSpans finds cross-doc passages; hash twin agrees") {
    val s = spark
    import s.implicits._
    val boiler = "this license text is identical across otherwise unrelated docs"
    val corpus = Seq(
      (1L, s"alpha beta gamma delta $boiler epsilon zeta"),
      (2L, s"one two three four five six seven $boiler"),
      (3L, "totally unrelated content with no shared passage at all here"),
    ).toDF("doc_id", "text")
    val spans = TextDedup.duplicatedSpans(corpus, "doc_id", "text", 9)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exactly the 9-word windows fully inside the shared passage occur
    // in both docs; doc 3 contributes nothing
    assert(spans.nonEmpty)
    assert(spans(boiler) === 2L)
    assert(spans.values.forall(_ == 2L))
    assert(spans.keySet.forall(_.contains("license")))
    // the scale twin (hash-only shuffle) sees the same duplication
    // structure — same number of duplicated windows, same counts
    val hashed = TextDedup.duplicatedSpanHashes(corpus, "doc_id", "text", 9)
      .collect().map(r => r.getLong(1)).sorted
    assert(hashed === spans.values.toArray.sorted)
  }

  test("semDedupLabels: exact clone dies in its keeper's cell, " +
      "dissimilar vectors survive unlabeled") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // centroid sample (id % 2 == 0)
      (1L, Array(0.99f, 0.1f, 0.0f)),  // near-dup of 0 (cos ≈ 0.995)
      (2L, Array(0.0f, 1.0f, 0.0f)),   // centroid sample, own cell
      (3L, Array(0.0f, 0.0f, 1.0f)),   // dissimilar to everything
      (101L, Array(1.0f, 0.0f, 0.0f)), // exact clone of 0
    ).toDF("vec_id", "embedding")
    val centroids = vecs.toDF("cid", "c").where(col("cid") % 2 === 0)
    val labels = Similarity.semDedupLabels(vecs, centroids, 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0, 1, 101 share a cell and pairwise exceed 0.95 → one component
    // with canonical min id 0; 2 and 3 never pair → unlabeled
    assert(labels === Map(0L -> 0L, 1L -> 0L, 101L -> 0L))
    val survivors = Graph.dropDuplicates(vecs, "vec_id",
        Similarity.semDedupLabels(vecs, centroids, 0.95))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(0L, 2L, 3L))
  }

  test("semDedup hot-cell guard: default cap is invisible at test scale; " +
      "a tiny cap splits the cell but still dedups within shards") {
    val s = spark
    import s.implicits._
    // one hot cell: 20 exact clones of the centroid direction, plus a
    // second cell with a lone dissimilar vector
    val clones = (0L until 20L).map(i => (i, Array(1.0f, 0.0f, 0.0f)))
    val vecs = (clones :+ (100L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val centroids = Seq((0L, Array(1.0f, 0.0f, 0.0f)),
      (100L, Array(0.0f, 1.0f, 0.0f))).toDF("cid", "c")
    // cap far above the cell size: identical labels to an unbounded run
    // (the production default must not change results at honest scales)
    val unbounded = Similarity.semDedupLabels(vecs, centroids, 0.95,
        maxCellSize = Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val default = Similarity.semDedupLabels(vecs, centroids, 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(default === unbounded)
    assert(unbounded.keySet === (0L until 20L).toSet) // one 20-clone component
    assert(unbounded.values.toSet === Set(0L))
    // cap=5 splits the 20-clone cell into ⌈20/5⌉=4 id-hashed shards:
    // pair work per task is bounded, and by pigeonhole some shard holds
    // ≥2 clones, so within-shard dedup still fires. Every component must
    // remain a subset of the true clone set (no false links), and the
    // lone dissimilar vector must stay unlabeled.
    val capped = Similarity.semDedupLabels(vecs, centroids, 0.95,
        maxCellSize = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.nonEmpty)
    assert(capped.keySet.subsetOf((0L until 20L).toSet))
    assert(!capped.contains(100L))
    // labels stay canonical-min within each shard component
    capped.groupBy(_._2).foreach { case (canon, members) =>
      assert(members.keys.min === canon)
    }
  }

  test("shardCells bounds per-shard pair mass when one cell holds " +
      "~the whole corpus (the 100 TB hot-cell scenario)") {
    val s = spark
    import s.implicits._
    // 200 vectors, 199 of them quantizing to ONE cell (a boilerplate
    // cluster) — the degenerate shape where unsplit SemDeDup goes
    // quadratic in a single reducer
    val vecs = (0L until 199L).map(i => (i, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .unionByName(Seq((999L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding"))
    val cents = Seq((0L, Array(1.0f, 0.0f)), (999L, Array(0.0f, 1.0f)))
      .toDF("cid", "c")
    val sharded = Similarity.shardCells(
        Similarity.ivfAssign(vecs, cents), maxCellSize = 20)
      .groupBy(col("cell"), col("sub")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the hot cell splits into ceil(199/20) = 10 id-hashed shards
    val hot = sharded.filter(_._1 == 0L)
    assert(hot.map(_._2).distinct.length === 10)
    // pair mass is BOUNDED: the unsplit cell forms 199*198/2 = 19,701
    // pairs in one task; the id-hash split's per-shard pair sum must
    // sit near n*cap/2 (~2k) — assert an order-of-magnitude cut, loose
    // enough for hash imbalance, tight enough to catch a no-op split
    val pairMass = hot.map(t => t._3 * (t._3 - 1) / 2).sum
    assert(pairMass < 19701L / 4,
      s"per-shard pair mass $pairMass not bounded by the split")
    // the cold cell stays whole
    assert(sharded.filter(_._1 == 999L).map(_._3).sum === 1L)
  }

  test("ivfAssignHierarchical: two-level routing is deterministic — " +
      "every centroid self-assigns, identical vectors land together, " +
      "and semDedup clones still die under it") {
    val s = spark
    import s.implicits._
    // 9 well-separated centroids (g = 3, step = 3): axis-aligned
    // directions at distinct magnitudes so coarse groups are non-trivial
    val cents = (0L until 9L).map { i =>
      val v = Array.fill(3)(0.0f); v((i % 3).toInt) = 1.0f + i / 3
      (i, v)
    }.toDF("cid", "c")
    // each centroid fed back as a vector must land in its own cell:
    // its coarse route equals cgrp's route (same expression), and
    // within the group its self-distance 0 wins the argmin
    val self = Similarity.ivfAssignHierarchical(
        cents.toDF("vid", "v"), cents)
      .select("vid", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(self === (0L until 9L).map(i => i -> i).toMap)
    // identical vectors route identically at both layers — the
    // exact-clone guarantee semDedup's gate relies on
    val probe = Array(0.9f, 0.1f, 0.0f)
    val twins = Seq((100L, probe), (200L, probe)).toDF("vid", "v")
    val cells = Similarity.ivfAssignHierarchical(twins, cents)
      .select("cell").collect().map(_.getLong(0)).toSet
    assert(cells.size === 1)
    // end-to-end: semDedupLabels under the hierarchical quantizer
    // still links an exact clone to its original
    val corpus = Seq((1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 7.0f))).toDF("vec_id", "embedding")
    val labels = Similarity.semDedupLabels(corpus, cents, 0.95,
        assign = Similarity.ivfAssignHierarchical)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L))
  }

  test("ivf2TopK: probes search their own two-level cell — a planted " +
      "near-twin is rank 1, the probe never returns itself") {
    val s = spark
    import s.implicits._
    val cents = (0L until 9L).map { i =>
      val v = Array.fill(3)(0.0f); v((i % 3).toInt) = 1.0f + i / 3
      (i, v)
    }.toDF("cid", "c")
    // corpus: the 9 centroid directions as ids 0-8, plus a near-twin
    // of vector 4 (same direction, slightly scaled — cosine 1.0 with
    // it, lands in the same cell because argmin is scale-sensitive on
    // these well-separated directions)
    val corpus = (0L until 9L).map { i =>
      val v = Array.fill(3)(0.0f); v((i % 3).toInt) = 1.0f + i / 3
      (i, v)
    } :+ (40L, Array(0.0f, 2.03f, 0.0f))   // near-twin of centroid 4 (0,2,0)
    val assigned = Similarity.ivfAssignHierarchical(
      corpus.toDF("vid", "v"), cents)
    val top = Similarity.ivf2TopK(assigned, col("vid") === 4L, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(top.forall(_._1 == 4L))
    assert(top.forall(_._2 != 4L))            // self excluded
    assert(top.head === ((4L, 40L, 1)))       // the twin wins rank 1
  }

  test("spanHashes kernel matches the hash60 Column spec (parity fuzz)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Seq("a", "bb", "ccc", "wört", "東京", "", "x")
    val fuzz = (1 to 200).map(_ =>
      (0 to rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    val df = fuzz.map(Tuple1(_)).toDF("t")
      .select(split(col("t"), " ").as("_w"))
    for (k <- Seq(1, 3, 10)) {
      val rows = df.select(
        graft.functions.NativeText.spanHashes(col("_w"), k).as("kern"),
        HofText.spanHashesSpec(col("_w"), k).as("spec")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"k=$k row $r")
      }
    }
  }

  test("scrubDuplicatedSpans: keeper keeps the passage, others lose it, " +
      "unique docs untouched") {
    val s = spark
    import s.implicits._
    val boiler = "one two three four five six seven eight nine"  // 9 words
    val corpus = Seq(
      (1L, s"alpha $boiler omega"),
      (2L, s"start $boiler"),
      (5L, "an entirely distinct document with no shared passage inside it"),
    ).toDF("doc_id", "text")
    val out = TextDedup.scrubDuplicatedSpans(corpus, "doc_id", "text", 9)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 is the minimum id containing the shared window → keeper
    assert(out(1L) === s"alpha $boiler omega")
    // doc 2 loses exactly the covered words, keeps its own prefix
    assert(out(2L) === "start")
    // untouched doc passes through byte-identical
    assert(out(5L) === "an entirely distinct document with no shared passage inside it")
  }

  test("minhash exact-dup pair has jaccard exactly 1.0") {
    val j = TextDedup.minhashNearDups(docs, "doc_id", "text", 3, 0.5)
      .where(col("d1") === 1 && col("d2") === 4)
      .select("jaccard").collect()(0).getDouble(0)
    assert(j === 1.0)
  }

  test("simhash: identical docs have hamming 0; near-dups small; unrelated far") {
    val h = HofText.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(h(a) ^ h(b))
    assert(ham(1L, 4L) === 0)
    assert(ham(1L, 2L) <= 10)
    assert(ham(1L, 3L) > 10)
  }

  test("simhash banding guarantees recall for hamming <= bands-1") {
    // hamming(1,2) is small but nonzero; with default maxHamming=3 the
    // banded search must still surface (1,4) at hamming 0
    val found = TextDedup.simhashNearDups(docs, "doc_id", "text")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 4L)))
  }

  test("kmeansCentroids converges to cluster means, deterministic, keeps k") {
    val s = spark
    import s.implicits._
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.2f, 0.0f)),
      (2L, Array(0.0f, 0.2f)), (3L, Array(0.2f, 0.2f)),
      (4L, Array(10.0f, 10.0f)), (5L, Array(10.2f, 10.0f)),
      (6L, Array(10.0f, 10.2f)), (7L, Array(10.2f, 10.2f)),
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(pts, initMod = 4, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet === Set(0L, 4L))
    def close(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 }
    assert(close(cents(0L), Seq(0.1, 0.1)), s"got ${cents(0L)}")
    assert(close(cents(4L), Seq(10.1, 10.1)), s"got ${cents(4L)}")
    // determinism
    val again = Similarity.kmeansCentroids(pts, initMod = 4, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again === cents)
  }

  test("kmeansCentroids: plan depth constant and one-block residue at iters=10") {
    val s = spark
    import s.implicits._
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.2f, 0.0f)),
      (2L, Array(0.0f, 0.2f)), (3L, Array(0.2f, 0.2f)),
      (4L, Array(10.0f, 10.0f)), (5L, Array(10.2f, 10.0f)),
      (6L, Array(10.0f, 10.2f)), (7L, Array(10.2f, 10.2f)),
    ).toDF("vec_id", "embedding")
    val before = s.sparkContext.getPersistentRDDs.keySet
    val at10 = Similarity.kmeansCentroids(pts, initMod = 4, iters = 10)
    // per-sweep lineage cut: the returned plan is the last sweep's
    // checkpointed leaf, NOT a 10-deep nest of join+groupBy+transform —
    // its depth must match the iters=1 plan's, i.e. be iteration-free
    val depth10 = at10.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    val mid = Similarity.kmeansCentroids(pts, initMod = 4, iters = 1)
    val depth1 = mid.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    assert(depth10 === depth1, s"plan grew with iterations: $depth10 vs $depth1")
    // residue: each superseded sweep is released when its successor
    // materializes — only the two returned centroid tables stay pinned
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"only the returned centroid tables may stay cached, found $leaked")
    // ten sweeps still land on the true cluster means
    val cents = at10.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet === Set(0L, 4L))
    def close(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 }
    assert(close(cents(0L), Seq(0.1, 0.1)), s"got ${cents(0L)}")
    assert(close(cents(4L), Seq(10.1, 10.1)), s"got ${cents(4L)}")
  }

  test("brute-force top-k ranks by cosine, excludes self, tiebreaks by id") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
    val r = Similarity.bruteForceTopK(vecs, q, 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(r === Array((3L, 1), (1L, 2), (2L, 3)))
  }

  test("int8 quantization: floor(x+0.5) rounding, max maps to ±127, " +
      "zero vector to zeros; quantized dot is an exact long") {
    val s = spark
    import s.implicits._
    // scale = 2.0/127; -1.0/s = -63.5 → floor(-63.0) = -63 — the
    // negative half-point where Math.round (-63) and half-away (-64)
    // and floor(x+0.5) (-63) separate; the oracle replays floor(x+0.5)
    val rows = Seq(
      (0L, Array(2.0f, -1.0f, 0.5f)),
      (1L, Array(0.0f, 0.0f, 0.0f)),
    ).toDF("id", "e")
      .select(col("id"), graft.functions.NativeMath.int8Quantize(col("e")).as("q"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Byte](1) === Seq[Byte](127, -63, 32))
    assert(rows(1).getSeq[Byte](1) === Seq[Byte](0, 0, 0))
    val d = Seq((Seq[Byte](127, -63, 32), Seq[Byte](1, 2, -3)))
      .toDF("a", "b")
      .select(graft.functions.NativeMath.int8Dot(col("a"), col("b")))
      .collect()(0).getLong(0)
    assert(d === 127L * 1 - 63L * 2 - 32L * 3)
  }

  test("quantizedTopK: exact duplicate ranks first (scales cancel), " +
      "zero vectors never pair") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(0.5f, 0.1f)),
      (1L, Array(5.0f, 1.0f)),   // same direction, 10× magnitude
      (2L, Array(-0.1f, 1.0f)),
      (3L, Array(0.0f, 0.0f)),   // zero vector: must not appear at all
    ).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
    val r = Similarity.quantizedTopK(vecs, q, 3)
      .orderBy("rank").collect().map(x => (x.getLong(1), x.getInt(2)))
    assert(r === Array((1L, 1), (2L, 2)))
  }

  test("pq: codebook donors encode to their own codes; ADC ranks a " +
      "near-clone of the probe first") {
    val s = spark
    import s.implicits._
    // dim 4, m=2 subspaces of 2, k=2 codes; codebook = vectors 0 and 17
    // (codebookMod 17 → donors are ids 0 and 17, in id order)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (17L, Array(-1.0f, 0.0f, 0.0f, -1.0f)),
      (2L, Array(0.9f, 0.1f, 0.1f, 0.9f)),   // near vector 0
      (3L, Array(-0.9f, -0.1f, 0.0f, -1.1f)), // near vector 17
    ).toDF("vec_id", "embedding")
    val probe = vecs.filter(col("vec_id") === 0)
    val r = Similarity.pqTopK(vecs, probe, 3, codebookMod = 17,
        m = 2, numCodes = 2)
      .orderBy("rank").collect().map(x => (x.getLong(1), x.getInt(2)))
    // 2 shares probe's codes in both subspaces (ADC score = probe's own
    // cell distance, minimal); 17 and 3 land in the far cell
    assert(r.head._1 === 2L)
    assert(r.map(_._1).toSet === Set(2L, 17L, 3L))
    // encode check: each donor's nearest centroid is itself
    import graft.functions.NativeMath.pqEncode
    val flat = Array(1.0, 0.0, -1.0, 0.0, 0.0, 1.0, 0.0, -1.0)
    val codes = vecs.filter(col("vec_id").isin(0L, 17L))
      .select(col("vec_id"), pqEncode(col("embedding"), lit(flat), 2, 2).as("c"))
      .orderBy("vec_id").collect().map(_.getSeq[Byte](1))
    assert(codes(0) === Seq[Byte](0, 0))
    assert(codes(1) === Seq[Byte](1, 1))
  }

  test("featureHash kernel matches the hash60 Column formulation; " +
      "clones collide, repeated tokens accumulate") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha alpha"),
      (2L, "alpha beta gamma alpha alpha"), // exact clone → same vector
      (3L, "totally different words entirely"),
      (4L, ""),
    ).toDF("doc_id", "text")
    val dim = 16
    val kernel = docs.select(col("doc_id"),
        posexplode(graft.functions.NativeText.featureHash(
          split(col("text"), " "), dim)))
      .select(col("doc_id"), col("pos"), col("col").as("s"))
    // Column-formulation replay of the same bucket/sign derivation
    val h = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), TextDedup.hash60(col("w")).as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(dim)).as("pos"),
        when(shiftright(col("h"), 59) % 2 === 1, lit(1L))
          .otherwise(lit(-1L)).as("sgn"))
      .groupBy(col("doc_id"), col("pos")).agg(sum(col("sgn")).as("s"))
    val dense = docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(dim - 1))).as("pos"))
      .join(h, Seq("doc_id", "pos"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("s"), lit(0L)).as("s"))
    assert(kernel.except(dense).isEmpty && dense.except(kernel).isEmpty)
    val v = kernel.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("v"))
      .orderBy("doc_id").collect().map(_.getSeq[Any](1))
    assert(v(0) === v(1))    // clones share the vector
    assert(v(0) !== v(2))
  }

  test("lsh buckets: identical vectors share a bucket") {
    val s = spark
    import s.implicits._
    val ps = Similarity.planes(6, 2)
    val vecs = Seq((0L, Array(1.0f, 0.2f)), (1L, Array(1.0f, 0.2f)),
      (2L, Array(-1.0f, -0.2f))).toDF("vec_id", "embedding")
    val b = vecs.select(Similarity.bucket(col("embedding"), ps))
      .collect().map(_.getLong(0))
    assert(b(0) === b(1))
    assert(b(0) !== b(2)) // antipodal flips every plane sign
  }

  test("text stats expressions") {
    val s = spark
    import s.implicits._
    val df = Seq(Tuple1("the cat sat on the mat")).toDF("t")
    val r = df.select(
      TextStats.tokenCount(col("t")),
      TextStats.distinctTokenCount(col("t")),
      TextStats.avgTokenLen(col("t")),
      TextStats.stopwordRatio(col("t"), Seq("the", "on")),
    ).collect()(0)
    assert(r.getInt(0) === 6)
    assert(r.getInt(1) === 5)
    assert(r.getDouble(2) === 17.0 / 6.0)
    assert(r.getDouble(3) === 3.0 / 6.0)
  }

  test("quality flags fire on short / repetitive text") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("short doc", 1), ("a a a a a a a a a a a a a a a a a a a a b", 2),
    ).toDF("t", "id")
    val flags = df.orderBy("id")
      .select(array_join(TextStats.qualityFlags(col("t")), ","))
      .collect().map(_.getString(0))
    assert(flags(0) === "too_short")
    assert(flags(1) === "low_diversity")
  }

  test("langId picks the profile with most hits, 'und' when none") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("the cat is in the house and it is warm", 1),
      ("el perro es un animal que vive en la casa", 2),
      ("zzz qqq www", 3),
    ).toDF("t", "id")
    val langs = df.orderBy("id")
      .select(TextStats.langId(col("t"))).collect().map(_.getString(0))
    assert(langs === Array("en", "es", "und"))
  }

  test("ivfAssign quantizes to the nearest centroid with deterministic ties") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)),   // centroid A (0 % 2 == 0)
      (2L, Seq(10.0, 10.0)), // centroid B
      (1L, Seq(1.0, 1.0)),   // near A
      (3L, Seq(9.0, 9.0)),   // near B
      (5L, Seq(5.0, 5.0)),   // EQUIDISTANT -> smaller cid wins
    ).toDF("vec_id", "embedding")
    val centroids = vecs.toDF("cid", "c").where(col("cid") % 2 === 0)
    val cells = Similarity.ivfAssign(vecs, centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cells(1L) == 0L && cells(3L) == 2L)
    assert(cells(0L) == 0L && cells(2L) == 2L) // centroids map to themselves
    assert(cells(5L) == 0L, "equidistant tie must break to the smaller cid")
  }

  test("cosineNearDups finds identical vectors, skips dissimilar, bucket-joined") {
    val s = spark
    import s.implicits._
    val v1 = (0 until 8).map(i => (i + 1).toFloat)
    val v2 = v1.map(x => -x)             // cosine(v1, v2) = -1
    val v3 = (0 until 8).map(i => if (i % 2 == 0) 1f else -1f)
    val vecs = Seq((1L, v1), (2L, v1), (3L, v2), (4L, v3))
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDups(vecs, threshold = 0.9,
      numPlanes = 4, dim = 8).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(got.head.getDouble(2) === 1.0)
    // plan shape: bucket equi-join, no cartesian
    val plan = Similarity.cosineNearDups(vecs, 0.9, 4, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), "must not be all-pairs")
  }

  test("lsh hot buckets are capped: a degenerate all-identical cluster is bounded") {
    val s = spark
    import s.implicits._
    // 40 docs with IDENTICAL signatures -> every band is one 40-doc
    // bucket. Uncapped that is 780 pairs; with a cap below 40 the hot
    // buckets are dropped entirely and no pair survives.
    val sig = (0 until TextDedup.NumHashes).map(_.toLong)
    val sigs = (1 to 40).map(i => (i.toLong, sig)).toDF("id", "sig")
    val uncapped = TextDedup.lshCandidates(sigs, "id", maxBucketSize = 1000)
    assert(uncapped.count() === 40L * 39 / 2)
    val capped = TextDedup.lshCandidates(sigs, "id", maxBucketSize = 10)
    assert(capped.count() === 0)
    // honest small buckets are untouched by the cap
    val twoSigs = Seq((1L, sig), (2L, sig),
      (3L, sig.map(_ + 100))).toDF("id", "sig")
    assert(TextDedup.lshCandidates(twoSigs, "id", maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("bigramLmScore: fluent in-domain text outscores noise; short docs drop") {
    val sp = spark
    import sp.implicits._
    // a corpus dominated by one fluent pattern + one noise doc + one
    // 1-token doc (no bigrams -> excluded)
    val docs = (Seq.tabulate(8)(i => (i.toLong, "the cat sat on the mat")) ++
      Seq((100L, "zq xv qp wk jn bb"), (200L, "solo")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val rows = Corpus.bigramLmScore(docs, "doc_id", "w")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!rows.contains(200L))          // no bigrams
    assert(rows(0L)._1 === 5)             // 6 tokens -> 5 bigrams
    // every fluent doc shares one score; the noise doc scores lower
    assert(rows(0L)._2 === rows(7L)._2)
    assert(rows(100L)._2 < rows(0L)._2)
    // smoothing keeps unseen-context mass finite: scores are negative
    assert(rows(0L)._2 < 0.0)
  }

  test("nearestCentroidConfusion: separable classes classify perfectly; " +
      "a boundary vector goes to the nearer centroid by exact integers") {
    val s2 = spark
    import s2.implicits._
    // class A around (1, 0), class B around (0, 1), 2-dim
    val rows = Seq(
      (1L, "A", Seq(1.0f, 0.1f)), (2L, "A", Seq(0.9f, 0.0f)),
      (3L, "A", Seq(1.1f, -0.1f)),
      (11L, "B", Seq(0.0f, 1.0f)), (12L, "B", Seq(0.1f, 0.9f)),
      (13L, "B", Seq(-0.1f, 1.1f)),
      // a mislabeled point sitting in A's blob
      (21L, "B", Seq(1.0f, 0.0f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val conf = Similarity.nearestCentroidConfusion(df, "vec_id", "label",
        "embedding")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(conf(("A", "A")) === 3L)
    // B's centroid is dragged slightly by the mislabeled point, but
    // the point itself is still far closer to A's centroid
    assert(conf(("B", "A")) === 1L)
    assert(conf(("B", "B")) === 3L)
    assert(conf.values.sum === 7L)
  }

  test("nearestCentroidConfusion: deterministic under repartitioning " +
      "(exact integer distances, no float fold)") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 200).map { i =>
      val l = s"c${i % 4}"
      (i.toLong, l, (0 until 8).map(d =>
        (i % 4) * 0.3f + rnd.nextFloat() * 0.4f - 0.2f))
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.nearestCentroidConfusion(d, "vec_id", "label", "embedding")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
    assert(run(df.repartition(1)) === run(df.repartition(13)))
  }

  test("sortedNeighborPairs: finds prefix-adjacent near-dups, candidate " +
      "set bounded by rank distance, canonical pair order") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // near-dup of 1, adjacent
      (3L, "omega psi chi phi"),
      (9L, "alpha beta gamma delta epsilon") // exact dup of 1
    ).toDF("doc_id", "text")
    val pairs = TextDedup.sortedNeighborPairs(docs, "doc_id", "text",
        window = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys === Set((1L, 2L), (1L, 9L), (2L, 9L)))
    assert(pairs.forall(p => p._1 < p._2))
    val exact = pairs.find(p => (p._1, p._2) == ((1L, 9L))).get
    assert(exact._3 === 1.0)
    // jaccard(1,2) = 4 shared / 6 union
    val near = pairs.find(p => (p._1, p._2) == ((1L, 2L))).get
    assert(math.abs(near._3 - 4.0 / 6) < 1e-6)
  }

  test("sortedNeighborPairs: window bounds candidates — a near-dup more " +
      "than w ranks away is missed (the documented SNM recall trade)") {
    val s2 = spark
    import s2.implicits._
    // 1 and its dup 9 sort adjacent... separated by 3 'aaa…' middle
    // docs that sort between them is impossible with equal prefixes,
    // so separate by prefix: 1=aaa…, middles=aab…, dup shares aaa
    val docs = Seq(
      (1L, "aaa shared words one two three"),
      (5L, "aab filler one only"), (6L, "aab other two body"),
      (7L, "aab third thing xyz"),
      (9L, "aaz shared words one two three")  // similar but ranks 4 away
    ).toDF("doc_id", "text")
    val w1 = TextDedup.sortedNeighborPairs(docs, "doc_id", "text", 1, 0.5)
      .count()
    val w4 = TextDedup.sortedNeighborPairs(docs, "doc_id", "text", 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w1 === 0L)           // adjacent-only misses it
    assert(w4 === Set((1L, 9L))) // a 4-window reaches it
  }

  test("sortedNeighborPairs: matches a brute-force rank-window sweep on " +
      "random corpora") {
    val s2 = spark
    import s2.implicits._
    for (seed <- Seq(3, 19)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("data", "table", "spark", "query", "scan",
        "merge", "row", "batch")
      val docs = (1 to 80).map(i => (i.toLong,
        (1 to rnd.nextInt(6) + 3).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")))
      val got = TextDedup.sortedNeighborPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          window = 4, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
      // brute: rank by (prefix16, id), all pairs within 4 ranks,
      // exact jaccard, round 6
      val ranked = docs.sortBy { case (id, t) => (t.take(16), id) }
      val brute = (for {
        i <- ranked.indices; d <- 1 to 4 if i + d < ranked.size
        (ia, ta) = ranked(i); (ib, tb) = ranked(i + d)
        wa = ta.split(" ").toSet; wb = tb.split(" ").toSet
        j = wa.intersect(wb).size.toDouble / wa.union(wb).size
        j6 = BigDecimal(j).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        if j6 >= 0.5
      } yield (math.min(ia, ib), math.max(ia, ib), j6)).toSet
      assert(got === brute, s"seed $seed")
    }
  }

  test("sortedNeighborPairs: a skewed leading prefix (every doc opens " +
      "with the same words) still range-buckets into balanced windows " +
      "— boundaries split mid-tie on the id — and the pair set still " +
      "matches brute force") {
    val s2 = spark
    import s2.implicits._
    // all 240 docs share the FULL 16-char sort key prefix: the old
    // first-char bucketing would put 100% of the corpus in one
    // window partition's sort
    val docs = (1 to 240).map(i =>
      (i.toLong, s"the quick brown doc w${i % 7} body number ${i % 5}"))
    val df = docs.toDF("doc_id", "text")
    val keyed = TextDedup.snmKeyed(df, "doc_id", "text",
      keyLen = 16, numBuckets = 8)
    val sizes = keyed.groupBy("_b").count()
      .collect().map(_.getLong(1))
    assert(sizes.length >= 6,
      s"shared-prefix corpus must still split (got ${sizes.length} buckets)")
    assert(sizes.max <= 3L * (240 / 8),
      s"no bucket may absorb the skewed mass: ${sizes.mkString(",")}")
    val got = TextDedup.sortedNeighborPairs(df, "doc_id", "text",
        window = 3, threshold = 0.5, numBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ranked = docs.sortBy { case (id, t) => (t.take(16), id) }
    val brute = (for {
      i <- ranked.indices; d <- 1 to 3 if i + d < ranked.size
      (ia, ta) = ranked(i); (ib, tb) = ranked(i + d)
      wa = ta.split(" ").toSet; wb = tb.split(" ").toSet
      j = wa.intersect(wb).size.toDouble / wa.union(wb).size
      j6 = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      if j6 >= 0.5
    } yield (math.min(ia, ib), math.max(ia, ib), j6)).toSet
    assert(got === brute)
  }

  test("sortedNeighborPairs: two-level rank is partition-layout " +
      "independent") {
    val s2 = spark
    import s2.implicits._
    val docs = (1 to 60).map(i =>
      (i.toLong, s"w${i % 7} common text body number ${i % 5}"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextDedup.sortedNeighborPairs(d, "doc_id", "text", 5, 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(docs.repartition(1)) === run(docs.repartition(11)))
  }

  test("randomProject: deterministic seeded sign matrix, zero maps to " +
      "zero, and squared norms are preserved in expectation (JL)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 200L).map { i =>
      i -> Array.fill(64)((rnd.nextGaussian() * (1 + i % 3)).toFloat)
    }
    val df = (vecs :+ (999L -> Array.fill(64)(0f))).toDF("vec_id", "embedding")
    def proj(seed: String) = Similarity.randomProject(
        df, "vec_id", "embedding", 64, 16, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val a = proj("s1")
    // deterministic: identical on re-run; seed-sensitive: differs
    assert(proj("s1") === a)
    assert(proj("s2") !== a)
    // shape: 16 coordinates per vector
    assert(a.size === (vecs.size + 1) * 16)
    // zero vector projects to exactly zero
    (0L until 16L).foreach(j => assert(a((999L, j)) === 0.0))
    // E[||y||^2] = ||x||^2 for JL sign projections: the MEAN ratio over
    // 200 vectors concentrates near 1 (per-vector variance ~2/16)
    val ratios = vecs.map { case (id, x) =>
      val y2 = (0L until 16L).map(j => a((id, j))).map(v => v * v).sum
      val x2 = x.map(v => v.toDouble * v).sum
      y2 / x2
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.85 && mean < 1.15, s"mean norm ratio $mean")
  }

  test("projectedRerankTopK: two-stage retrieval returns k ranked rows " +
      "per query and a strong planted neighbor survives the projected " +
      "shortlist at rank 1 (the JL guarantee that matters)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    def gauss() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (100L until 300L).map(i => i -> gauss())
    // 10 queries, each with a PLANTED near neighbor (cosine ~0.97):
    // JL distortion at 16 dims (~0.25) cannot close a 0.97-vs-noise
    // gap, so the twin must survive any reasonable shortlist
    val queries = (0L until 10L).map(i => i -> gauss())
    val twins = queries.map { case (i, x) =>
      val n = gauss()
      (i + 1000L) -> x.zip(n).map { case (a, b) => a + 0.15f * b }
    }
    val corpus = (base ++ queries ++ twins).toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 10)
    val got = Similarity.projectedRerankTopK(corpus, qs, k = 5, m = 20,
        dim = 64, outDim = 16, seed = "rp15")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq === Seq(1, 2, 3, 4, 5), s"qid $q")
    }
    (0L until 10L).foreach { q =>
      assert(got.contains((q, q + 1000L, 1)),
        s"query $q must recover its planted twin at rank 1")
    }
    // and the two-stage result agrees with exact brute force on the
    // twin rows by construction (rank-1 identity above); aggregate
    // recall on the RANDOM tail is JL-bounded, so it is reported, not
    // asserted hard — only a collapse floor
    val exact = Similarity.bruteForceTopK(corpus, qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.map(t => (t._1, t._2)).count(exact.contains).toDouble /
      exact.size
    assert(recall >= 0.3, s"recall@5 collapsed to $recall")
  }

  test("hardNegatives: off-label near-misses ranked by similarity; " +
      "same-label vectors and >= dupCos near-copies are excluded") {
    val s = spark
    import s.implicits._
    // anchor 1: (1,0) label 0. Corpus: 2 = near-copy with WRONG label
    // (sim ~0.9999995 — the dup guard case), 3 = the true hard negative
    // (sim ~0.914), 4 = same-label close vector (label filter case),
    // 5 = easy negative (sim 0)
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.001f), 1),
      (3L, Seq(0.9f, 0.4f), 1),
      (4L, Seq(0.8f, 0.6f), 0),
      (5L, Seq(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val anchors = corpus.where($"vec_id" === 1)
    val got = Similarity.hardNegatives(corpus, anchors, k = 5,
        dupCos = 0.95)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((3L, 1), (5L, 2)))
  }

  test("bitextMine: the planted aligned pair is mined mutual-best with " +
      "margin above threshold; every side appears at most once") {
    val s = spark
    import s.implicits._
    val xs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.7f, 0.714f))).toDF("vec_id", "embedding")
    val ys = Seq(
      (11L, Seq(0.995f, 0.1f)),  // aligned with x1
      (12L, Seq(0.0f, 1.0f)),
      (13L, Seq(-1.0f, 0.0f)),
      (14L, Seq(0.0f, -1.0f)),
      (15L, Seq(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val mined = Similarity.bitextMine(xs, ys, k = 2, threshold = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byX = mined.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byX.contains(1L) && byX(1L)._1 === 11L)
    assert(byX(1L)._2 > 0.05)
    // the anti-aligned side (13, 14) never mines: the distance margin
    // stays negative there — the ratio form's zero-crossing pathology
    // this operator deliberately avoids
    assert(!mined.map(_._2).contains(13L) && !mined.map(_._2).contains(14L))
    // mutual-best is one-to-one: no xid or yid repeats
    assert(mined.map(_._1).distinct.length === mined.length)
    assert(mined.map(_._2).distinct.length === mined.length)
  }
}
